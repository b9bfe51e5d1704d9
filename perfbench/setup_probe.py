"""Cold set-up of the engine, timed by phase.

``cold_setup`` is the set-up every benchmark run pays: import the session
module, build the tuned SparkSession (``get_spark``, which launches the
JVM and applies ``tune_session``), import the query registry, and run one
first job. Run as a script it does exactly that in a fresh interpreter,
prints its timings as one JSON line and stops the session; ``run.py``
starts one such probe beside its own set-up, so ``setup_s`` is the
median of two cold set-ups made side by side.

Usage: python perfbench/setup_probe.py   (with the environment run.py pins)
"""

from __future__ import annotations

import json
import time

APP_NAME = "perfbench"
SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}


def cold_setup(t_start: float):
    """Returns (spark, {phase: seconds}); ``t_start`` is the
    ``perf_counter`` reading taken when the interpreter began, so the
    Python import of pyspark counts toward ``get_spark_s``."""
    from mr_spark.session import get_spark

    spark = get_spark(APP_NAME, extra_conf=SPARK_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter()

    from mr_spark import operators

    operators.queries()
    t_registry = time.perf_counter()

    spark.range(1000).selectExpr("sum(id)").collect()
    t_first = time.perf_counter()
    return spark, {
        "get_spark_s": t_session - t_start,
        "registry_s": t_registry - t_session,
        "first_job_s": t_first - t_registry,
        "total_s": t_first - t_start,
    }


def main() -> None:
    t0 = time.perf_counter()
    spark, timings = cold_setup(t0)
    spark.stop()
    print(json.dumps(timings))


if __name__ == "__main__":
    main()
