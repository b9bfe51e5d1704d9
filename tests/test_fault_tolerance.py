"""Fault-tolerance parity (SURVEY.md §2a R3-R5, M5): the reference's
5 s timeout-requeue + commit dedup maps to Spark's task-retry machinery.
The chaos test injects a first-attempt failure into every task of a Tier A
job and asserts the output still equals the sequential golden — the
test-mr.sh crash test's property, config not code.

Needs master local[8,4] (retries are disabled in plain local[8]), so it
runs in a subprocess with its own JVM.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

CHAOS_JOB = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from pyspark import TaskContext

spark = (
    SparkSession.builder.master("local[8,4]")  # 4 attempts per task
    .appName("chaos").config("spark.ui.enabled", "false").getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import pytest

from mr_spark.engine import get_app, run_mapreduce, run_sequential
from mr_spark.engine.sequential import to_text_lines

corpus = [(f"doc_{i}", f"alpha beta doc{i} gamma alpha") for i in range(20)]
app = get_app("wc")


class ChaosApp:
    # wc wrapped with crash-app-style fault injection: every task's first
    # attempt dies mid-map (app-crash/src/lib.rs:11-24 analog)
    def map(self, k, v):
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0:
            raise RuntimeError("injected first-attempt crash")
        return app.map(k, v)

    def reduce(self, k, vs):
        return app.reduce(k, vs)


got = sorted(f"{k} {v}" for k, v in run_mapreduce(spark, corpus, ChaosApp(), n_reduce=5).collect())
golden = to_text_lines(run_sequential(corpus, app))
assert got == golden, f"chaos output diverged: {got[:3]} vs {golden[:3]}"
print("CHAOS_OK", len(got))
"""


@pytest.mark.slow  # subprocess chaos run; run with -m ""
def test_output_survives_task_crashes():
    res = subprocess.run(
        [sys.executable, "-c", CHAOS_JOB],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "CHAOS_OK" in res.stdout, res.stderr[-3000:]


CHAOS_BATCHED_JOB = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from pyspark import TaskContext

spark = (
    SparkSession.builder.master("local[8,4]")  # 4 attempts per task
    .appName("chaos-batched").config("spark.ui.enabled", "false").getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from mr_spark.engine import get_app
from mr_spark.engine.mapreduce import run_on_documents_batched

SF = "/root/testdata/sf0.001"
app = get_app("wc")


class ChaosApp:
    # same injection as the RDD-path chaos job, but the crash fires inside
    # the Arrow map_phase task of the batched executor
    def map(self, k, v):
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0:
            raise RuntimeError("injected first-attempt crash")
        return app.map(k, v)

    def reduce(self, k, vs):
        return app.reduce(k, vs)


golden = sorted(f"{r['k']} {r['v']}" for r in run_on_documents_batched(spark, SF, app).collect())
got = sorted(f"{r['k']} {r['v']}" for r in run_on_documents_batched(spark, SF, ChaosApp()).collect())
assert got == golden, f"batched chaos output diverged: {got[:3]} vs {golden[:3]}"
assert golden, "empty golden output"
print("CHAOS_BATCHED_OK", len(got))
"""


@pytest.mark.slow  # subprocess chaos run; run with -m ""
def test_batched_output_survives_task_crashes():
    res = subprocess.run(
        [sys.executable, "-c", CHAOS_BATCHED_JOB],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "CHAOS_BATCHED_OK" in res.stdout, res.stderr[-3000:]


JOBCOUNT_JOB = r"""
import os, sys, tempfile, uuid
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from pyspark import TaskContext

spark = (
    SparkSession.builder.master("local[8,4]")
    .appName("jobcount").config("spark.ui.enabled", "false").getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from mr_spark.engine import get_app, run_mapreduce, run_sequential
from mr_spark.engine.sequential import to_text_lines

MARK_DIR = tempfile.mkdtemp()
corpus = [(f"doc_{i}", f"alpha beta doc{i} gamma alpha") for i in range(20)]
app = get_app("wc")


class JobCountApp:
    # the reference's app-jobcount technique (app-jobcount/src/lib.rs:18-73):
    # a SIDE-EFFECT marker file per map invocation, which survives the task
    # failure — the only way to observe execution count from inside a UDF
    def map(self, k, v):
        open(os.path.join(MARK_DIR, f"{k}-{uuid.uuid4().hex}"), "w").close()
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0:
            raise RuntimeError("injected first-attempt crash")
        return app.map(k, v)

    def reduce(self, k, vs):
        return app.reduce(k, vs)


got = sorted(f"{k} {v}" for k, v in run_mapreduce(spark, corpus, JobCountApp(), n_reduce=5).collect())
golden = to_text_lines(run_sequential(corpus, app))
n_invocations = len(os.listdir(MARK_DIR))
# at-least-once EXECUTION: the crashed first attempts left markers beyond
# one-per-record...
assert n_invocations > len(corpus), f"{n_invocations} <= {len(corpus)}"
# ...while the RESULT is still exactly-once (golden):
assert got == golden
print("JOBCOUNT_OK", n_invocations, len(corpus))
"""


@pytest.mark.slow  # subprocess chaos run; run with -m ""
def test_jobcount_side_effects_observe_retries():
    """The reference's jobcount app counts map INVOCATIONS via side-effect
    marker files (app-jobcount/src/lib.rs:18-73) — untranslatable as a
    *query* because Spark's retry model assumes idempotent UDFs (README
    'untranslatable' note). This test re-expresses its semantic as a
    property: under injected task crashes, marker files show MORE
    invocations than records (at-least-once execution), while the job
    output remains byte-identical to the sequential golden (exactly-once
    results). That pair of facts is precisely what jobcount exists to
    demonstrate."""
    res = subprocess.run(
        [sys.executable, "-c", JOBCOUNT_JOB],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "JOBCOUNT_OK" in res.stdout, res.stderr[-3000:]


CRASH_JOB = r"""
import os, sys
sys.path.insert(0, {root!r})
from pyspark import TaskContext

from mr_spark.engine import get_app, run_mapreduce, run_sequential
from mr_spark.session import get_spark

# local[2,4]: 2 cores, 4 attempts per task, workers from the engine's daemon
spark = get_spark("crash", cpus=2, extra_conf={{
    "spark.master": "local[2,4]", "spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("OFF")
sc = spark.sparkContext

corpus = [(f"doc_{{i}}", f"alpha beta doc{{i}} gamma alpha") for i in range(12)]
app = get_app("wc")


class CrashApp:
    # app-crash analog: attempt 0 of every map task kills its Python worker
    # outright (no exception for the worker to report back)
    def map(self, k, v):
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0:
            os._exit(1)
        return app.map(k, v)

    def reduce(self, k, vs):
        return app.reduce(k, vs)


sc.setJobGroup("crash", "crash injection")
got = sorted(run_mapreduce(spark, sc.parallelize(corpus, 4), CrashApp(), n_reduce=3).collect())
tracker = sc.statusTracker()
failed = sum(
    tracker.getStageInfo(stage).numFailedTasks
    for job in tracker.getJobIdsForGroup("crash")
    for stage in tracker.getJobInfo(job).stageIds
)
assert got == run_sequential(corpus, app), got[:3]
assert failed >= 1, failed
print("CRASH_OK", len(got), failed)
"""


def test_output_survives_worker_deaths():
    """Default-gate crash injection: real Python worker deaths (``os._exit``
    on every map task's first attempt) under ``spark.task.maxFailures``,
    through an engine-built session; the output must still equal the
    sequential golden, and the status tracker must show the failures."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", CRASH_JOB.format(root=root)],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
    )
    assert "CRASH_OK" in res.stdout, res.stderr[-3000:]


def test_ping_health_check(spark):
    """R7 parity (SURVEY.md §2a): the reference health-checks its separate
    control plane with a SayHello echo RPC (service.proto:24,30-31;
    coordinator.rs:147-155). Spark has no separate control plane — the
    driver IS it — so the idiomatic analog is a trivial end-to-end job
    through scheduler + executor + result channel (strictly more than an
    echo). session.ping is that probe."""
    from mr_spark.session import ping

    assert ping(spark) is True
