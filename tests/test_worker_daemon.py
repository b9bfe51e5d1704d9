"""The engine's Python worker daemon (``mr_spark.worker_daemon``): its
stat-guarded zip cache re-reads an archive only when the archive changed,
engine-built sessions fork their workers from it, and those workers find
``mr_spark`` from any working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mr_spark import worker_daemon


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_guarded_invalidate_rereads_only_a_changed_archive(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    importer = zipimport.zipimporter(archive)
    try:
        worker_daemon.guarded_invalidate_caches(importer)  # stamps it
        files = importer._files
        worker_daemon.guarded_invalidate_caches(importer)
        assert importer._files is files  # unchanged archive: no re-read

        _write_zip(archive, ["a", "b"])
        worker_daemon.guarded_invalidate_caches(importer)
        assert importer._files is not files
        spec = importer.find_spec("b")
        assert spec is not None
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.NAME == "b"

        # a deleted archive falls back to the stock re-read: empty listing
        os.remove(archive)
        worker_daemon.guarded_invalidate_caches(importer)
        assert importer._files == {}
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_engine_session_workers_run_the_guarded_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "mr_spark.worker_daemon"

    def probe(_):
        import importlib
        import sys
        import zipimport

        from mr_spark import worker_daemon

        def zip_files():
            return {
                path: imp._files
                for path, imp in sys.path_importer_cache.items()
                if isinstance(imp, zipimport.zipimporter)
            }

        before = zip_files()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        after = zip_files()
        yield (
            zipimport.zipimporter.invalidate_caches
            is worker_daemon.guarded_invalidate_caches,
            len(before),
            sorted(before) == sorted(after)
            and all(after[p] is before[p] for p in before),
        )

    [(patched, n_zip, identical)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert patched
    assert n_zip > 0  # pyspark.zip and py4j sit on every worker's path
    assert identical


CWD_JOB = r"""
import sys
sys.path.insert(0, {root!r})
from mr_spark.session import get_spark
from mr_spark.engine import get_app, run_mapreduce, run_sequential

spark = get_spark("cwd-probe", cpus=2,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("ERROR")
corpus = [("d0", "alpha beta alpha"), ("d1", "beta gamma"), ("d2", "gamma alpha")]
app = get_app("wc")
got = sorted(run_mapreduce(spark, corpus, app, n_reduce=2).collect())
assert got == run_sequential(corpus, app), got
print("CWD_OK", len(got))
"""


def test_workers_import_mr_spark_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", CWD_JOB.format(root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "CWD_OK" in res.stdout, res.stderr[-3000:]
