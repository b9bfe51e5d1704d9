"""Python worker daemon for sessions built by ``session.get_spark``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py`` ``setup_spark_files``). On Python
3.11 that makes every ``zipimporter`` on the worker's path re-read its
whole archive directory in pure Python: pyspark.zip, py4j and the
spark-core jar, about 250 ms per task even for an empty function.
``install()`` makes that re-read conditional on the archive file having
changed, judged by its ``os.stat`` stamp; run as a module, this is
``pyspark.daemon`` with the guard installed before any worker forks.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def guarded_invalidate_caches(self) -> None:
    """Re-read the archive directory only when ``os.stat`` of the archive
    shows a new ``(st_ino, st_size, st_mtime_ns)`` stamp; when ``stat``
    fails, re-read as the stock method does."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self._mr_spark_stamp = None
        _reread(self)
        return
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    if getattr(self, "_mr_spark_stamp", None) != stamp:
        _reread(self)
        self._mr_spark_stamp = stamp


def install() -> None:
    """Guard every ``zipimporter`` in this process, existing or future."""
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches


if __name__ == "__main__":
    # install from the importable module, not from ``__main__``, so the
    # workers' patched method is ``mr_spark.worker_daemon``'s own function
    from mr_spark import worker_daemon

    worker_daemon.install()
    import pyspark.daemon

    pyspark.daemon.manager()
