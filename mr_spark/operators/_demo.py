"""Per-process demo-table paths with exit-time cleanup (ADVICE r4: the
per-pid dirs acid_*_demo_{pid} / dpp_fact_demo_{pid} accumulated across
bench/driver invocations — each process now removes its own dirs at exit;
pid-suffixing keeps concurrent sessions from touching each other's live
tables).

Demo tables are per-process TEMPORARIES (rebuilt from the parquet inputs
every process, never reused across runs), so they belong on scratch
storage, not durable storage. ``scratch_base()`` picks the root: an
explicit ``$SPARK_GRAFT_SCRATCH_DIR`` wins; otherwise a RAM-backed
``/dev/shm`` directory when one exists with ≥ 16 GiB free (the round-9
bench machine's system disk throttles writes to ~10 MB/s — measured with
a plain 256 MB buffered write — which turned every fixture commit and
spill into a writeback stall; tmpfs restores scratch I/O to memory speed,
which is also how a production node would provision shuffle/scratch
volumes: local NVMe, never a throttled system disk); else the old
``spark-warehouse`` directory next to the repo."""

from __future__ import annotations

import atexit
import logging
import os
import shutil

_LOG = logging.getLogger("mr_spark")

_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)

_MIN_SHM_FREE = 16 * 1024**3
# tmpfs is RAM: a shuffle bigger than the remaining space fails hard with
# ENOSPC instead of degrading like a disk. Scratch for this engine is
# bounded by the shuffled/spilled working set, which is bounded by a small
# multiple of the input (every heavy relation here is a projection or
# explode of one input table); 4x input is a conservative ceiling, so shm
# is used only when it could absorb the worst case and a larger-SF run
# falls back to real disk instead of stranding mid-shuffle.
_SHM_INPUT_FACTOR = 4


def _shm_headroom_ok(free_bytes: int, input_bytes: int) -> bool:
    """True when tmpfs free space covers the worst-case scratch footprint
    for the configured input (max of the 16 GiB floor and 4x input)."""
    return free_bytes >= max(_MIN_SHM_FREE, _SHM_INPUT_FACTOR * input_bytes)


def _input_bytes() -> int:
    """Total bytes under $SPARK_GRAFT_SF_DIR (0 if unset/missing) — the
    driver's data directory is a flat handful of parquet files, so this
    walk is microseconds."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        return 0
    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        pass
    return total


def scratch_base() -> str:
    """Root directory for per-process scratch (demo tables, streaming
    checkpoints, Spark local dirs). See module docstring for the policy."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if _shm_headroom_ok(st.f_bavail * st.f_frsize, _input_bytes()):
            base = os.path.join(shm, "mr_spark_scratch")
            os.makedirs(base, exist_ok=True)
            _sweep_stale(base)
            return base
    except OSError:
        pass
    os.makedirs(_WAREHOUSE, exist_ok=True)
    return _WAREHOUSE


_SWEPT = False


_STALE_AGE_SECS = 24 * 3600
# Name prefixes this package creates at the scratch root without a live pid
# suffix to judge by: legacy bare-mkdtemp dirs (``mrspark_*``) and the
# per-pid parents (``tmp_``, ``spark_local_``, ``jvm_tmp_``). Only these
# fall to the age sweep; anything else sharing the root is not ours.
_OWN_PREFIXES = ("mrspark_", "tmp_", "spark_local_", "jvm_tmp_")


def _sweep_stale(base: str) -> None:
    """tmpfs is RAM: a SIGKILLed process never runs its atexit cleanup, so
    reclaim ``*_<pid>`` entries whose pid is gone (once per process; live
    processes' dirs are left alone). Entries whose suffix is not a pid
    (legacy mkdtemp leftovers) fall back to an age sweep, limited to
    ``_OWN_PREFIXES`` — anything of ours older than a day is no live
    session's scratch. Each reclaimed path is logged."""
    global _SWEPT
    if _SWEPT:
        return
    _SWEPT = True
    import time

    now = time.time()
    for entry in os.listdir(base):
        full = os.path.join(base, entry)
        pid_part = entry.rsplit("_", 1)[-1]
        if pid_part.isdigit():
            if int(pid_part) != os.getpid() and not os.path.exists(
                f"/proc/{pid_part}"
            ):
                _reclaim(full, "dead pid")
            continue
        if not entry.startswith(_OWN_PREFIXES):
            continue
        try:
            if now - os.path.getmtime(full) > _STALE_AGE_SECS:
                _reclaim(full, "older than a day")
        except OSError:
            pass


def _reclaim(path: str, why: str) -> None:
    _LOG.info("reclaiming stale scratch %s (%s)", path, why)
    shutil.rmtree(path, ignore_errors=True)


_REGISTERED: set[str] = set()


def register_scratch(path: str) -> None:
    """Register an externally-created scratch dir for this process's
    exit-time cleanup (used by session.get_spark for the per-pid Spark
    local / JVM tmp dirs)."""
    _REGISTERED.add(path)


def mkdtemp_scratch(prefix: str) -> str:
    """``mkdtemp`` under a per-pid parent (``tmp_<pid>/``) so the random-
    suffixed dir is (a) cleaned at this process's exit and (b) reclaimable
    by ``_sweep_stale`` after a SIGKILL — a bare mkdtemp at the scratch
    root has no pid in its name and tmpfs would hold it until reboot."""
    import tempfile

    parent = os.path.join(scratch_base(), f"tmp_{os.getpid()}")
    os.makedirs(parent, exist_ok=True)
    _REGISTERED.add(parent)
    return tempfile.mkdtemp(prefix=prefix, dir=parent)


def demo_path(name: str) -> str:
    """``<scratch_base>/{name}_{pid}`` — registered for removal when this
    process exits. Queries rebuild their demo tables per invocation, so
    nothing durable lives here."""
    path = os.path.join(scratch_base(), f"{name}_{os.getpid()}")
    _REGISTERED.add(path)
    return path


@atexit.register
def _cleanup() -> None:
    for p in _REGISTERED:
        shutil.rmtree(p, ignore_errors=True)
