"""Scratch-substrate policy guards (no SparkSession needed): the tmpfs
default must be sized to the dataset, stale dirs must be reclaimable, and
mkdtemp scratch dirs must live under a pid-named parent so the sweep and
atexit cleanup both cover them."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mr_spark.operators import _demo


def test_shm_headroom_scales_with_input():
    gib = 1024**3
    # 16 GiB floor applies for tiny inputs
    assert _demo._shm_headroom_ok(16 * gib, 100 * 1024**2)
    assert not _demo._shm_headroom_ok(16 * gib - 1, 0)
    # a 50 GiB input needs 200 GiB free — a 126 GiB tmpfs must refuse
    assert not _demo._shm_headroom_ok(126 * gib, 50 * gib)
    assert _demo._shm_headroom_ok(200 * gib, 50 * gib)


def test_mkdtemp_scratch_lives_under_pid_parent(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    d = _demo.mkdtemp_scratch("unit_")
    parent = os.path.dirname(d)
    assert os.path.basename(parent) == f"tmp_{os.getpid()}"
    assert os.path.dirname(parent) == str(tmp_path)
    assert parent in _demo._REGISTERED  # atexit cleanup covers it
    # and the stale sweep's pid parse recognizes the parent
    assert os.path.basename(parent).rsplit("_", 1)[-1].isdigit()


def test_sweep_reclaims_dead_pid_and_old_unparseable(tmp_path, monkeypatch):
    import time

    dead = tmp_path / "acid_demo_999999999"  # no such pid
    dead.mkdir()
    old = tmp_path / "mrspark_dedup_abc123"  # legacy random suffix
    old.mkdir()
    os.utime(old, (time.time() - 2 * _demo._STALE_AGE_SECS,) * 2)
    fresh = tmp_path / "mrspark_dedup_xyz"  # recent: a live session's dir
    fresh.mkdir()
    mine = tmp_path / f"live_{os.getpid()}"
    mine.mkdir()
    monkeypatch.setattr(_demo, "_SWEPT", False)
    _demo._sweep_stale(str(tmp_path))
    assert not dead.exists()
    assert not old.exists()
    assert fresh.exists()
    assert mine.exists()


def test_age_sweep_spares_foreign_prefixes(tmp_path, monkeypatch, caplog):
    import logging
    import time

    old = time.time() - 2 * _demo._STALE_AGE_SECS
    foreign = tmp_path / "someone_elses_cache"  # not a prefix we create
    ours = tmp_path / "mrspark_stream_q1w2e3"
    dead = tmp_path / "spark_local_999999999"  # no such pid
    for d in (foreign, ours, dead):
        d.mkdir()
        os.utime(d, (old, old))
    monkeypatch.setattr(_demo, "_SWEPT", False)
    with caplog.at_level(logging.INFO, logger="mr_spark"):
        _demo._sweep_stale(str(tmp_path))
    assert foreign.exists()
    assert not ours.exists()
    assert not dead.exists()
    logged = " ".join(r.getMessage() for r in caplog.records if r.name == "mr_spark")
    assert str(ours) in logged and str(dead) in logged
    assert str(foreign) not in logged
