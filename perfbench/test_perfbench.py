"""The benchmark's own tests.

    python -m pytest perfbench -q

* Every workload, run once traced at ``--seconds 1``, prints every
  end-to-end metric (the ``metric`` lines) and every per-layer metric (the
  JSON line, and the ``layer`` lines with the workload's own timings) by
  name with its unit, and the names and units agree with ``BENCHMARK.json``.
* A planted wrong output — one changed line, row or feed entry — is caught
  by each workload's correctness check, and an end-to-end run whose engine
  returns one wrong line exits non-zero with ``"correct": false``.

The runs start Spark, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402
import workloads  # noqa: E402


def _run(*args: str, cwd: str = ROOT, prelude: str = "") -> subprocess.CompletedProcess:
    """run.py in a fresh interpreter; ``prelude`` runs first (fault planting)."""
    code = (f"import sys; sys.path[:0] = [{HERE!r}, {ROOT!r}]\n{prelude}\n"
            f"import run; sys.exit(run.main({list(args)!r}))")
    return subprocess.run([sys.executable, "-c", code], cwd=cwd, capture_output=True,
                          text=True, timeout=300)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_every_metric_is_emitted_with_its_unit(workload):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1")
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    printed = {ln.split()[1]: ln.split()[-1] for ln in lines if ln.startswith("metric ")}
    for name, unit in run.END_TO_END.items():
        assert printed[name] == unit
    assert printed["error_rate"] == "ratio"
    layers = {ln.split()[1]: ln.split()[-1] for ln in lines if ln.startswith("layer ")}
    assert layers == dict(run.PER_LAYER, **run.WORKLOAD_TIMES[workload])


def test_planted_wrong_line_is_caught():
    want = ["a 3", "b 1", "c 2"]
    assert workloads.lines_diff(list(want), want) == []
    assert workloads.lines_diff(["a 3", "b 2", "c 2"], want)
    assert workloads.lines_diff(want[:-1], want)


def test_planted_wrong_row_is_caught():
    model = [(1, "a", 10), (2, "b", 20), (2, "b", 20)]
    pdf = pd.DataFrame(model, columns=["k", "v", "x"])
    assert workloads.rows_diff(pdf, model) == []
    assert workloads.rows_diff(pdf.assign(x=[10, 20, 21]), model)
    assert workloads.rows_diff(pdf.iloc[:2], model)  # a lost duplicate


def test_planted_wrong_feed_entry_is_caught():
    before, after = [(1, "a", 1), (2, "b", 2)], [(1, "z", 1), (3, "c", 3)]
    want = workloads.expected_feed(before, after)
    assert [w[0] for w in want] == ["delete", "insert", "update_postimage", "update_preimage"]
    pdf = pd.DataFrame(want, columns=["_change_type", "k", "v", "x"])
    assert workloads.feed_diff(pdf, want) == []
    assert workloads.feed_diff(pdf.assign(_change_type=["delete", "insert", "insert", "delete"]), want)


def test_planted_wrong_query_row_is_caught():
    from mr_spark.oracle import diff

    duck = pd.DataFrame({"word": ["x", "y"], "cnt": [2, 1]})
    assert diff(duck.copy(), duck) == []
    assert diff(duck.assign(cnt=[2, 2]), duck)


def test_end_to_end_run_with_a_wrong_line_fails():
    # the RDD engine's text sink drops its last output line
    prelude = (
        "import mr_spark.engine.mapreduce as m\n"
        "_save = m.save_text_output\n"
        "m.save_text_output = lambda result, out_dir: _save(result, out_dir)[:-1]\n"
    )
    p = _run("--workload", "tier_a_mr", "--seed", "3", "--seconds", "1", "--trace", "0",
             prelude=prelude)
    assert p.returncode == 1, p.stdout[-2000:] + p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1
    assert "FAILED run_files:" in p.stdout


def test_refuses_to_run_without_the_engine(tmp_path):
    # a directory holding only BENCHMARK.json and perfbench/
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_bytes(open(os.path.join(ROOT, "BENCHMARK.json"), "rb").read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tier_a_mr", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
