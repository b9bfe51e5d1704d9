"""The repository's benchmark: one seeded, oracle-checked workload per run.

    python3 perfbench/run.py --workload {tier_a_mr,query_mix,snapshot_dml}
                             --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. Each run is a fresh process with its
own Spark session on ``local[<cpus>]`` and its own scratch directory under
``.perfbench/`` (removed at the end). One client drives the workload as a
closed loop. The run prints the environment, every metric by name with
its unit, and as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. A traced run
also writes its spans to ``.perfbench/spans/<workload>-seed<N>.jsonl``.
The exit code is 0 only if every output matched its oracle.

See perfbench/README.md for the workloads, the metrics and how they are
measured.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

# name -> unit; every run prints all of them (BENCHMARK.json lists the same)
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_geomean_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.registry_s": "s",
    "session.first_job_s": "s",
    "engine.parallel_speedup": "ratio",
    "engine.shuffle_records": "count",
    "engine.shuffle_write_bytes": "bytes",
    "operators.jobs_per_query": "count",
    "operators.stages_per_query": "count",
    "streaming.batches": "count",
    "streaming.rows": "count",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sources.sink_bytes_written": "bytes",
    "acid.jobs_per_commit": "count",
    "acid.files_written_per_commit": "count",
    "acid.deltas_folded": "count",
    "acid.commit_retries": "count",
    "acid.files_per_read": "count",
    "acid.write_amp": "ratio",
    "acid.space_amp": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.task_busy_ratio": "ratio",
    "spark.peak_rss_mb": "MB",
    "oracle.s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}
# Timings of one workload's own layer. The traced run of that workload
# prints them; they stay out of the JSON, where every other workload would
# report a constant 0 s for them.
WORKLOAD_TIMES = {
    "tier_a_mr": {"engine.run_files_s": "s", "engine.batched_s": "s",
                  "engine.sequential_s": "s", "engine.task_run_s": "s"},
    "query_mix": {"operators.build_s": "s", "operators.exec_s": "s",
                  "streaming.stream_stream_join.build_s": "s"},
    "snapshot_dml": {"acid.driver_s_per_commit": "s", "acid.commit_p50_s": "s",
                     "acid.commit_tail_s": "s", "acid.read_p50_s": "s",
                     "acid.read_tail_s": "s"},
}
N_SETUP_PROBES = 1  # extra cold set-ups, run beside the run's own


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="utf-8") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(scratch: str) -> None:
    """Everything the engine reads from the environment, fixed per run."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    # a sixth of the machine, 1-4 GiB (the engine's default is 64g)
    driver_mb = min(4096, max(1024, mem_total_mb() // 6))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    # Python workers import mr_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    # keep the JVMs from writing their perf-data files to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def source_id() -> str:
    """The commit when the checkout is a git repository, else a digest of
    the engine's sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], check=True,
                                  capture_output=True, text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, "mr_spark"))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(base, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "sources-sha256:" + h.hexdigest()[:16]


def start_setup_probes(scratch: str) -> list[subprocess.Popen]:
    procs = []
    for i in range(N_SETUP_PROBES):
        d = os.path.join(scratch, f"probe{i}")
        os.makedirs(d)
        env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=d, TMPDIR=d)
        procs.append(subprocess.Popen(
            [sys.executable, os.path.join(HERE, "setup_probe.py")], env=env, cwd=d,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True))
    return procs


def finish_setup_probes(procs: list[subprocess.Popen]) -> list[dict]:
    out = []
    for p in procs:
        stdout, _ = p.communicate(timeout=150)
        if p.returncode != 0:
            raise RuntimeError(f"set-up probe exited with {p.returncode}")
        out.append(json.loads(stdout.strip().splitlines()[-1]))
    return out


def stop_everything(spark, procs: list[subprocess.Popen]) -> None:
    """Stop the session and its JVM, then wait until no process this run
    started is left (terminating stragglers after a grace period)."""
    from measure import descendants

    for p in procs:
        if p.poll() is None:
            p.kill()
        p.wait()
    if spark is not None:
        gateway = spark.sparkContext._gateway
        jvm_proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if jvm_proc is not None:
            if jvm_proc.stdin:
                jvm_proc.stdin.close()
            try:
                jvm_proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm_proc.kill()
                jvm_proc.wait()
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while descendants(os.getpid()) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass  # only grandchildren left; their parents reap them
        time.sleep(0.05)


def compute_metrics(workload, ctx, rec, setups, wall_s, rss_peak, stream_counts) -> tuple[dict, dict]:
    from statistics import geometric_mean, median

    ops = [o for o in rec.ops if o.kind != "check"]
    by_name: dict[str, list[float]] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o.latency_s)
    e2e = {
        "setup_s": median([s["total_s"] for s in setups]),
        "wall_s": wall_s,
        "op_geomean_s": geometric_mean([median(v) for v in by_name.values()]),
    }
    layer = dict.fromkeys(PER_LAYER, 0.0)
    main_setup = setups[0]
    layer.update({
        "session.get_spark_s": main_setup["get_spark_s"],
        "session.registry_s": main_setup["registry_s"],
        "session.first_job_s": main_setup["first_job_s"],
        "oracle.s": ctx.oracle_s,
        "trace.wall_s": wall_s,
        "trace.overhead_s": rec.overhead_s,
        "spark.peak_rss_mb": rss_peak / 2**20,
    })
    if rec.traced:
        tot = {}
        for o in ops:
            for k, v in o.counters.items():
                tot[k] = tot.get(k, 0) + v
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        layer.update({
            "spark.jobs": tot.get("jobs", 0),
            "spark.tasks": tot.get("tasks", 0),
            "spark.task_run_s": tot.get("task_run_ms", 0) / 1000.0,
            "spark.task_cpu_s": tot.get("task_cpu_ns", 0) / 1e9,
            "spark.gc_s": tot.get("gc_ms", 0) / 1000.0,
            "spark.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0),
            "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
            "spark.spill_bytes": tot.get("spill_bytes", 0),
            "spark.failed_tasks": tot.get("failed_tasks", 0),
            "spark.task_busy_ratio": tot.get("task_run_ms", 0) / 1000.0 / max(1e-9, wall_s * cores),
            "sources.input_bytes": tot.get("input_bytes", 0),
            "sources.input_records": tot.get("input_records", 0),
            "streaming.batches": stream_counts[0],
            "streaming.rows": stream_counts[1],
        })
        layer.update(workload.layer_metrics(ops))
    return e2e, layer


def print_report(args, env: dict, e2e: dict, layer: dict, all_ops, workload) -> None:
    from statistics import median

    from measure import percentile, tail_percentile

    print("env " + " ".join(f"{k}={v}" for k, v in env.items()))
    ops = [o for o in all_ops if o.kind != "check"]
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.latency_s)
    for kind, lat in sorted(by_kind.items()):
        pct = tail_percentile(len(lat))
        tail = (f"p{pct} {percentile(lat, pct):.4f} s" if pct >= 50
                else f"no tail above p50 (tail needs 10 samples beyond it)")
        print(f"ops {kind}: n={len(lat)} p50 {median(lat):.4f} s, {tail}")
    by_name: dict[str, list[float]] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o.latency_s)
    for name, lat in by_name.items():
        print(f"op {name}: n={len(lat)} median {median(lat):.4f} s "
              f"[{', '.join(f'{x:.3f}' for x in lat)}]")
    failed = [o for o in all_ops if not o.ok]
    for o in failed:
        print(f"FAILED {o.name}: {o.error}")
    # beside BENCHMARK.json's end-to-end metrics: peak memory, the error
    # rate (in the JSON as failed/attempted) and the snapshot_dml-only ones
    named = dict(e2e, peak_rss_mb=layer["spark.peak_rss_mb"])
    named["error_rate"] = len(failed) / max(1, len(all_ops))
    if workload.name == "snapshot_dml":
        for kind in ("commit", "read"):
            lat = by_kind.get(kind, [])
            named[f"{kind}_p50_s"] = percentile(lat, 50)
            named[f"{kind}_tail_s"] = percentile(lat, max(50, tail_percentile(len(lat))))
        for k in ("write_amp", "space_amp"):
            named[k] = layer[f"acid.{k}"] if args.trace else "n/a (measured in traced runs)"
    units = dict(END_TO_END, peak_rss_mb="MB", error_rate="ratio", commit_p50_s="s", commit_tail_s="s",
                 read_p50_s="s", read_tail_s="s", write_amp="ratio", space_amp="ratio")
    for k, v in named.items():
        print(f"metric {k} = {v} {units[k]}")
    if args.trace:
        units = dict(PER_LAYER, **WORKLOAD_TIMES[workload.name])
        for k, unit in units.items():
            print(f"layer {k} = {layer[k]} {unit}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mr_spark", "__init__.py")):
        print(f"no engine sources under {ROOT}/mr_spark: run from a full checkout",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()

    scratch = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    os.makedirs(scratch)
    pin_environment(scratch)
    spark, procs = None, []
    try:
        procs = start_setup_probes(scratch)
        from setup_probe import cold_setup

        t_setup = time.time()
        spark, main_setup = cold_setup(time.perf_counter())
        setups = [main_setup] + finish_setup_probes(procs)
        t_setup_end = time.time()

        from measure import Recorder, RssSampler, StreamCounter

        run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        rec = Recorder(spark, bool(args.trace), run_id)
        root_span = rec.span_start("run") if rec.traced else None
        if rec.traced:
            rec.spans.append({"run_id": run_id, "id": len(rec.spans), "parent": root_span,
                              "name": "setup", "start": t_setup, "end": t_setup_end})
        streams = StreamCounter(spark) if rec.traced else None
        ctx = Context(spark, rec, scratch, args.seed, args.seconds)
        with RssSampler() as rss:
            with rec.span("prepare"):
                workload.prepare(ctx)
            with rec.span("warm_up"):
                workload.warm_up(ctx)
            before = streams.snapshot() if streams else (0, 0)
            with rec.span("measure"):
                t0 = time.perf_counter()
                workload.measure(ctx)
                wall_s = time.perf_counter() - t0 - ctx.oracle_s
            after = streams.snapshot() if streams else (0, 0)
            if hasattr(workload, "final_check"):
                with rec.span("final_check"):
                    workload.final_check(ctx)
        e2e, layer = compute_metrics(workload, ctx, rec, setups, wall_s, rss.peak_bytes,
                                     (after[0] - before[0], after[1] - before[1]))
        if rec.traced:
            rec.span_end(root_span)
            rec.write_spans(os.path.join(OUT_DIR, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
        env = {
            "cpus": os.environ["SPARK_GRAFT_CPUS"], "mem_mb": mem_total_mb(),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], "spark": spark.version,
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "source": source_id(),
        }
    finally:
        stop_everything(spark, procs)
        shutil.rmtree(scratch, ignore_errors=True)

    print_report(args, env, e2e, layer, rec.ops, workload)
    failed = sum(1 for o in rec.ops if not o.ok)
    attempted = len(rec.ops)
    metrics, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    correct = failed == 0 and not ctx.mismatches
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit} for k, unit in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
