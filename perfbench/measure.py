"""Timing, tracing and counters for the benchmark's closed loop.

One client issues operations one after another (a closed loop: the next
operation starts only after the previous one returned). ``Recorder.op``
times each operation from the outside, split into *build* (the driver-side
call that returns the result object, including any eager jobs it runs)
and *exec* (materialising that result on the client).

In a traced run the recorder also

* sets a Spark job group named after the operation around it, so every
  job in the status store is labelled with the operation that caused it;
* reads the Spark status store right after the operation, outside the
  timed region, and sums the stage metrics of the jobs the operation ran
  (attributed by job id: operations are serial, so every job submitted
  after the operation started belongs to it, including streaming
  micro-batch jobs that run on other threads outside the job group);
* keeps spans (name, start, end, parent, run id) in memory; they are
  written out once at the end of the run.

An untraced run does none of that, so the traced ``wall_s`` minus the
untraced ``wall_s`` is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

# Stage metrics summed per operation, keyed by the name used here.
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "task_run_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
}


@dataclass
class Op:
    name: str
    kind: str
    start: float
    build_s: float = 0.0
    exec_s: float = 0.0
    ok: bool = True
    error: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


class Recorder:
    """Closed-loop operation timer with optional tracing (see module doc)."""

    def __init__(self, spark, traced: bool, run_id: str):
        self.spark = spark
        self.traced = traced
        self.run_id = run_id
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in tracing bookkeeping
        self._stack: list[int] = []
        self._last_job = -1

    # ---- spans -----------------------------------------------------------
    def span_start(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"run_id": self.run_id, "id": sid, "parent": parent,
                           "name": name, "start": time.time(), "end": None})
        self._stack.append(sid)
        return sid

    def span_end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.remove(sid)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.span_start(name) if self.traced else None
        try:
            yield
        finally:
            if sid is not None:
                self.span_end(sid)

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # ---- operations ------------------------------------------------------
    def op(self, name: str, kind: str, build, execute=None):
        """Run one operation; returns (result, Op). A raised exception
        marks the operation failed (result None) instead of propagating."""
        rec = Op(name, kind, time.perf_counter())
        if self.traced:
            t = time.perf_counter()
            op_span = self.span_start(f"op:{name}")
            self._last_job = self._newest_job_id()  # jobs before this op are not its own
            self.spark.sparkContext.setJobGroup(
                f"{self.run_id}/{len(self.ops)}/{name}", name)
            self.overhead_s += time.perf_counter() - t
        result = None
        try:
            t0 = time.perf_counter()
            sid = self.span_start("build") if self.traced else None
            result = build()
            t1 = time.perf_counter()
            rec.build_s = t1 - t0
            if sid is not None:
                self.span_end(sid)
            if execute is not None:
                sid = self.span_start("exec") if self.traced else None
                result = execute(result)
                rec.exec_s = time.perf_counter() - t1
                if sid is not None:
                    self.span_end(sid)
        except Exception as e:  # an operation failure is a measured outcome
            rec.ok = False
            rec.error = f"{type(e).__name__}: {e}"[:500]
            if not rec.build_s:
                rec.build_s = time.perf_counter() - rec.start
            result = None
            while self.traced and self._stack and self.spans[self._stack[-1]]["name"] != f"op:{name}":
                self.span_end(self._stack[-1])
        if self.traced:
            t = time.perf_counter()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rec.counters = self.counters_since_start()
            self.span_end(op_span)
            self.overhead_s += time.perf_counter() - t
        self.ops.append(rec)
        return result, rec

    # ---- Spark status store ----------------------------------------------
    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _drain_listener_bus(self) -> None:
        # the status store is fed asynchronously by the listener bus;
        # wait until every event of the finished jobs has been applied
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _newest_job_id(self) -> int:
        self._drain_listener_bus()
        jobs = self._store().jobsList(None)
        return jobs.apply(0).jobId() if jobs.length() else -1

    def counters_since_start(self) -> dict:
        """Sum the metrics of every job submitted since the operation
        started (the store lists jobs newest first)."""
        self._drain_listener_bus()
        store = self._store()
        jobs = store.jobsList(None)
        out = {k: 0 for k in _STAGE_FIELDS}
        out.update(jobs=0, stages=0)
        intervals = []
        for i in range(jobs.length()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            stage_ids = job.stageIds()
            for j in range(stage_ids.length()):
                stage = store.lastStageAttempt(stage_ids.apply(j))
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, getter in _STAGE_FIELDS.items():
                    out[key] += getattr(stage, getter)()
        out["job_s"] = _union_ms(intervals) / 1000.0
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals (jobs may overlap)."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    return total + (cur_end - cur_start if cur_end is not None else 0)


class StreamCounter:
    """Counts micro-batches and input rows of every streaming query the
    session runs (traced runs only; registering a Python listener starts
    the Py4J callback server)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self.batches = 0
        self.rows = 0
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with counter._lock:
                    counter.batches += 1
                    counter.rows += int(event.progress.numInputRows)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def snapshot(self) -> tuple[int, int]:
        with self._lock:
            return self.batches, self.rows


def descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended while the table was read
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver, the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass  # the process ended between the listing and the read
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)


# ---- statistics -------------------------------------------------------------

def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it
    (0 when the sample is too small to have a tail)."""
    if n <= 10:
        return 0
    return int(math.floor(100 * (1 - 10 / n)))


def percentile(xs: list[float], pct: int) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]
