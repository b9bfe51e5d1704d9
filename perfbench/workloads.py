"""The three benchmark workloads.

Each workload has three phases, driven by ``run.py``:

* ``prepare`` — generate the seeded inputs and compute what the oracle
  needs; not timed.
* ``warm_up`` — operations outside the timed set: JVM and Python-worker
  start-up is paid here, yet no timed operation has run before timing
  starts, so no first call of a timed operation is hidden.
* ``measure`` — the timed closed loop. The amount of work is a fixed
  function of ``--seconds`` (never of the measured speed), so the parent
  commit and a change run exactly the same operations.

Every output is checked against an oracle; checks run outside the timed
region and their time is reported as ``oracle.s``.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen


class Context:
    """What a workload needs from the harness."""

    def __init__(self, spark, recorder, scratch: str, seed: int, seconds: int):
        self.spark = spark
        self.rec = recorder
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.oracle_s = 0.0
        self.mismatches: list[str] = []

    def check(self, op, problems: list[str]) -> None:
        """Record an oracle verdict for ``op``; a mismatch fails the op."""
        if problems and op.ok:
            op.ok = False
            op.error = "; ".join(problems)[:500]
        if problems:
            self.mismatches.append(f"{op.name}: {problems[0]}")

    def timed_check(self, op, fn) -> None:
        t = time.perf_counter()
        with self.rec.span(f"oracle:{op.name}"):
            try:
                problems = fn() if op.ok else []
            except Exception as e:  # a crashing check is a failed check
                problems = [f"oracle error {type(e).__name__}: {e}"]
        self.oracle_s += time.perf_counter() - t
        self.check(op, problems)


def lines_diff(got: list[str], want: list[str]) -> list[str]:
    """Byte comparison of two sorted ``"k v"`` line lists."""
    if got == want:
        return []
    for i, (a, b) in enumerate(zip(got, want)):
        if a != b:
            return [f"line {i}: got {a[:80]!r} want {b[:80]!r}"]
    return [f"line count: got {len(got)} want {len(want)}"]


# ---------------------------------------------------------------------------
class TierAMapReduce:
    """The paper's own workload: word count and inverted index through the
    faithful RDD engine with its text sink (``run_files``) and through the
    Arrow-batched executor (``run_on_documents_batched``), each output
    byte-compared with the single-process ``run_sequential``."""

    name = "tier_a_mr"
    N_DOCS = 32
    WORDS_PER_DOC = 1_000
    PASS_S = 5.0  # nominal seconds per pass; passes = seconds / PASS_S

    def prepare(self, ctx: Context) -> None:
        from mr_spark.engine import get_app, run_sequential
        from mr_spark.engine.sequential import to_text_lines

        texts = datagen.corpus(ctx.seed, self.N_DOCS, self.WORDS_PER_DOC)
        base = os.path.join(ctx.scratch, "tier_a")
        self.corpus_dir = os.path.join(base, "corpus")
        self.tables_dir = os.path.join(base, "tables")
        self.out_dir = os.path.join(base, "out")
        for d in (self.corpus_dir, self.tables_dir, self.out_dir):
            os.makedirs(d, exist_ok=True)
        file_inputs = []
        for i, text in enumerate(texts):
            path = os.path.join(self.corpus_dir, f"doc-{i:04d}.txt")
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
            file_inputs.append((path, text))
        rng = np.random.default_rng([ctx.seed, 3])
        pq.write_table(datagen.documents_table(texts, rng),
                       os.path.join(self.tables_dir, "documents.parquet"))
        doc_inputs = [(f"doc_{i}", t) for i, t in enumerate(texts)]

        # the oracle: run_sequential on the same records; its run time is
        # the single-process baseline of engine.parallel_speedup
        self.want: dict[tuple[str, str], list[str]] = {}
        self.sequential_s: dict[str, float] = {}
        for app_name in ("wc", "indexer"):
            app = get_app(app_name)
            t = time.perf_counter()
            files_result = run_sequential(file_inputs, app)
            self.sequential_s[app_name] = time.perf_counter() - t
            self.want[("files", app_name)] = to_text_lines(files_result)
            self.want[("docs", app_name)] = to_text_lines(run_sequential(doc_inputs, app))

    def warm_up(self, ctx: Context) -> None:
        # the early_exit app on two records, through both executors: RDD
        # shuffle, Python workers and the Arrow UDF path start here, and
        # none of it is in the timed set
        from mr_spark.engine import get_app, run_mapreduce
        from mr_spark.engine.mapreduce import run_on_documents_batched

        app = get_app("early_exit")
        tiny = os.path.join(ctx.scratch, "tier_a", "warm")
        os.makedirs(tiny)
        pq.write_table(datagen.documents_table(["x y", "y z"], np.random.default_rng(0)),
                       os.path.join(tiny, "documents.parquet"))
        run_mapreduce(ctx.spark, [("a", "x y"), ("b", "y z")], app).collect()
        run_on_documents_batched(ctx.spark, tiny, app).toPandas()

    def measure(self, ctx: Context) -> None:
        from mr_spark.engine import get_app, run_files
        from mr_spark.engine.mapreduce import run_on_documents_batched

        glob = os.path.join(self.corpus_dir, "*.txt")
        passes = max(1, round(ctx.seconds / self.PASS_S))
        n = 0
        for _ in range(passes):
            for app_name in ("wc", "indexer"):
                app = get_app(app_name)
                out = os.path.join(self.out_dir, f"{n:03d}")
                n += 1
                lines, op = ctx.rec.op(f"run_files:{app_name}", "engine.run_files",
                                       lambda: run_files(ctx.spark, glob, app, out))
                ctx.timed_check(op, lambda: lines_diff(lines, self.want[("files", app_name)]))
                pdf, op = ctx.rec.op(
                    f"batched:{app_name}", "engine.batched",
                    lambda: run_on_documents_batched(ctx.spark, self.tables_dir, app),
                    lambda df: df.toPandas())
                ctx.timed_check(op, lambda: lines_diff(
                    sorted(pdf["k"] + " " + pdf["v"]), self.want[("docs", app_name)]))

    def layer_metrics(self, ops) -> dict:
        from statistics import median

        run_files = [o for o in ops if o.kind == "engine.run_files"]
        batched = [o for o in ops if o.kind == "engine.batched"]
        files_by_app = {a: median([o.latency_s for o in run_files if o.name.endswith(a)])
                        for a in ("wc", "indexer")}
        seq_total = sum(self.sequential_s.values())
        engine_ops = run_files + batched
        return {
            "engine.run_files_s": median([o.latency_s for o in run_files]),
            "engine.batched_s": median([o.latency_s for o in batched]),
            "engine.sequential_s": seq_total / len(self.sequential_s),
            "engine.parallel_speedup": seq_total / max(1e-9, sum(files_by_app.values())),
            "engine.shuffle_records": _mean_counter(engine_ops, "shuffle_write_records"),
            "engine.shuffle_write_bytes": _mean_counter(engine_ops, "shuffle_write_bytes"),
            "engine.task_run_s": _mean_counter(engine_ops, "task_run_ms") / 1000.0,
        }


# ---------------------------------------------------------------------------
TPCH = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier", "q6_forecast_revenue", "q7_volume_shipping",
    "q8_market_share", "q9_product_profit", "q10_returned_items",
    "q11_important_stock", "q12_priority_shipping", "q13_order_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_supplier_count",
    "q17_small_quantity", "q18_large_orders", "q19_disjunctive_join",
    "q20_promotion_supplier", "q21_waiting_supplier",
    "q22_global_sales_opportunity",
]
# The dedup, similarity and streaming queries of the mix. Left out, to keep
# one run inside the benchmark's time budget (first-call latency on 4 cores
# at this input size): minhash_lsh_pairs (4.7 s), ann_ivf_topk (6.8 s),
# pandas_udaf_median (9.5 s: one Python call per part key, and part stays
# whole) and stream_sessionize_stateful (16.9 s, mostly fixed streaming cost).
MIX_EXTRA = [
    "wc", "indexer", "exact_substring_pairs", "ngram_jaccard_pairs",
    "char_ngram_entropy", "stream_stream_join",
]


class QueryMix:
    """Registered queries over seeded tables, each checked against its
    DuckDB twin with ``mr_spark.oracle.diff``."""

    name = "query_mix"
    FRACTION = 0.02  # fact-table sample of sf0.1
    PASS_S = 25.0
    queries = TPCH + MIX_EXTRA

    def prepare(self, ctx: Context) -> None:
        from mr_spark import operators
        from mr_spark.oracle import duck_connection

        self.sf_dir = os.path.join(ctx.scratch, "tables")
        datagen.write_tables(ctx.seed, self.sf_dir, self.FRACTION)
        self.fns = operators.queries()
        self.oracles = operators.oracle_sql()
        missing = [q for q in self.queries if q not in self.fns or q not in self.oracles]
        if missing:
            raise RuntimeError(f"queries without a registered oracle: {missing}")
        self.duck = duck_connection(self.sf_dir)

    def warm_up(self, ctx: Context) -> None:
        self.fns["early_exit"](ctx.spark, self.sf_dir).toPandas()
        ctx.spark.catalog.clearCache()

    def measure(self, ctx: Context) -> None:
        from mr_spark.oracle import diff

        passes = max(1, round(ctx.seconds / self.PASS_S))
        for _ in range(passes):
            for name in self.queries:
                fn = self.fns[name]
                pdf, op = ctx.rec.op(name, "query", lambda: fn(ctx.spark, self.sf_dir),
                                     lambda df: df.toPandas())
                # bench.py's rule: drop the query's cached blocks once it is forced
                ctx.spark.catalog.clearCache()
                ctx.timed_check(op, lambda: diff(pdf, self.duck.execute(self.oracles[name]).fetchdf()))

    def layer_metrics(self, ops) -> dict:
        from statistics import median

        queries = [o for o in ops if o.kind == "query"]
        return {
            "operators.build_s": median([o.build_s for o in queries]),
            "operators.exec_s": median([o.exec_s for o in queries]),
            "operators.jobs_per_query": _mean_counter(queries, "jobs"),
            "operators.stages_per_query": _mean_counter(queries, "stages"),
            "streaming.stream_stream_join.build_s": median(
                [o.build_s for o in queries if o.name == "stream_stream_join"]),
        }


# ---------------------------------------------------------------------------
def expected_feed(before: list, after: list) -> list:
    """The CDF classification of a multiset diff, restated independently
    of the engine: per key, an excess of exactly one old and one new row
    is an update pre/postimage pair, anything else deletes + inserts."""
    co, cn = Counter(before), Counter(after)
    per_key: dict = {}
    for r in set(co) | set(cn):
        d = cn[r] - co[r]
        if d:
            per_key.setdefault(r[0], []).append((r, d))
    out = []
    for entries in per_key.values():
        old = [(r, -d) for r, d in entries if d < 0]
        new = [(r, d) for r, d in entries if d > 0]
        if sum(c for _, c in old) == 1 and sum(c for _, c in new) == 1:
            out.append(("update_preimage",) + old[0][0])
            out.append(("update_postimage",) + new[0][0])
        else:
            out += [("delete",) + r for r, c in old for _ in range(c)]
            out += [("insert",) + r for r, c in new for _ in range(c)]
    return sorted(out)


def rows_diff(pdf, want: list) -> list[str]:
    """A table read (k, v, x) against the model's multiset of rows."""
    got = sorted(zip(pdf["k"].astype(int), pdf["v"].astype(str), pdf["x"].astype(int)))
    if got == sorted(want):
        return []
    missing, extra = Counter(want) - Counter(got), Counter(got) - Counter(want)
    return [f"rows differ from the model: {sum(missing.values())} missing "
            f"(e.g. {next(iter(missing), None)}), {sum(extra.values())} extra "
            f"(e.g. {next(iter(extra), None)})"]


def feed_diff(pdf, want: list) -> list[str]:
    """A change feed against ``expected_feed`` of the model."""
    got = sorted(zip(pdf["_change_type"], pdf["k"].astype(int), pdf["v"], pdf["x"].astype(int)))
    return [] if got == want else [f"change feed differs from the model ({len(got)} vs {len(want)} rows)"]


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


SCHEMA = "k bigint, v string, x bigint"
WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


class SnapshotDML:
    """A seeded stream of ACID writes interleaved with reads on one
    ``SnapshotTable``, checked against an in-memory multiset model."""

    name = "snapshot_dml"
    N_ROWS = 5_000
    N_BUCKETS = 4
    OPS_PER_S = 1.6  # operations per second of --seconds

    def prepare(self, ctx: Context) -> None:
        rng = random.Random(ctx.seed)
        self.path = os.path.join(ctx.scratch, "snapshot", "tbl")
        self.model = [(k, rng.choice(WORDS), rng.randrange(1_000_000)) for k in range(self.N_ROWS)]
        self.next_key = self.N_ROWS
        # the operation stream: the same kinds in the same order for every
        # seed (the seed picks keys and values), its length fixed by --seconds
        n_ops = max(12, int(ctx.seconds * self.OPS_PER_S))
        writes = ["merge_upsert", "append", "delete_cow", "update", "delete_dv"]
        reads = ["read_latest", "read_time_travel", "changes"]
        self.plan = [reads[(i // 2) % len(reads)] if i % 2 else writes[(i // 2) % len(writes)]
                     for i in range(n_ops)]  # writes and reads alternate
        # the last append leaves multi-file buckets, so compact has work
        self.plan += ["append", "compact"]
        self.rng = rng

    def warm_up(self, ctx: Context) -> None:
        from mr_spark.acid import SnapshotTable

        # a throwaway table exercises the commit path outside the timed set
        df = ctx.spark.createDataFrame([(1, "a", 1), (2, "b", 2)], SCHEMA)
        t = SnapshotTable.create(ctx.spark, os.path.join(ctx.scratch, "snapshot", "warm"),
                                 df, key="k", n_buckets=2)
        t.merge_upsert(ctx.spark.createDataFrame([(2, "c", 3)], SCHEMA))
        t.read().toPandas()
        df = ctx.spark.createDataFrame(self.model, SCHEMA)
        self.table = SnapshotTable.create(ctx.spark, self.path, df, key="k",
                                          n_buckets=self.N_BUCKETS)
        self.history = {self.table.latest_version(): list(self.model)}

    def _batch(self, kind: str):
        """The rows (or keys) a write submits, and the new model."""
        rng, model = self.rng, self.model
        live_keys = sorted({r[0] for r in model}) or [0]
        if kind == "merge_upsert":
            keys = set(rng.sample(live_keys, min(150, len(live_keys))))
            keys |= {self.next_key + i for i in range(50)}
            self.next_key += 50
            rows = [(k, rng.choice(WORDS), rng.randrange(1_000_000)) for k in sorted(keys)]
            return rows, [r for r in model if r[0] not in keys] + rows
        if kind == "append":
            rows = [(self.next_key + i, rng.choice(WORDS), rng.randrange(1_000_000)) for i in range(80)]
            rows += [(k, rng.choice(WORDS), rng.randrange(1_000_000)) for k in rng.sample(live_keys, 20)]
            self.next_key += 80
            return rows, model + rows
        if kind in ("delete_cow", "delete_dv"):
            keys = set(rng.sample(live_keys, min(60, len(live_keys))))
            return [(k,) for k in sorted(keys)], [r for r in model if r[0] not in keys]
        # update: one key range gets a new v
        lo = rng.randrange(max(1, self.next_key - 200))
        hi, nv = lo + 150, rng.choice(WORDS)
        return (lo, hi, nv), [(k, nv, x) if lo <= k <= hi else (k, v, x) for k, v, x in model]

    def measure(self, ctx: Context) -> None:
        spark, t = ctx.spark, self.table
        self.submitted_bytes = 0
        self.files_written: list[int] = []
        self.sink_bytes = 0
        self.read_files: list[int] = []
        self.deltas_folded: list[int] = []
        self.commit_retries = 0
        self.bytes_at_start = sum(_dir_files(self.path).values())
        for kind in self.plan:
            version = t.latest_version()
            if kind in ("read_latest", "read_time_travel", "changes"):
                self._read(ctx, kind, version)
                continue
            if kind == "compact":
                new_model = self.model
                build = t.compact
            else:
                batch, new_model = self._batch(kind)
                if kind == "update":
                    lo, hi, nv = batch
                    build = (lambda lo=lo, hi=hi, nv=nv:
                             t.update({"v": f"'{nv}'"}, where=("k", lo, hi)))
                else:
                    schema = "k bigint" if kind.startswith("delete") else SCHEMA
                    df = spark.createDataFrame(batch, schema)
                    self.submitted_bytes += pa.Table.from_pylist(
                        [dict(zip(("k", "v", "x"), r)) for r in batch]).nbytes
                    build = {
                        "merge_upsert": lambda df=df: t.merge_upsert(df),
                        "append": lambda df=df: t.append(df),
                        "delete_cow": lambda df=df: t.delete_keys(df, mode="cow"),
                        "delete_dv": lambda df=df: t.delete_keys(df, mode="dv"),
                    }[kind]
            before = _dir_files(self.path) if ctx.rec.traced else {}
            new_version, op = ctx.rec.op(kind, "commit", build)
            if ctx.rec.traced:
                after = _dir_files(self.path)
                new = {p: s for p, s in after.items() if p not in before}
                self.files_written.append(len(new))
                self.sink_bytes += sum(s for p, s in new.items() if "/_log" not in p)
                self.commit_retries += t.last_commit_retries
            if op.ok and new_version != version:
                self.model = new_model
                self.history[new_version] = list(new_model)
            elif op.ok and sorted(new_model) != sorted(self.model):
                ctx.check(op, [f"{kind} changed the model but committed nothing"])

    def _read(self, ctx: Context, kind: str, version: int) -> None:
        t = self.table
        if kind == "read_latest":
            pdf, op = ctx.rec.op(kind, "read", lambda: t.read(), lambda df: df.toPandas())
            want = self.history[version]
        elif kind == "read_time_travel":
            v = self.rng.choice(sorted(self.history))
            pdf, op = ctx.rec.op(kind, "read", lambda: t.read(version=v), lambda df: df.toPandas())
            want = self.history[v]
        else:
            v0 = max(v for v in self.history if v < version) if len(self.history) > 1 else version
            pdf, op = ctx.rec.op(kind, "read", lambda: t.changes(v0, version),
                                 lambda df: df.toPandas())
            want = expected_feed(self.history[v0], self.history[version])
            ctx.timed_check(op, lambda: feed_diff(pdf, want))
            self._read_counters(ctx, version)
            return
        ctx.timed_check(op, lambda: rows_diff(pdf, want))
        self._read_counters(ctx, version)

    def _read_counters(self, ctx: Context, version: int) -> None:
        if ctx.rec.traced:
            t = self.table
            self.deltas_folded.append((t.last_resolution or {}).get("deltas_folded", 0))
            self.read_files.append(len(t.data_paths(version)))

    def final_check(self, ctx: Context) -> None:
        """The final state and the whole change feed against the model."""
        t = self.table
        first, last = min(self.history), t.latest_version()
        pdf, op = ctx.rec.op("final_read", "check", lambda: t.read(), lambda df: df.toPandas())
        ctx.timed_check(op, lambda: rows_diff(pdf, self.model))
        feed, op = ctx.rec.op("final_changes", "check", lambda: t.changes(first, last),
                              lambda df: df.toPandas())
        ctx.timed_check(op, lambda: feed_diff(feed, expected_feed(self.history[first], self.model)))

    def layer_metrics(self, ops) -> dict:
        from measure import percentile, tail_percentile

        commits = [o for o in ops if o.kind == "commit"]
        reads = [o for o in ops if o.kind == "read"]
        cl = [o.latency_s for o in commits]
        rl = [o.latency_s for o in reads]
        live = pa.Table.from_pylist([dict(zip(("k", "v", "x"), r)) for r in self.model]).nbytes
        final_bytes = sum(_dir_files(self.path).values())
        n = max(1, len(commits))
        return {
            "acid.jobs_per_commit": _mean_counter(commits, "jobs"),
            "acid.driver_s_per_commit": sum(
                o.latency_s - o.counters.get("job_s", 0.0) for o in commits) / n,
            "acid.files_written_per_commit": sum(self.files_written) / n,
            "acid.deltas_folded": sum(self.deltas_folded) / max(1, len(self.deltas_folded)),
            "acid.commit_retries": self.commit_retries,
            "acid.files_per_read": sum(self.read_files) / max(1, len(self.read_files)),
            "acid.commit_p50_s": percentile(cl, 50),
            "acid.commit_tail_s": percentile(cl, max(50, tail_percentile(len(cl)))),
            "acid.read_p50_s": percentile(rl, 50),
            "acid.read_tail_s": percentile(rl, max(50, tail_percentile(len(rl)))),
            "acid.write_amp": (final_bytes - self.bytes_at_start) / max(1, self.submitted_bytes),
            "acid.space_amp": final_bytes / max(1, live),
            "sources.sink_bytes_written": self.sink_bytes / n,
        }


def _mean_counter(ops, key: str) -> float:
    return sum(o.counters.get(key, 0) for o in ops) / max(1, len(ops))


WORKLOADS = {w.name: w for w in (TierAMapReduce, QueryMix, SnapshotDML)}
