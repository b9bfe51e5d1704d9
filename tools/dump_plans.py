"""Dump formatted physical plans with a one-line shuffle/broadcast
summary each.

    python tools/dump_plans.py                 # headline queries -> PLANS.md
    python tools/dump_plans.py --out plans/rNN --tag before q1 q3 ...

With --out, each query's plan goes to DIR/<query>_<tag>.txt (DIR/<query>.txt
without --tag): before/after evidence for a plan change. Run the default
form after changing any operator."""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mr_spark import operators as ops
from mr_spark import plans
from mr_spark.session import get_spark

HEADLINE = [
    "wc",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "top_k_per_group",
    "asof_join",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "ann_ivf_topk",
    "winnow_fingerprint",
    "scd2_history",
    "hash_sample",
    # round-6 additions: CDF-derived SCD2 (equi-join + min, no window),
    # dynamic partition overwrite read path, identity aggregate, the
    # Gopher battery's single-pass shape
    "cdc_scd2_history",
    "snapshot_replace_where",
    "acid_identity_columns",
    "gopher_rules",
    "market_share",
    "doc_chunking",
    "pack_context_windows",
    "contamination_ngrams",
    "zorder_key_lineitem",
    "repetition_quality",
    "semantic_dedup",
    "shuffle_shards",
    "dedup_keep_best",
    "lm_surprisal",
    "bm25_topk",
    "event_funnel",
    "mixture_weights",
    # late round-2 additions: trend/anomaly moments, spine gap-fill,
    # row-side pair gen, skyline prune, blocking joins, wedge join
    "regression_trend",
    "gapfill_daily_revenue",
    "event_cooccurrence",
    "pmi_collocations",
    "pareto_frontier",
    "fuzzy_match_pairs",
    "triangle_count",
    "histogram_prices",
    # third-session additions: distributed-rank deciles, concentration
    # windows, two-pass sketch, fixed-order folds, adaptive quantizer
    "market_concentration",
    "equidepth_histogram",
    "mad_outliers",
    "markov_transitions",
    "char_ngram_entropy",
    "kl_source_drift",
    "embedding_dim_stats",
    "weighted_sample",
    "heavy_hitters",
    "attribution_last_touch",
    "table_profile",
    "psi_drift",
    "copurchase_pairs",
    "bigram_perplexity",
    "rolling_active_users",
    "cuped_adjusted_ab",
    "seasonal_decompose",
    "kaplan_meier",
    "lateral_topn",
    # round-3 de-windowed plans: TakeOrderedAndProject top-k, range-binned
    # distributed NTILE, top-k-before-window vocab, capped substring join
    "q10_returned_items",
    "ntile_quartiles",
    "vocab_coverage",
    "exact_substring_pairs",
    # round-3 curation operators
    "ngram_novelty",
    "dup_span_stats",
    "dsir_importance_weights",
    "split_leakage_audit",
    "ann_recall_at_k",
    # round-4: hint-free PPJoin path, JVM-side UDAF count, acid read path
    "pandas_udaf_median",
    "acid_data_skipping",
    # round-5: PQ ANN codes scoring pass, zorder-clustered snapshot read
    "ann_pq_topk",
    "acid_optimize_zorder",
    # round-4 late additions: CDF-fed view maintenance, DPP star join,
    # injected runtime bloom filter
    "matview_incremental",
    "dpp_partition_pruned_join",
    "bloom_runtime_filter_join",
    # round-5: multi-commit CDF replay fold, keyed CDC replication read
    "matview_replay",
    "cdf_replication",
    # round-5 fourth session: multi-clause merge read, all-broadcast Q8
    # dim chain, generated-column table read
    "acid_merge_clauses",
    "q8_market_share",
    "acid_generated_columns",
    # round-7: predicate DML reads + C4 cleaning battery + widened read
    "acid_delete_where",
    "acid_update_where",
    "c4_rules",
    "acid_type_widening",
    "acid_analyze_stats",
    "line_dedup_stats",
    "acid_bloom_lifecycle",
    # round-8 additions
    "acid_predicate_grammar",
    "snapshot_sql_dml",
    "dedup_lines",
    "snapshot_clone_deep",
    "acid_column_defaults",
    "acid_row_tracking",
    # round-8 second session
    "snapshot_sql_insert",
    "dedup_spans",
    "quality_classifier",
    "snapshot_convert_in_place",
    "url_domain_stats",
    "dedup_neardup_docs",
    # round-8 third session: partition-spec evolution + hidden
    # partitioning read paths
    "acid_partition_evolution",
    "acid_hidden_partitioning",
]

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("queries", nargs="*", help="query names (default: the headline set)")
    ap.add_argument("--out", metavar="DIR", help="one plan file per query in DIR instead of PLANS.md")
    ap.add_argument("--tag", default="", help="file-name suffix under --out, e.g. before/after")
    ap.add_argument("--sf-dir", default=SF_DIR, help=f"table directory (default {SF_DIR})")
    args = ap.parse_args()
    names = args.queries or HEADLINE
    spark = get_spark("dump-plans", cpus=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = ops.queries()
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `tools/dump_plans.py` at sf0.001 (plan shape is",
        "sf-independent). Things to look for: `PushedFilters`/`ReadSchema`",
        "on every scan, `BroadcastHashJoin` for dims, `partial_` aggregates",
        "before each exchange, and the exchange count per query.",
        "",
    ]
    for name in names:
        df = qs[name](spark, args.sf_dir)
        # escape control chars (e.g. triangle_count's \x00 key separator
        # literal) — a single NUL makes grep treat PLANS.md as binary
        plan = plans.formatted(df).replace("\x00", "\\x00")
        summary = (
            f"exchanges: {plan.count(') Exchange')} · "
            f"broadcast joins: {plan.count('BroadcastHashJoin')}"
        )
        spark.catalog.clearCache()
        if args.out:
            path = os.path.join(args.out, f"{name}_{args.tag}.txt" if args.tag else f"{name}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"{name}: {summary} -> {path}")
            continue
        out += [f"## {name}", "", summary, "", "```", plan.strip(), "```", ""]
    if not args.out:
        with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
            f.write("\n".join(out))
        print(f"wrote PLANS.md ({len(names)} queries)")


if __name__ == "__main__":
    main()
