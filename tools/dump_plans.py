"""Dump physical-plan summaries for the benchmark queries into PLANS.md.

For each bench-tagged query: scans (with PushedFilters + ReadSchema), join
strategies, exchanges, and whole-stage-codegen coverage — the evidence that
filters push down, dims broadcast, and the hot path stays JVM-side.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

INTERESTING = re.compile(
    r"PushedFilters|ReadSchema|Join|Exchange|WholeStageCodegen|"
    r"TakeOrderedAndProject|HashAggregate|Window|Generate|Scan parquet"
)


def main() -> None:
    from entity_etl_spark.queries import REGISTRY
    from entity_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan summaries of the benchmark queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. For each",
        "bench-tagged query: scan pushdown/pruning, join strategy, exchanges,",
        "and codegen spans. Lines are filtered from `.explain('formatted')`.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    # scale-critical round-2 operators get plan evidence alongside the bench
    # set (their claims: map-only PII, one-exchange packing, hash-join
    # SimHash blocking, slim dedup shuffle, broadcast bloom probe)
    SCALE_OPS = [
        "pii_redact", "pack_sequences", "simhash_near_dups", "dedup_exact",
        "repetition_quality", "contamination_check", "zorder_clustering_key",
        "audio_wav_features", "hbs_render", "bpe_token_counts",
        # round-2 later additions (claims: dims broadcast, partial sketch
        # aggs map-side, lateral decorrelated to a rank window, per-iteration
        # co-partitioned pagerank join, map-only video decode)
        "q13_custdist", "q15_top_supplier", "q16_part_supplier_variety",
        "q22_rich_idle_customers", "hll_sketch_merge_daily",
        "lateral_top_orders", "pagerank_customer_supplier",
        "video_frame_features",
        # round-3 additions (claims: NLJ-free span chains, pure-codegen
        # classifier, slim snapshot-diff shuffle, one-pass profiler,
        # broadcast sketch algebra, binaryFile media scan)
        "repeated_substring_spans", "quality_classifier_gate",
        "table_snapshot_diff", "profile_table", "theta_sketch_set_ops",
        "kll_quantile_sketch_merge", "media_file_ingest",
        "minhash_dedup_incremental", "ewma_per_user", "bpe_learn_merges",
        "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q8_market_share", "q21_waiting_supplier",
        # round-3 second wave (claims: term-filtered BM25 tf shuffle,
        # WindowGroupLimit-capped postings/quota, bucketed shuffle rank,
        # vocab-only BPE fold, grouped-docs-only keep-best window,
        # broadcast quartile curriculum, sign-merged retraction delta,
        # keyed boilerplate joins, raw-Arrow norm seam)
        "bm25_topk", "inverted_index_postings", "bitmap_distinct_users",
        "deterministic_shuffle_rank", "bpe_encode_tokens",
        "neardup_keep_best", "curriculum_quality_buckets",
        "per_source_quota", "incremental_agg_retractions",
        "boilerplate_segment_removal", "vector_norms_arrow",
        "value_histogram", "decimal_arithmetic_funcs",
        "linear_regression_funcs", "ab_test_welch",
        "hourly_seasonal_anomalies", "cusum_drift_detection",
        "data_quality_checks", "transpose_type_stats",
        "seasonal_naive_backtest", "entity_resolution_customers",
        "repeated_substring_spans_cdc", "markov_event_transitions",
        "ks_two_sample_test", "token_entropy_by_source",
        # round-6b additions (claims: map-only Gopher gate, zero-shuffle
        # centroid assignment; kmeans_lloyd_2iter rides the bench2 group)
        "gopher_quality_gate", "kmeans_assign_embeddings",
    ]

    def emit(name, q):
        try:
            plan = q.fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            lines.extend([f"## {name}", "", f"ERROR: {e}", ""])
            return
        kept = [
            ln.rstrip()[:140]
            for ln in plan.splitlines()
            if INTERESTING.search(ln)
        ]
        lines.extend([f"## {name}", "", "```", *kept, "```", ""])

    for name, q in REGISTRY.items():
        if "bench" in q.tags:
            emit(name, q)
    lines.extend(["", "# Heavy-group plans (bench2)", ""])
    for name, q in REGISTRY.items():
        if "bench2" in q.tags:
            emit(name, q)
    lines.extend(["", "# Scale-operator plans (non-bench)", ""])
    for name in SCALE_OPS:
        if name in REGISTRY and "bench" not in REGISTRY[name].tags:
            emit(name, REGISTRY[name])
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(lines)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
