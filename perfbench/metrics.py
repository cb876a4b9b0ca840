"""Every metric the benchmark reports, with its unit. BENCHMARK.json lists
the same names (a test keeps the two in step).

End-to-end metrics are reported by every workload; what one operation is
differs per workload (see README.md). Per-layer metrics are reported by
every traced run; a layer that a workload does not run reads 0."""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "ok_frac": "frac",
    "first_s": "s",
    "p50_s": "s",
    "rate_per_s": "1/s",
}

#: the registry queries of catalog_queries: the 14 ROADMAP headline queries
#: plus emb_mmr_topk
CATALOG_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "top_partkeys",
    "dedup_earliest",
    "sources_attach",
    "first_source_counts",
    "hourly_stats",
    "value_quantiles",
    "docs_exact_dedup",
    "docs_ngram_jaccard",
    "docs_minhash_lsh_pairs",
    "docs_simhash",
    "emb_knn",
    "emb_mmr_topk",
]

#: the queries whose within-query caches ROADMAP item 1 restores
CACHED_SUBTREE_QUERIES = ["docs_minhash_lsh_pairs", "docs_ngram_jaccard", "emb_mmr_topk"]

PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.rows_in": "count",
    "sources.rows_rejected": "count",
    "sources.write_s": "s",
    "sources.bytes_written_per_tx": "B",
    "sources.scan_bytes": "B",
    "functions.parse_us_per_tx": "us",
    "functions.parse_py_us_per_tx": "us",
    "functions.hash_us_per_tx": "us",
    "functions.parse_fail_frac": "frac",
    "operators.blacklist_s": "s",
    "operators.dedup_s": "s",
    "operators.dedup_ratio": "frac",
    "operators.attach_sources_s": "s",
    "operators.analyze_s": "s",
    "plans.merge_construct_s": "s",
    "plans.construct_s": "s",
    "plans.optimize_s": "s",
    "plans.execute_s": "s",
    **{f"catalog.{q}.execute_s": "s" for q in CATALOG_QUERIES},
    **{f"plans.cached_nodes.{q}": "count" for q in CACHED_SUBTREE_QUERIES},
    **{f"plans.exchanges.{q}": "count" for q in CACHED_SUBTREE_QUERIES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_max_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.driver_gap_s": "s",
    "spark.peak_rss_mb": "MB",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.offset_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.state_commit_s": "s",
    "streaming.p50_s": "s",
    "streaming.tail_s": "s",
    "streaming.drain_rps": "1/s",
    "generator.late_max_s": "s",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}
