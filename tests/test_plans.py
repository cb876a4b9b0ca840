"""Physical-plan guards (SURVEY.md §2 scale notes; VERDICT r2 'plan audit').

Correctness tests prove the small-SF answer; these prove the PLAN — the
thing that decides whether the same query survives 100× data. Every
registered query with join structure must compile without a cartesian
product or an unbounded nested-loop join, the TPC-H dimension joins must
broadcast, and selective scans must push their predicates into the parquet
reader. A regression here is a scale bug even when every value still
matches at sf0.01.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

#: registered queries whose plans must stay free of CartesianProduct and
#: BroadcastNestedLoopJoin — the two shapes that are O(n·m) at any cluster
#: size. emb_knn is deliberately absent: its brute-force baseline broadcasts
#: the |Q|-bounded query side into a nested-loop by design (the scale paths
#: are emb_knn_lsh / emb_knn_ivf, which ARE guarded).
GUARDED = [
    "q3_shipping_priority",
    "q4_late_orders",
    "q5_regional_revenue",
    "q14_promo_revenue",
    "docs_minhash_lsh_pairs",
    "docs_ngram_jaccard",
    "docs_simhash_pairs",
    "emb_near_pairs",
    "emb_knn_lsh",
    "emb_knn_ivf",
    "docs_dedup_keeplist",
    "docs_prep_pipeline",
    "docs_tfidf_terms",
    "events_asof_click",
    "events_asof_next_error",
    "events_type_topk",
    "sources_attach",
    "blacklist_anti",
    "dedup_earliest",
    "q13_order_distribution",
    "q16_brand_suppliers",
    "q17_small_qty_revenue",
    "q18_large_orders",
    "shipments_in_order_window",
    "docs_decontaminate",
    "emb_semantic_dedup",
    # round-10 late adds
    "events_cohort_retention",
    "events_ohlc",
    # round-6 extended TPC-H shapes (q22_idle_customers is deliberately
    # absent: its average-gate is a broadcast of a literal ONE-ROW aggregate
    # — the nested-loop is 1×n by construction, same class as emb_knn)
    "q2_min_cost_supplier",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q15_top_supplier",
    "q19_disjunctive_revenue",
    "q20_supplier_semijoin",
    "q21_waiting_supplier",
    "events_funnel",
    "events_click_and_purchase",
    # round-8 additions (emb_mmr_topk is deliberately absent: its exact
    # top-10 pool retrieval broadcasts the |Q|-bounded query side into a
    # nested loop by design, same class as emb_knn)
    "docs_dup_span_coverage",
    "docs_dup_span_strip",
    "docs_filter_funnel",
    "events_user_day_outer",
    "docs_source_quality_mix",
    # round-10 late adds: soft dedup / novelty / transitions
    "docs_soft_dedup_weights",
    "docs_ngram_novelty",
    "events_transition_matrix",
    "docs_contamination_report",
]


def _plan_of(spark, name: str) -> str:
    from mempool_dumpster_spark.plans.registry import all_queries

    df = all_queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module", autouse=True)
def _need_testdata():
    if not os.path.isdir(SF_DIR):
        pytest.skip("driver testdata not present")


@pytest.mark.parametrize("name", GUARDED)
def test_no_quadratic_join_shapes(spark, name):
    plan = _plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name} compiles to a cartesian product"
    assert (
        "BroadcastNestedLoopJoin" not in plan
    ), f"{name} compiles to a nested-loop join"


def test_tpch_dimension_joins_broadcast(spark):
    """q3/q5: every dimension join must be a broadcast hash join — the fact
    table shuffles at most once, dims never do."""
    for name in ("q3_shipping_priority", "q5_regional_revenue"):
        plan = _plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast joins"
        # the only sort-merge allowed in q5 is the lineitem↔orders fact join
        assert plan.count("SortMergeJoin") <= 1, f"{name} shuffles a dimension"


@pytest.mark.parametrize(
    "name,max_smj",
    [
        ("q7_nation_volume", 1),
        ("q9_product_profit", 1),
        # q10 keeps customer's wide descriptive row through the aggregate:
        # customer is NOT broadcastable at scale, so its orders join is the
        # one extra legitimate shuffle
        ("q10_returned_items", 2),
    ],
)
def test_extended_tpch_single_fact_shuffle(spark, name, max_smj):
    """The round-6 multi-way joins: dimension sides must broadcast — only
    the fact-fact joins (lineitem↔orders, and for q10 orders↔customer) may
    sort-merge; one more would mean a dimension started shuffling."""
    plan = _plan_of(spark, name)
    assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast joins"
    assert plan.count("SortMergeJoin") <= max_smj, f"{name} shuffles a dimension"


def test_q6_pushes_filters_and_prunes(spark):
    """Q6: the selective conjunctive predicate must reach the parquet reader
    (PushedFilters on shipdate/discount/quantity) and the scan must read only
    the 4 referenced columns — the whole point of the Q6 shape."""
    plan = _plan_of(spark, "q6_forecast_revenue")
    pf = plan[plan.index("PushedFilters") :].split("\n", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed: {pf}"
    read = plan[plan.index("ReadSchema") :].split("\n", 1)[0]
    assert read.count(",") == 3, f"q6 reads more than its 4 columns: {read}"


def test_point_lookup_pushes_filters(spark):
    """F7 point lookup: the hash predicate must reach the parquet scan
    (PushedFilters), not run as a post-scan filter over the full table."""
    plan = _plan_of(spark, "point_lookup")
    assert "PushedFilters: [" in plan
    start = plan.index("PushedFilters: [")
    assert plan[start : start + 200].count("Isnotnull") + plan[
        start : start + 200
    ].count("IsNotNull") >= 1


def test_projection_prunes_columns(spark):
    """Column pruning: included_split groups on a predicate over
    events.value only, so the parquet scan's ReadSchema must be exactly that
    one column — none of the table's other columns (ts, user_id, props json,
    ...) may reach the reader. (The plan's global window is over the
    ~2-row post-aggregation frame — benign at any scale.)"""
    plan = _plan_of(spark, "included_split")
    read = plan[plan.index("ReadSchema") :].split("\n", 1)[0]
    assert "ReadSchema: struct<value:double>" in read, read


@pytest.mark.parametrize(
    "name",
    [
        "docs_redact_pii",
        "docs_mix_corpus",
        "docs_pretoken_stats",
        "docs_repetition",
    ],
)
def test_scalar_ml_queries_shuffle_free(spark, name):
    """The scalar LLM-pipeline passes (PII redaction, corpus mixing,
    pre-token counting) must compile to pure projections/filters — zero
    Exchange nodes. A shuffle here would mean a scalar map is paying a
    network pass at 100 TB."""
    plan = _plan_of(spark, name)
    assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"


def test_pack_sequences_single_shuffle(spark):
    """Auto-sharded packing: exactly one Exchange (the hash partition on
    the content-addressed shard key feeding applyInPandas) — the fold
    itself must not add further shuffles, and parallelism comes from the
    shard count, not a single-group funnel."""
    plan = _plan_of(spark, "docs_pack_sequences")
    # formatted mode: one "(N) Exchange" node header per exchange, with the
    # hashpartitioning argument on its own line
    n_exchanges = plan.count(") Exchange")
    assert n_exchanges == 1, f"expected 1 shard shuffle, saw {n_exchanges}:\n{plan}"
    assert "Arguments: hashpartitioning(shard" in plan, plan
    assert "SinglePartition" not in plan, "packing collapsed to one partition"


def test_partitioned_archive_prunes(spark, tmp_path):
    """The date=/hour= layout the collector writes (ST2) must actually prune
    at read time: a day+hour predicate has to land in the scan's
    PartitionFilters — not as a post-scan filter over the whole archive.
    This is what makes the 100 TB archive point-queryable."""
    df = spark.createDataFrame(
        [
            ("2023-09-04", "00", "h1"),
            ("2023-09-04", "01", "h2"),
            ("2023-09-05", "00", "h3"),
        ],
        "date string, hour string, hash string",
    )
    root = str(tmp_path / "archive")
    df.write.partitionBy("date", "hour").parquet(root)

    q = spark.read.parquet(root).filter(
        (F.col("date") == "2023-09-04") & (F.col("hour") == "01")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf = plan[plan.index("PartitionFilters") :].split("\n", 1)[0]
    assert "date" in pf and "hour" in pf, pf
    assert [r["hash"] for r in q.collect()] == ["h2"]


def test_registry_driver_contract_invariants():
    """The driver records only the FIRST 50 registry entries: every one of
    those slots must carry an exact oracle (a rows-only entry there would
    burn a hash-checked slot), queries() and oracle_sql() keys must align,
    and the column-alias discipline holds — each oracle's SELECT output is
    compared by sorted column NAME, so a Spark/oracle alias mismatch fails
    at selfcheck; here we pin the cheap structural half."""
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = list(qs)
    assert len(names) == len(set(names))
    first50 = names[:50]
    missing = [n for n in first50 if n not in oracles]
    assert not missing, f"rows-only entries occupy driver slots: {missing}"
    assert set(oracles) <= set(qs)
    # the designated least-marginal entry stays dead last
    assert names[-1] == "emb_knn_ivf_pretrained"

    # Slot swaps must be DELIBERATE: the first-50 names are pinned HERE,
    # and changing them means editing this list with a rationale.
    #
    # r9 rotation (the r8 verdict's top item): the driver's slot set had
    # been frozen since r5, so the r6-r8 flagship operators were only
    # ever validated by the builder-run selfcheck. Ten redundant slots —
    # each a near-duplicate of a retained sibling exercising the same
    # operator family — ceded their slot to a flagship:
    #   dedup_earliest        → (keep-earliest kept via sourcelog_dedup,
    #                            docs_dedup_keep)   → docs_incremental_dedup
    #   docs_exact_dedup      → (kept docs_dedup_keep) → docs_mix_corpus
    #   trash_dedup           → (kept sourcelog_dedup) → manifest_version_diff
    #   docs_simhash          → (kept docs_simhash_pairs) → docs_bpe_merges
    #   docs_fingerprint      → (hash projection; kept docs_token_stats)
    #                                               → docs_ngram_lm_score
    #   events_type_topk      → (kept top_partkeys)  → emb_mmr_topk
    #   events_distinct_users → (kept per_source_counts) → docs_training_order
    #   events_daily_rollup   → (kept hourly_stats)  → docs_dup_span_strip
    #   q4_late_orders        → (semi-join kept via blacklist_anti)
    #                                               → docs_quality_curriculum
    #   q14_promo_revenue     → (conditional agg kept via included_split, q6)
    #                                               → q12_shipping_priority_split
    # (The verdict also nominated docs_bpe_train and emb_pca_project, but
    # both are rows-only entries — a driver slot must carry an exact
    # oracle, per the assertion above — so their oracle-checked siblings
    # docs_bpe_merges / emb_mmr_topk took the slots.)
    # All demoted entries remain oracle-checked every round via the
    # selfcheck sweep (tests/test_sweep.py, both scales).
    #
    # r10 rotation (the r9 verdict's #7): one swap —
    #   docs_quality → media_frame_knn
    # The multimodal family had no driver-slot representation beyond
    # decode (docs_binary_stats covers header parsing only); media_frame_knn
    # exercises the full MP4 sample-table walk → resize → feature →
    # knn handoff with an exact oracle. docs_quality's family stays
    # covered by the docs_gopher_rules and docs_quality_curriculum slots.
    #
    # r10 late rotation: one swap —
    #   docs_simhash_pairs → docs_dsir_sample
    # The new training-data SELECTION family (ml/selection.py) had no
    # driver-slot representation, while near-dup pair mining held THREE
    # slots; docs_minhash_lsh_pairs and docs_ngram_jaccard keep covering
    # that family, and docs_simhash_pairs stays oracle-checked every
    # round via the selfcheck sweep (both scales). docs_dsir_sample is
    # the selection flagship: exact oracle at sf0.01/sf0.1 and in the
    # 10× stress set.
    #
    # r12 rotation (the r11 verdict's #4, carried from r10 #4): one swap —
    #   docs_ngram_jaccard → docs_wordpiece_encode
    # The tokenizer SERVE side had zero driver-slot representation
    # (docs_bpe_merges covers training only), while near-dup pair mining
    # held two slots; docs_minhash_lsh_pairs keeps covering that family
    # (same LSH-candidate machinery, exact oracle), and docs_ngram_jaccard
    # stays oracle-checked every round via the selfcheck sweep (both
    # scales) plus the 10× stress gate. docs_wordpiece_encode is the
    # match-based tokenizer family's exactly-replayable representative:
    # greedy longest-match is deterministic by construction and its
    # position-baked digest oracle is exact up to the 100× tier
    # (SELFCHECK_r10_sf10, re-verified r11).
    #
    # r10 fourth-batch rotation: one swap —
    #   q6_forecast_revenue → docs_nb_classify
    # The supervised token-vote classifier (model-based filtering, the
    # fastText-classifier role in curation pipelines) is a new family
    # with a full exact oracle at sf0.01/sf0.1 and in the 10× stress
    # set; q6's filtered-sum / pushed-filter surface stays driver-
    # covered by q1_pricing_summary, q12_shipping_priority_split and
    # included_split, and q6 remains oracle-checked every round via the
    # selfcheck sweep (both scales).
    #
    # r16 rotation (the r15 verdict's #8): one swap —
    #   docs_dedup_keeplist → emb_bucket_sig_digest
    # The digest twins (scale-evidence queries whose linear oracles make
    # 100×-tier exact hashing feasible) had zero driver-slot
    # representation — all three were selfcheck/overflow-only. The
    # bucket-signature digest is the SemDeDup LSH stage's md5-hyperplane
    # component chain, exact-oracled at every tier up to 200k vectors;
    # promoting it gives the digest-twin pattern an independent
    # driver-side gate every round. docs_dedup_keeplist ceded because
    # every stage of its composition already holds its own slot
    # (docs_minhash_lsh_pairs, docs_dup_components, docs_dedup_keep) —
    # the least marginal signal in the artifact — and it stays
    # oracle-checked every round via the selfcheck sweep (both scales).
    expected = [
        "docs_langid", "docs_redact_pii", "docs_pack_sequences",
        "docs_mix_corpus", "docs_dedup_keep",
        "docs_minhash_lsh_pairs", "docs_token_stats",
        "docs_binary_stats", "emb_knn", "emb_near_pairs",
        "emb_bucket_sig_digest",
        "emb_centroids", "docs_bpe_merges", "docs_wordpiece_encode",
        "docs_ngram_lm_score",
        "docs_quality_curriculum", "docs_dup_span_strip",
        "docs_dup_components", "docs_gopher_rules",
        "docs_tfidf_terms", "docs_prep_pipeline", "docs_split_assign",
        "docs_decontaminate", "docs_training_order",
        "docs_incremental_dedup", "manifest_version_diff", "emb_mmr_topk",
        "media_frame_knn", "docs_dsir_sample", "docs_nb_classify",
        "sourcelog_dedup", "sources_attach", "first_source_counts",
        "exclusive_orderflow", "included_split", "per_source_counts",
        "hourly_stats", "blacklist_anti", "point_lookup",
        "json_props_stats", "value_quantiles", "q1_pricing_summary",
        "q3_shipping_priority", "q5_regional_revenue",
        "q13_order_distribution", "shipments_in_order_window",
        "top_partkeys", "events_asof_click", "events_sessions",
        "q12_shipping_priority_split",
    ]
    assert first50 == expected, (
        "driver slots diverge from the pinned rotation:\n"
        f"  added:   {[n for n in first50 if n not in expected]}\n"
        f"  dropped: {[n for n in expected if n not in first50]}\n"
        "If this swap is deliberate, update `expected` here with the "
        "rationale for each slot change."
    )


def test_ohlc_single_shuffle_and_tie_free_argmin(spark):
    """events_ohlc is the registry's only argmin/argmax aggregate: its whole
    point vs the window first/last pattern is ONE map-side-combined shuffle
    of |groups| rows and no sort. Guard both halves of that contract:

    - exactly one Exchange, and no Sort anywhere in the plan;
    - the determinism assumption — min_by(value, ts) is only well-defined
      because ts is globally unique in the events table. If a regenerated
      testdata drop ever introduces duplicate timestamps, this fails before
      the oracle can flake on tie order.
    """
    plan = _plan_of(spark, "events_ohlc")
    n_exchanges = plan.count(") Exchange")
    assert n_exchanges == 1, f"expected 1 shuffle, saw {n_exchanges}:\n{plan}"
    assert ") Sort" not in plan, f"argmin aggregate should not sort:\n{plan}"

    from mempool_dumpster_spark.plans.tables import load_tables

    ev = load_tables(spark, SF_DIR, ["events"])["events"]
    row = ev.agg(
        F.count("*").alias("n"), F.countDistinct("ts").alias("d")
    ).first()
    assert row["n"] == row["d"], (
        f"events.ts has {row['n'] - row['d']} duplicate timestamps — "
        "min_by/max_by tie order is engine-dependent; add a tiebreak "
        "column to events_ohlc before trusting its oracle"
    )


def test_soft_dedup_weights_single_shuffle(spark):
    """soft dedup must cost exactly what exact dedup costs: one Exchange on
    the content digest — the weights are a post-shuffle projection."""
    plan = _plan_of(spark, "docs_soft_dedup_weights")
    n_exchanges = plan.count(") Exchange")
    assert n_exchanges == 1, f"expected 1 shuffle, saw {n_exchanges}:\n{plan}"


def test_transition_matrix_rows_normalize(spark):
    """Each from_type row of the transition matrix is a probability
    distribution over to_type, and counts conserve: every event with a
    successor is counted exactly once."""
    from mempool_dumpster_spark.plans.registry import all_queries
    from mempool_dumpster_spark.plans.tables import load_tables

    rows = all_queries()["events_transition_matrix"](spark, SF_DIR).collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    for fr, cells in by_from.items():
        assert abs(sum(c["prob"] for c in cells) - 1.0) < 1e-9, fr
    ev = load_tables(spark, SF_DIR, ["events"])["events"]
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n"] for r in rows) == ev.count() - n_users  # last-per-user


def test_ngram_novelty_conserves_and_bounds(spark):
    """Novelty credits partition the corpus vocabulary: sum(n_novel) equals
    the number of distinct shingles, the earliest doc is fully novel, and
    every ratio is a valid fraction of the doc's own shingle set."""
    from mempool_dumpster_spark.plans.registry import all_queries
    from mempool_dumpster_spark.plans.tables import load_tables
    from mempool_dumpster_spark.plans.text_queries import doc_shingles

    rows = all_queries()["docs_ngram_novelty"](spark, SF_DIR).collect()
    docs = load_tables(spark, SF_DIR, ["documents"])["documents"]
    vocab = doc_shingles(docs).select("shingle").distinct().count()
    assert sum(r["n_novel"] for r in rows) == vocab
    first = min(rows, key=lambda r: r["doc_id"])
    assert first["novelty"] == 1.0
    assert all(0.0 <= r["novelty"] <= 1.0 and r["n_novel"] <= r["n_grams"]
               for r in rows)


def test_parse_size_bytes_suffixes():
    """The maxPartitionBytes parser must accept every form Spark's own
    JavaUtils does for this conf (bare bytes, k/m/g/t with optional b,
    any case) and fall back to the default on garbage — the old
    int(value.rstrip('b')) crashed q1/emb_knn on a legitimate '128MB'."""
    from mempool_dumpster_spark.plans.tables import _parse_size_bytes

    assert _parse_size_bytes("134217728") == 134217728
    assert _parse_size_bytes("128m") == 128 * 1024**2
    assert _parse_size_bytes("128MB") == 128 * 1024**2
    assert _parse_size_bytes("64k") == 64 * 1024
    assert _parse_size_bytes("1g") == 1024**3
    assert _parse_size_bytes("2tb") == 2 * 1024**4
    assert _parse_size_bytes("1024b") == 1024
    assert _parse_size_bytes("garbage", default=7) == 7
    assert _parse_size_bytes("", default=7) == 7


def test_load_tables_memo_is_per_session(spark):
    """spark.newSession() shares the applicationId but has its OWN
    temp-view catalog: the scan memo must re-register views there
    instead of reporting a false 'already bound' hit (r16 advice)."""
    from mempool_dumpster_spark.plans.tables import load_tables

    load_tables(spark, SF_DIR, ["events"])
    assert spark.sql("SELECT count(*) FROM events").first()[0] > 0
    sibling = spark.newSession()
    try:
        load_tables(sibling, SF_DIR, ["events"])
        # the view must resolve in the SIBLING's catalog
        assert sibling.sql("SELECT count(*) FROM events").first()[0] > 0
    finally:
        sibling.catalog.dropTempView("events")
    # and the original session's binding is untouched
    assert spark.sql("SELECT count(*) FROM events").first()[0] > 0


#: queries whose plans reference a within-query .cache() more than once
CACHED_SUBTREE_QUERIES = [
    "docs_minhash_lsh_pairs",
    "docs_ngram_jaccard",
    "emb_mmr_topk",
]


@pytest.mark.parametrize("name", CACHED_SUBTREE_QUERIES)
def test_within_query_caches_survive_construction(spark, name):
    """The cached intermediate frame must still be cached when the query
    runs: its optimized plan reads an InMemoryRelation. Routing the frame
    through a temp view and dropping the view afterwards uncaches it and
    leaves zero, so every reference recomputes the subtree."""
    from mempool_dumpster_spark.plans.registry import all_queries

    df = all_queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("InMemoryRelation") >= 1, f"{name} lost its cache"


def _build_cached_subtree_users(s):
    """Construct the three cached-subtree queries and minhash_signatures,
    which reference an intermediate frame more than once, plus mmr_rerank:
    it reads its pool once and caches nothing, and is kept so the
    catalog-unchanged check below still covers it."""
    from mempool_dumpster_spark.ml.dedup import minhash_signatures, shingle_sets
    from mempool_dumpster_spark.ml.similarity import mmr_rerank
    from mempool_dumpster_spark.plans.registry import all_queries
    from mempool_dumpster_spark.plans.tables import load_tables

    docs = load_tables(s, SF_DIR, ["documents"])["documents"]
    pool = s.createDataFrame(
        [(1, 10, 900, [1.0, 0.0]), (1, 11, 800, [0.0, 1.0])],
        "query_id long, neighbor_id long, s_bp long, unit array<double>",
    )
    return [
        *(all_queries()[q](s, SF_DIR) for q in CACHED_SUBTREE_QUERIES),
        mmr_rerank(pool, k=2),
        minhash_signatures(shingle_sets(docs)),
    ]


def test_query_construction_leaves_catalog_unchanged(spark):
    """Building the cached-subtree users registers no name in the session
    catalog, in the session and in a newSession() sibling (each with its
    own temp-view catalog), and leaves a caller's own temp views that
    share an intermediate's name bound to the caller's data."""
    from mempool_dumpster_spark.plans.tables import load_tables

    spark.range(7).createOrReplaceTempView("__mmr_rr_pool")
    sibling = spark.newSession()
    try:
        for s in (spark, sibling):
            load_tables(s, SF_DIR, ["documents", "embeddings"])
            before = {t.name for t in s.catalog.listTables()}
            built = _build_cached_subtree_users(s)
            assert {t.name for t in s.catalog.listTables()} == before
        # the plans built in the sibling still run
        assert built[-2].count() == 2 and built[-1].count() > 0
        assert spark.table("__mmr_rr_pool").count() == 7
    finally:
        spark.catalog.dropTempView("__mmr_rr_pool")
