"""Training-data pipeline query surface: deduplication, similarity search,
text analysis, multimodal byte-column stats — over `documents` and
`embeddings` (TESTDATA.md). These are the 100 TB-scale extensions beyond the
reference's own operators (see task brief); each is expressed as declarative
DataFrame ops so Catalyst keeps the whole plan JVM-side — no Python UDFs in
any of these paths.

Cross-engine determinism: hashes are md5 hex strings (identical in Spark and
DuckDB), set similarities are exact integer ratios cast to double, cosine
similarities are rounded to 4 decimals before ranking with id tiebreakers.

Indexing note: Spark SQL `array[i]` is 0-based while `element_at(arr, i)` and
DuckDB `list[i]` are 1-based — everything here uses the 1-based forms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mempool_dumpster_spark.ml.similarity import cosine_near_pairs, dot, dot_sql
from mempool_dumpster_spark.plans.registry import register
from mempool_dumpster_spark.plans.tables import load_tables, scan_spread_hint

# ---------------------------------------------------------------------------
# Shared building blocks
# ---------------------------------------------------------------------------


def words_col(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def shingles_expr(words: Column, k: int = 3) -> Column:
    """Word k-gram shingles as space-joined strings; empty array when the
    document has fewer than k words (guards Spark's descending `sequence`)."""
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - (k - 1))  # 1-based start positions
    mk = lambda i: F.concat_ws(
        " ", *[F.element_at(words, (i + off).cast("int")) for off in range(k)]
    )
    return F.when(n >= k, F.transform(idx, mk)).otherwise(
        F.array().cast("array<string>")
    )


def doc_shingles(docs: DataFrame, k: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) — the shingle bag (distinct=False) or set per doc.

    Plan choices for the CPU-bound shingling projection:
    - spread the input over cores first (a byte-small scan is 1 split, and
      shingling cost scales with words, not bytes) — HASHED on doc_id, not
      round-robin (r16): every consumer aggregates or dedups on doc_id (or
      a superset of it), and HashPartitioning(doc_id) satisfies those
      ClusteredDistributions outright, so the downstream groupBy/distinct
      plans WITHOUT its own Exchange — the exploded shingle rows never
      cross a second shuffle (guide §2.4: two operations keyed the same
      way share one exchange). docs ≫ partitions at every SF, so the
      hash spread matches round-robin's balance;
    - materialize `split(text)` ONCE per doc before the k-gram lambda —
      Catalyst does not CSE a non-deterministic-width expression inside
      higher-order-function lambdas, so inlining the split would re-split
      the text for every element_at;
    - callers whose downstream aggregate is idempotent under duplicates
      (min for MinHash, collect_set) pass distinct=False and skip a whole
      shuffle of the exploded shingle rows."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    w = docs.repartition(par, "doc_id").select("doc_id", words_col().alias("__w"))
    out = w.select(
        "doc_id", F.explode(shingles_expr(F.col("__w"), k)).alias("shingle")
    )
    return out.distinct() if distinct else out


#: DuckDB rendering of the same shingle set (1-based list indexing).
#: The split happens ONCE in a subquery — inlining string_split into the
#: list_transform lambda re-splits the text per element (O(words²) splits
#: per doc; measured 10× slower at sf0.1, identical rows).
DUCK_SHINGLES = """
      SELECT DISTINCT doc_id, unnest(
               CASE WHEN len(w) >= 3 THEN
                 list_transform(range(1, len(w) - 1),
                                i -> w[i] || ' ' ||
                                     w[i+1] || ' ' ||
                                     w[i+2])
               ELSE [] END) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "docs_exact_dedup",
    overflow=True,  # r9 slot rotation: redundant with a retained sibling; still oracle-checked via selfcheck
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           CAST(count(*) AS BIGINT) - CAST(count(DISTINCT md5(text)) AS BIGINT)
             AS n_dups
    FROM documents GROUP BY source
    """,
    doc="Exact dedup via content hash (hash-groupBy). At 100 TB: hash is "
    "computed map-side, shuffle moves (source, md5) pairs only.",
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dups"),
    )


@register(
    "docs_soft_dedup_weights",
    overflow=True,
    oracle="""
    SELECT doc_id, source,
           CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
             AS multiplicity,
           CAST(1 AS DOUBLE) / count(*) OVER (PARTITION BY md5(text))
             AS weight,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(string_split(text, ' ')) AS DOUBLE)
             / count(*) OVER (PARTITION BY md5(text)) AS eff_tokens
    FROM documents
    """,
    doc="Soft deduplication (SoftDeDup, Xue et al. 2024): instead of "
    "dropping duplicates, every doc gets sampling weight 1/multiplicity "
    "so a document duplicated m times contributes one copy's worth of "
    "gradient — no data is lost, but duplicated mass stops dominating "
    "the token budget. eff_tokens is what a budget allocator "
    "(docs_budget_fill / docs_mix_corpus) should charge per doc. Scale "
    "shape: identical to exact dedup — ONE shuffle on the map-side md5 "
    "digest; the weights are a post-shuffle projection. All divisions "
    "are double/bigint — bit-identical IEEE across engines.",
)
def docs_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.dedup import soft_dedup_weights

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return soft_dedup_weights(docs).select(
        "doc_id", "source", "multiplicity", "weight", "n_tokens", "eff_tokens"
    )


@register(
    "docs_ngram_novelty",
    overflow=True,
    oracle=f"""
    WITH sh AS ({DUCK_SHINGLES}),
    firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
    novel AS (
      SELECT first_doc AS doc_id, count(*) AS n_novel
      FROM firsts GROUP BY first_doc
    ),
    totals AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(coalesce(n.n_novel, 0) AS DOUBLE) / t.n_grams AS novelty
    FROM totals t LEFT JOIN novel n USING (doc_id)
    """,
    doc="N-gram novelty curve: for each doc, the fraction of its distinct "
    "word-3-grams that no earlier doc (by training order = doc_id) "
    "contains — the freshness signal data-constrained scaling studies "
    "(Muennighoff et al. 2023) use to decide when repeating data stops "
    "paying, and a per-doc diagnostic for curriculum placement "
    "(docs_training_order). Scale shape: the only corpus-sized shuffle "
    "is the groupBy(shingle) min — the same exchange decontamination "
    "pays; first-doc credits and per-doc totals are doc-level aggregates "
    "joined on doc_id. No all-pairs anything: novelty against ALL "
    "predecessors falls out of the global min, not a pairwise compare. "
    "Single-scan form: the first-seen flag is a min() window over the "
    "gram partition, so the corpus is exploded ONCE and both per-doc "
    "counts come out of one aggregate — no join, no second explode "
    "(the explode is the dominant CPU at corpus scale, see the "
    "text_microcost bench section).",
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    first_doc = F.min("doc_id").over(Window.partitionBy("shingle"))
    return (
        doc_shingles(docs)
        .withColumn(
            "is_novel", (F.col("doc_id") == first_doc).cast("bigint")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("is_novel").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams")).alias(
                "novelty"
            ),
        )
    )


def _shared_band_pairs(sig: DataFrame, n_bands: int, n_col: str) -> DataFrame:
    """(doc_a, doc_b, n_col) for doc pairs whose min-hash columns m0..m{n-1}
    agree in at least 2 bands (r=1): a `stack` band spread self-joined on
    (band, key), so the shuffle is ∝ docs × bands, never docs²."""
    stack_args = ", ".join(f"{i}, m{i}" for i in range(n_bands))
    bands = sig.selectExpr(
        "doc_id", f"stack({n_bands}, {stack_args}) AS (band, key)"
    )
    return (
        bands.alias("a")
        .join(bands.alias("b"),
              F.expr("a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"))
        .groupBy(F.expr("a.doc_id AS doc_a"), F.expr("b.doc_id AS doc_b"))
        .agg(F.expr(f"count(*) AS {n_col}"))
        .where(f"{n_col} >= 2")
    )


@register(
    "docs_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({DUCK_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
    """,
    # r12 slot rotation (r11 verdict #4): ceded its driver slot to
    # docs_wordpiece_encode — the near-dup pair-mining family keeps
    # docs_minhash_lsh_pairs in the slots (same LSH-candidate machinery)
    # while the tokenizer SERVE side, exact at 100×, had no slot at all.
    # Still oracle-checked every round via the selfcheck sweep (both
    # standard scales) and exercised in the 10× stress gate.
    overflow=True,
    doc="Near-dup detection: exact n-gram Jaccard over word-3-gram shingle "
    "sets, computed scale-safe as MinHash-LSH candidates → exact verify. "
    "The oracle is the all-pairs definition; the Spark plan never runs an "
    "all-pairs join — candidate pairs come from a banded LSH equi-join "
    "(shuffle ∝ docs × bands) and the exact intersection is "
    "size(array_intersect) per candidate row. Banding is r=1/b=32/≥2 "
    "bands. History of the band count, because it is THE scale knob: b=8 "
    "missed 14 of ~900 planted j≈0.57 pairs at the 10× tier (1.3% "
    "per-pair miss; SELFCHECK_r09_sf1 caught it, r9 doubled to 16); b=16 "
    "missed exactly ONE pair — (2220, 20002220), jaccard exactly 0.5 — "
    "out of 288,293 at the 100× tier (P[Bin(16,0.5) < 2] = 17/2^16 ≈ "
    "2.6e-4 per edge pair, and 100× the pair volume finally bought a "
    "miss; r13 doubled to 32). At b=32 the edge-pair miss probability is "
    "33/2^32 ≈ 7.7e-9 — expected misses < 1e-2 even at a million "
    "threshold-edge pairs — and the bands shuffle stays ∝ docs. The "
    "general rule this encodes: per-pair miss falls EXPONENTIALLY in b, "
    "so exactness at k× the pair volume costs log(k) more bands, not "
    "more verify work. tests/test_ml.py::test_ngram_jaccard_band_"
    "assumption guards the residual (driver corpora keep their true "
    "pairs at ≥0.75, where b=32 misses ~1e-17).",
)
def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    # One aggregate produces the exact shingle set AND the per-band minhash
    # keys — shingling runs exactly once end-to-end, the bag skips the
    # distinct shuffle (collect_set dedups), and the hash-partitioned
    # REPARTITION hint pins the explode spread so the groupBy plans with NO
    # Exchange of the exploded bag (r16; see plans/r16/ before vs after).
    # The band keys are prefilter-only (unlike docs_minhash_lsh_pairs,
    # whose md5 minhash IS the oracle-checked output), so they use
    # xxhash64 — whole-stage-codegen'd, ~10× cheaper than md5. NB the
    # hashes must live in a plain aggregate, NOT inside a higher-order-
    # function lambda: `transform(shs, s -> xxhash64(i, s))` returns
    # corrupt values when several such lambdas share a projection
    # (subexpression-elimination bug over NamedLambdaVariable hash exprs —
    # observed on Spark 4.1: all 8 "different" band mins came back equal).
    #
    # Construction form: the `arrs` stage is ONE spark.sql over the base
    # table instead of ~500 py4j Column round-trips (the 32 min-hash
    # aggregates cost 0.94 s of plan construction per invocation through py4j,
    # measured r16). The band/verify joins are string expressions on the
    # `arrs` frame itself — a dozen round trips. The band explode is
    # `stack` (one Generate, same topology as the explode-of-structs form).
    n_bands = 32  # see the registry doc: the exactness-vs-scale knob
    par = spark.sparkContext.defaultParallelism
    mins = ", ".join(
        f"min(xxhash64({i}, shingle)) AS m{i}" for i in range(n_bands)
    )
    mcols = ", ".join(f"m{i}" for i in range(n_bands))
    # explode_outer, NOT explode (r16): a plain explode makes the optimizer
    # infer a `size(<generator input>) > 0` Filter below the Generate
    # (InferFiltersFromGenerate), and the generator input here is the whole
    # shingle-transform — so every doc paid the k-gram lambda TWICE (once in
    # the filter, once in the explode; the Generate is CodegenFallback, so
    # nothing CSEs them). outer explode infers no filter; the docs it adds
    # (< 3 words → one NULL-shingle row → empty collect_set) are dropped by
    # the post-aggregate size(shs) > 0 guard, which runs once per DOC.
    # Measured 0.455 → 0.332 s on the arrs stage, byte-identical rows.
    #
    # The .cache() below is a WITHIN-QUERY intermediate: both band
    # aliases and the two verify joins reference the `arrs` frame, which
    # would otherwise recompute the whole shingle pipeline 4×. It is never
    # named in the session catalog (dropping a temp view uncaches its
    # plan) nor unpersisted here; tests/test_plans.py pins its
    # InMemoryRelation in the optimized plan. CacheManager dedups
    # identical plans, so repeated calls reuse one entry; clearCache()
    # releases it (bench.py clears between timed runs).
    arrs = spark.sql(f"""
      SELECT doc_id, shs, CAST(size(shs) AS BIGINT) AS n_sh, {mcols}
      FROM (
        SELECT doc_id, collect_set(shingle) AS shs, {mins}
        FROM (
          SELECT doc_id, explode_outer(
            CASE WHEN size(__w) >= 3 THEN
              transform(sequence(1, size(__w) - 2),
                        i -> concat_ws(' ',
                               element_at(__w, CAST(i AS INT)),
                               element_at(__w, CAST(i + 1 AS INT)),
                               element_at(__w, CAST(i + 2 AS INT))))
            ELSE CAST(array() AS ARRAY<STRING>) END) AS shingle
          FROM (
            SELECT doc_id, split(text, ' ') AS __w
            FROM (SELECT /*+ REPARTITION({par}, doc_id) */ doc_id, text
                  FROM documents)
          )
        )
        GROUP BY doc_id
      ) WHERE size(shs) > 0
    """).cache()
    return (
        _shared_band_pairs(arrs, n_bands, "nb_shared")
        .join(arrs.alias("sa"), F.expr("sa.doc_id = doc_a"))
        .join(arrs.alias("sb"), F.expr("sb.doc_id = doc_b"))
        .selectExpr(
            "doc_a", "doc_b",
            "CAST(size(array_intersect(sa.shs, sb.shs)) AS DOUBLE)"
            " / (sa.n_sh + sb.n_sh - size(array_intersect(sa.shs, sb.shs)))"
            " AS jaccard",
        )
        .where("jaccard >= 0.5")
    )


def _minhash_cols(n_hashes: int = 8) -> list:
    """MinHash signature: h_i(s) = md5(i || ':' || s), min over the shingle
    set, as hex strings (identical across engines)."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"m{i}")
        for i in range(n_hashes)
    ]


def _duck_minhash(n_hashes: int = 8) -> str:
    cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS m{i}" for i in range(n_hashes)
    )
    return f"SELECT doc_id, {cols} FROM sh GROUP BY doc_id"


@register(
    "docs_minhash_lsh_pairs",
    oracle=f"""
    WITH sh AS ({DUCK_SHINGLES}),
    sig AS ({_duck_minhash(8)}),
    bands AS (
      SELECT doc_id, 0 AS band, m0 AS key FROM sig UNION ALL
      SELECT doc_id, 1, m1 FROM sig UNION ALL
      SELECT doc_id, 2, m2 FROM sig UNION ALL
      SELECT doc_id, 3, m3 FROM sig UNION ALL
      SELECT doc_id, 4, m4 FROM sig UNION ALL
      SELECT doc_id, 5, m5 FROM sig UNION ALL
      SELECT doc_id, 6, m6 FROM sig UNION ALL
      SELECT doc_id, 7, m7 FROM sig
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
    doc="MinHash-LSH candidate pairs: 8 md5-derived min-hashes per shingle "
    "set, banded r=1/b=8, candidates sharing ≥2 bands. The scale path for "
    "near-dup: signature is a map-side agg, the band self-join groups by "
    "band key so shuffle ∝ docs × bands, never docs².",
)
def docs_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    # cache: both self-join sides would otherwise re-run the whole
    # shingle→md5→agg pipeline (no exchange reuse across join aliases).
    # min() is duplicate-idempotent, so the shingle bag (no distinct
    # shuffle) feeds the aggregate directly: the 8×md5-per-shingle work
    # happens in the map-side partial aggregate on the parallel explode
    # partitions, and the only shuffle moves 8 hashes per doc. The band
    # spread is one `stack` Generate instead of an 8-way union: the union
    # re-evaluates the signature aggregation once per branch.
    # Construction form: `sig` is one spark.sql over the base table
    # instead of ~250 py4j Column round-trips (0.45 s of construction per
    # invocation, measured r16); the band self-join is string expressions
    # on the cached `sig` frame itself, so its cache reaches the plan.
    par = spark.sparkContext.defaultParallelism
    mins = ", ".join(
        f"min(md5(concat('{i}:', shingle))) AS m{i}" for i in range(8)
    )
    # explode_outer (r16): avoids the inferred size()>0 Filter that would
    # re-run the whole shingle transform per doc (see docs_ngram_jaccard).
    # No guard is needed here: a < 3-word doc yields one NULL shingle →
    # concat/md5 null-propagate → all-NULL mins → stack emits NULL band
    # keys, which the equi-join can never match, so the output pairs are
    # identical.
    sig = spark.sql(f"""
      SELECT doc_id, {mins}
      FROM (
        SELECT doc_id, explode_outer(
          CASE WHEN size(__w) >= 3 THEN
            transform(sequence(1, size(__w) - 2),
                      i -> concat_ws(' ',
                             element_at(__w, CAST(i AS INT)),
                             element_at(__w, CAST(i + 1 AS INT)),
                             element_at(__w, CAST(i + 2 AS INT))))
          ELSE CAST(array() AS ARRAY<STRING>) END) AS shingle
        FROM (
          SELECT doc_id, split(text, ' ') AS __w
          FROM (SELECT /*+ REPARTITION({par}, doc_id) */ doc_id, text
                FROM documents)
        )
      )
      GROUP BY doc_id
    """).cache()
    return _shared_band_pairs(sig, 8, "n_shared_bands")


def _simhash_bit_exprs_spark() -> Column:
    """16-bit SimHash vote aggregate over pre-projected nibble columns
    nib0..nib3 (see docs_simhash: md5 and conv run ONCE per word in the
    projection below the aggregate, not 16× inside it).

    bit j comes from hex digit j//4 of md5(word); each word votes ±1 per bit;
    simhash bit = (vote sum > 0). Pure integer arithmetic — identical in any
    engine.
    """
    total = F.lit(0)
    for j in range(16):
        nib = F.col(f"nib{j // 4}")
        bit = F.shiftright(nib, 3 - (j % 4)).bitwiseAND(F.lit(1))
        vote = F.sum(F.when(bit == 1, 1).otherwise(-1))
        total = total + F.when(vote > 0, F.lit(2**j)).otherwise(F.lit(0))
    return total.cast("bigint")


def _simhash_sql_duck() -> str:
    terms = []
    for j in range(16):
        c = j // 4 + 1
        shift = 3 - (j % 4)
        nib = f"(strpos('0123456789abcdef', substr(md5(word), {c}, 1)) - 1)"
        bit = f"(({nib} >> {shift}) & 1)"
        vote = f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"
        terms.append(f"CASE WHEN {vote} > 0 THEN {2**j} ELSE 0 END")
    return " + ".join(terms)


@register(
    "docs_simhash",
    overflow=True,  # r9 slot rotation: redundant with a retained sibling; still oracle-checked via selfcheck
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT doc_id, CAST({_simhash_sql_duck()} AS BIGINT) AS simhash16
    FROM w GROUP BY doc_id
    """,
    doc="SimHash document fingerprint (16-bit, tf-weighted word hashes). "
    "Near-dup docs land within small Hamming distance; at scale pairs are "
    "mined by banding the simhash bits, same topology as MinHash-LSH.",
)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    # CPU-bound md5-per-word projection: spread over cores, not scan splits.
    # Hashed on doc_id (r16) so the vote aggregate below needs no second
    # Exchange — partial+final collapse onto the pinned partitions.
    # r16 construction form: one spark.sql call instead of ~200 py4j
    # Column round-trips for the 16 vote terms (0.58 s of driver time per
    # invocation, measured; same optimized plan).
    par = spark.sparkContext.defaultParallelism
    terms = []
    for j in range(16):
        nib = f"nib{j // 4}"
        bit = f"(shiftright({nib}, {3 - (j % 4)}) & 1)"
        vote = f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"
        terms.append(f"CASE WHEN {vote} > 0 THEN {2**j} ELSE 0 END")
    total = " + ".join(terms)
    nibs = ", ".join(
        f"CAST(conv(substring(md5(word), {c + 1}, 1), 16, 10) AS INT) AS nib{c}"
        for c in range(4)
    )
    # explode_outer + count guard (r16): a plain explode makes the
    # optimizer infer a `size(split(text)) > 0` Filter below the Generate,
    # re-splitting every text a second time (see docs_ngram_jaccard).
    # outer explode infers no filter; an empty-text doc emits one NULL
    # word whose nibbles are NULL, so count(nib0) = 0 drops it — the same
    # docs a plain explode excluded.
    return spark.sql(f"""
      SELECT doc_id, simhash16
      FROM (
        SELECT doc_id, CAST(0 + {total} AS BIGINT) AS simhash16,
               count(nib0) AS __nw
        FROM (
          SELECT doc_id, {nibs}
          FROM (
            SELECT doc_id, explode_outer(split(text, ' ')) AS word
            FROM (SELECT /*+ REPARTITION({par}, doc_id) */ doc_id, text
                  FROM documents)
          )
        )
        GROUP BY doc_id
      ) WHERE __nw > 0
    """)


def _simhash64_sql_duck() -> str:
    """64-bit SimHash vote sum for DuckDB. Bit 63's weight is BIGINT
    min-long (the same two's-complement value Spark's shiftleft(1L, 63)
    yields — DuckDB refuses the 1<<63 overflow); it is the LAST addend so
    every partial sum stays in BIGINT range under DuckDB's checked
    arithmetic (bits 0-62 sum to at most 2^63 - 1)."""
    terms = []
    for j in range(64):
        c = j // 4 + 1
        shift = 3 - (j % 4)
        nib = f"(strpos('0123456789abcdef', substr(md5(word), {c}, 1)) - 1)"
        bit = f"(({nib} >> {shift}) & 1)"
        vote = f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"
        w = "CAST(-9223372036854775808 AS BIGINT)" if j == 63 else str(2**j)
        terms.append(f"CASE WHEN {vote} > 0 THEN {w} ELSE 0 END")
    return " + ".join(terms)


def _simhash64_spark() -> Column:
    """64-bit SimHash vote aggregate over nibble columns nib0..nib15 —
    same vote math as _simhash_bit_exprs_spark widened to 64 bits; bit 63
    lands in the sign bit (weight = min-long, matching the DuckDB oracle
    and ml.dedup.simhash's shiftleft form). ONE parsed F.expr (r16): the
    per-bit Column chain was ~8 py4j round trips × 64 bits of pure
    plan-construction driver time per invocation; identical tree."""
    terms = []
    for j in range(64):
        bit = f"(shiftright(nib{j // 4}, {3 - (j % 4)}) & 1)"
        vote = f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"
        w = "-9223372036854775808L" if j == 63 else f"{2**j}L"
        terms.append(f"(CASE WHEN {vote} > 0 THEN {w} ELSE 0L END)")
    return F.expr("0L + " + " + ".join(terms))


@register(
    "docs_simhash_pairs",
    # r10 slot rotation: ceded its driver slot to docs_dsir_sample — the
    # near-dup pair family keeps two slots (docs_minhash_lsh_pairs,
    # docs_ngram_jaccard) while the selection family had none; this entry
    # remains oracle-checked every round via the selfcheck sweep.
    overflow=True,
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    s AS (
      SELECT doc_id, CAST({_simhash64_sql_duck()} AS BIGINT) AS simhash64
      FROM w GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, simhash64, c.c AS chunk,
             (simhash64 >> (c.c * 16)) & 65535 AS key
      FROM s, (SELECT unnest([0, 1, 2, 3]) AS c) c
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash64 AS sa, b.simhash64 AS sb
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """,
    doc="SimHash near-pair mining (pigeonhole banding) on the PRODUCTION "
    "64-bit fingerprint: four 16-bit chunks — any pair within Hamming "
    "distance 3 shares at least one exact chunk, so candidates come from "
    "chunk equi-joins, then exact Hamming verify via bit_count(xor). With "
    "65,536 distinct values per chunk key, expected random collisions are "
    "docs²/2^17 per chunk — candidates scale ∝ docs on any non-degenerate "
    "corpus (the r2-registered 16-bit demo banded on 4-bit keys, whose 16 "
    "values made buckets hold n/16 of the corpus — a cartesian bomb; see "
    "tests/test_ml.py::test_simhash64_candidate_selectivity). Same topology "
    "as ml.dedup.simhash_near_pairs.",
)
def docs_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    # CPU-bound md5-per-word projection: spread over cores, not scan splits.
    # Hashed on doc_id (r16): the signature aggregate plans exchange-free.
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    w = docs.select("doc_id", F.explode(words_col()).alias("word")).select(
        "doc_id",
        *[
            F.expr(
                f"CAST(conv(substring(md5(word), {c + 1}, 1), 16, 10) "
                f"AS INT) AS nib{c}"
            )
            for c in range(16)
        ],
    )
    # cache: both band-join sides would otherwise recompute the md5 aggregate
    sig = (
        w.groupBy("doc_id").agg(_simhash64_spark().alias("sh")).cache()
    )
    chunk_cols = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned("sh", c * 16)
            .bitwiseAND(F.lit(65535))
            .alias("key"),
        )
        for c in range(4)
    ]
    parts = sig.select(
        "doc_id", "sh", F.explode(F.array(*chunk_cols)).alias("ck")
    ).select("doc_id", "sh", "ck.chunk", "ck.key")
    a, b = parts.alias("a"), parts.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sh").alias("sa"),
            F.col("b.sh").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("bigint").alias("hamming")
    ).filter(F.col("hamming") <= 3)


@register(
    "docs_fingerprint",
    overflow=True,  # r9 slot rotation: redundant with a retained sibling; still oracle-checked via selfcheck
    oracle=f"""
    WITH sh AS ({DUCK_SHINGLES})
    SELECT doc_id, min(md5(shingle)) AS fp,
           CAST(count(*) AS BIGINT) AS n_shingles
    FROM sh GROUP BY doc_id
    """,
    doc="Document fingerprint: minimum shingle hash (winnowing-style 1-sample "
    "sketch) + shingle-set cardinality. Map-side aggregable at any scale.",
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        doc_shingles(docs)
        .groupBy("doc_id")
        .agg(
            F.min(F.md5("shingle")).alias("fp"),
            F.count("*").alias("n_shingles"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "docs_token_stats",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars
    FROM documents GROUP BY lang
    """,
    doc="Token counting (whitespace tokenizer) + char stats per language — "
    "the text-analysis primitives for corpus curation. All JVM-side string "
    "functions; no UDF.",
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    ntok = F.size(words_col()).cast("bigint")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).alias("sum_tokens"),
        F.max(ntok).alias("max_tokens"),
        F.sum(F.length("text")).alias("sum_chars"),
        (F.sum(F.length("text")).cast("double") / F.count("*")).alias("avg_chars"),
    )


@register(
    "docs_quality",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_word_len,
           CAST((length(' ' || text || ' ')
                 - length(replace(' ' || text || ' ', ' the ', ' '))) / 4
                AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
    """,
    # r10 slot rotation (r9 verdict #7): ceded its driver slot to
    # media_frame_knn — the quality family stays covered by the
    # docs_gopher_rules and docs_quality_curriculum slots; this entry
    # remains oracle-checked every round via the selfcheck sweep.
    overflow=True,
    doc="Per-document quality scoring: token count, average word length, "
    "stopword ratio — the length/stopword heuristics of LLM corpus filters. "
    "Exact integer arithmetic → identical doubles across engines.",
)
def docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    ntok = F.size(words_col()).cast("bigint")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    n_the = (F.length(padded) - F.length(F.replace(padded, F.lit(" the "), F.lit(" ")))) / 4
    return docs.select(
        "doc_id",
        ntok.alias("n_tokens"),
        ((F.length("text") - ntok + 1).cast("double") / ntok).alias("avg_word_len"),
        (n_the.cast("double") / ntok).alias("stopword_ratio"),
    )


@register(
    "docs_binary_stats",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents GROUP BY source
    """,
    doc="Multimodal byte-column plumbing: payloads as opaque binary with "
    "typed metadata; decode/feature-extraction runs as Arrow-batched "
    "mapInPandas (see ml.multimodal — PNG/JPEG/GIF/BMP dimensions parsed "
    "from headers in pure Python, no codec library needed). This query is "
    "the metadata/size-accounting pass over binary columns.",
)
def docs_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    blob = F.col("text").cast("binary")
    return docs.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.octet_length(blob)).alias("sum_bytes"),
        F.max(F.octet_length(blob)).alias("max_bytes"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@register(
    "emb_knn",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    q AS (SELECT vec_id, emb FROM e WHERE vec_id < 10),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, c.emb)
                   / (sqrt(list_dot_product(q.emb, q.emb))
                      * sqrt(list_dot_product(c.emb, c.emb))), 4) AS sim_r
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, sim_r, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= 3
    """,
    doc="Brute-force cosine top-k ANN baseline: broadcast the query set, "
    "JVM-side zip_with/aggregate dot products, per-query top-k via window. "
    "Similarity rounded to 4 decimals before ranking (tiebreak neighbor_id) "
    "for cross-engine determinism. Scale path: LSH/IVF bucketing (ml.similarity) "
    "replaces the cross join with a bucket equi-join.",
)
def emb_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["embeddings"])
    # spread hint (r16): the |C| × |Q| higher-order-function dot products
    # run between the scan and the window exchange — single-threaded on
    # the one-split testdata scan. Spreading the candidate side fans them
    # over the cores (measured 0.55 → 0.41 s); the hint is EMPTY when the
    # input already scans wide (tables.scan_spread_hint doc), so it never
    # appears in a plan at production scale.
    # r16 construction form: one spark.sql call instead of ~150 py4j
    # Column round-trips for the HOF dot-product lambdas (0.45 s of
    # driver time per invocation, measured; same optimized plan).
    spread = scan_spread_hint(spark, sf_dir, "embeddings", "neighbor_id")
    return spark.sql(f"""
      WITH n AS (
        SELECT vec_id, emb,
               sqrt({dot_sql("emb", "emb")}) AS norm
        FROM (SELECT vec_id,
                     transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
              FROM embeddings)
      ),
      q AS (SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm
            FROM n WHERE vec_id < 10),
      c AS (SELECT {spread} vec_id AS neighbor_id, emb AS c_emb,
                   norm AS c_norm
            FROM n)
      SELECT query_id, neighbor_id, sim_r, CAST(rank AS BIGINT) AS rank
      FROM (
        SELECT query_id, neighbor_id, sim_r,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id
               ) AS rank
        FROM (
          SELECT /*+ BROADCAST(q) */ query_id, neighbor_id,
                 round({dot_sql("q_emb", "c_emb")}
                       / (q_norm * c_norm), 4) AS sim_r
          FROM c JOIN q ON neighbor_id <> query_id
        )
      ) WHERE rank <= 3
    """)


@register(
    "emb_near_pairs",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    n AS (
      SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS sim_r
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) >= 0.4
    """,
    doc="Embedding-cosine near-duplicate pairs — the fifth dedup modality "
    "(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine). "
    "Registered as the BUCKETED plan (ml.similarity.cosine_near_pairs): "
    "48 independent 3-bit sign signatures from one scan, (table, bucket) "
    "equi-join candidates, exact cosine verify before the pair-dedup "
    "shuffle — no cross join in the plan, shuffle ∝ rows × tables. The "
    "oracle stays the exact all-pairs definition: the sim formula is "
    "bit-identical, and at 48 tables the per-pair miss at sim 0.4 is "
    "(1-p³)⁴⁸ ≈ 9e-7 (p = 1-acos(0.4)/π) — ~1e-3 expected misses across "
    "the sf0.1 corpus's 920 true pairs. 20 tables was NOT enough: its "
    "0.3%/pair miss dropped 2 of 920 pairs at sf0.1, exactly the binomial "
    "expectation. Parity pytest vs the exact plan + 4-decimal rounding "
    "before the threshold for cross-engine determinism.",
)
def emb_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    return cosine_near_pairs(
        emb, threshold=0.4, dim=64, n_planes=3, n_tables=48
    ).withColumnRenamed("sim", "sim_r")


def emb_near_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact all-pairs form — |C|²/2 dot products. NOT registered (the
    bucketed plan above is); kept as the ground-truth side of the parity
    test proving the bucketed plan loses no pair on this corpus."""
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    e = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    n = e.withColumn("nrm", F.sqrt(dot(F.col("emb"), F.col("emb")))).cache()
    a = n.select(
        F.col("vec_id").alias("id_a"), F.col("emb").alias("ea"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("id_b"), F.col("emb").alias("eb"), F.col("nrm").alias("nb")
    )
    sim = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim_r"))
        .filter(F.col("sim_r") >= 0.4)
    )


@register(
    "emb_bucket_sig_digest",
    oracle="""
    WITH comps AS (
      SELECT rt.range AS t, rp.range AS p, rd.range AS d,
             CAST(CAST(('0x' || substr(
                 md5('t' || rt.range || ':' || rp.range || ':' || rd.range),
                 1, 16)) AS UBIGINT) AS DOUBLE)
               / 9223372036854775808.0 - 1.0 AS comp
      FROM range(48) rt, range(3) rp, range(64) rd
    ),
    pl AS (
      SELECT t, p, list(comp ORDER BY d) AS pvec FROM comps GROUP BY t, p
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    buckets AS (
      SELECT e.vec_id, pl.t,
             CAST(sum(CASE WHEN list_dot_product(e.emb, pl.pvec) > 0
                           THEN CASE pl.p WHEN 0 THEN 1 WHEN 1 THEN 2
                                ELSE 4 END
                           ELSE 0 END) AS INT) AS bucket
      FROM e CROSS JOIN pl
      GROUP BY e.vec_id, pl.t
    )
    SELECT vec_id,
           md5(string_agg(CAST(bucket AS VARCHAR), '|' ORDER BY t))
             AS bucket_digest
    FROM buckets GROUP BY vec_id
    """,
    # r16 slot rotation (r15 verdict #8): PROMOTED into the driver's 50
    # recorded slots (docs_dedup_keeplist ceded — all of its stages hold
    # their own slots) so at least one digest twin gets the independent
    # driver-side oracle gate every round, not just selfcheck.
    doc="Scale-proof digest twin of emb_near_pairs' SIGNATURE stage (r14 "
    "verdict #6, the docs_minhash_sig_digest pattern): one md5 over each "
    "vector's 48 per-table LSH bucket ids in table order, computed by the "
    "PRODUCTION Arrow matmul UDF (ml.similarity._table_buckets_udf at the "
    "registered n_planes=3/n_tables=48). The pairs entry's own oracle is "
    "the exact all-pairs self-join — quadratic, infeasible at the 100× "
    "tier — while this oracle is LINEAR in the corpus (plane components "
    "regenerated IN SQL from the same md5 derivation, 144 "
    "list_dot_product sign tests per vector, one ordered string_agg), so "
    "exact-hash evidence that the md5-hyperplane → sign-bit → bit-pack "
    "bucketing is cross-engine identical extends to 200k+ vectors. Sign "
    "bits compare unrounded float64 dots cross-engine: numpy matmul and "
    "DuckDB differ only by summation association (~1e-15 relative), so a "
    "sign flip needs |dot| inside that noise — P ≈ 1e-13/draw, ~1e-5 "
    "across a 200k-vector corpus's 2.9e7 dots. Plan shape: one scan, one "
    "Arrow batch stage, zero joins/shuffles.",
)
def emb_bucket_sig_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.similarity import (
        _as_double,
        _spread,
        _table_buckets_udf,
    )

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    buckets = _table_buckets_udf(dim=64, n_planes=3, n_tables=48)
    e = _spread(emb).select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    return e.select(
        "vec_id",
        F.md5(
            F.concat_ws(
                "|",
                F.transform(buckets(F.col("emb")),
                            lambda b: b.cast("string")),
            )
        ).alias("bucket_digest"),
    )


@register(
    "emb_centroids",
    oracle="""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
             / count(*) AS c1,
           CAST(sum(CAST(CAST(embedding[2] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
             / count(*) AS c2,
           CAST(sum(CAST(CAST(embedding[3] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
             / count(*) AS c3
    FROM embeddings GROUP BY label
    """,
    doc="Per-label centroid components (k-means-style update step) with "
    "DECIMAL-exact summation — order-independent, so the parallel Spark sum "
    "matches any engine bit-for-bit.",
)
def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    comp = lambda i: F.element_at("embedding", i).cast("double").cast(
        "decimal(20,10)"
    )
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        (F.sum(comp(1)).cast("double") / F.count("*")).alias("c1"),
        (F.sum(comp(2)).cast("double") / F.count("*")).alias("c2"),
        (F.sum(comp(3)).cast("double") / F.count("*")).alias("c3"),
    )


@register(
    "docs_chunk",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), c AS (
      SELECT doc_id, toks, n,
             unnest(range(0, CASE WHEN n <= 40 THEN 1
                           ELSE CAST(ceil((n - 8) / 32.0) AS BIGINT) END)) AS cid
      FROM d
    )
    SELECT doc_id,
           CAST(cid AS BIGINT) AS chunk_id,
           array_to_string(toks[CAST(cid*32+1 AS BIGINT):CAST(cid*32+40 AS BIGINT)],
                           ' ') AS chunk_text,
           CAST(least(40, n - cid*32) AS BIGINT) AS n_chunk_tokens
    FROM c
    """,
    doc="Document chunking (ml.text.chunk_documents): fixed 40-token chunks "
    "with 8-token overlap — the pre-split step pack_sequences expects for "
    "oversize docs. Pure sequence+explode+slice column algebra; the "
    "explode pipelines into the scan, zero shuffles, rows out proportional "
    "to tokens/stride.",
    overflow=True,  # oracle-checked via selfcheck; beyond the 50-slot cap
)
def docs_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import chunk_documents

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return chunk_documents(docs, max_tokens=40, overlap=8).select(
        "doc_id", "chunk_id", "chunk_text", "n_chunk_tokens"
    )


@register(
    "docs_repetition",
    oracle="""
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
           CASE WHEN len(g) > 0
                THEN CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
                     / CAST(len(g) AS DOUBLE)
                ELSE 0.0 END AS dup_frac
    FROM (
      SELECT doc_id,
             CASE WHEN len(w) >= 2 THEN
               list_transform(range(1, len(w)),
                              i -> w[i] || ' ' ||
                                   w[i+1])
             ELSE [] END AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    )
    """,
    doc="Per-document duplicate-bigram fraction (ml.text.repetition_stats) "
    "— the Gopher repetition gate's continuous form. ZERO-shuffle "
    "projection: the gram array reduces to size/array_distinct in the "
    "row, so the whole query is one codegen'd scan; the dup fraction is "
    "an integer-derived double quotient, bit-exact across engines.",
    overflow=True,  # oracle-checked via selfcheck; beyond the 50-slot cap
)
def docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import repetition_stats

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return repetition_stats(docs, n=2)


@register(
    "docs_boilerplate",
    oracle="""
    WITH g AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(ws) >= 3 THEN
                 list_transform(range(1, len(ws) - 1),
                                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
               ELSE [] END)) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    )
    SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
    FROM g GROUP BY shingle HAVING count(*) >= 2
    ORDER BY n_docs DESC, shingle
    LIMIT 25
    """,
    doc="Cross-document boilerplate mining (ml.text.boilerplate_ngrams): "
    "word trigrams ranked by distinct-document frequency — headers, "
    "license blurbs, and injected benchmark strings surface at the top. "
    "Within-doc dedup happens in the row via array_distinct (no exploded "
    "pre-shuffle), so one groupBy shuffle bounded by distinct grams is "
    "the whole network cost; top-k is tiebroken on the shingle text.",
    overflow=True,  # oracle-checked via selfcheck; beyond the 50-slot cap
)
def docs_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import boilerplate_ngrams

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        boilerplate_ngrams(docs, n=3, min_docs=2)
        .orderBy(F.col("n_docs").desc(), "shingle")
        .limit(25)
    )


@register(
    "docs_bpe_merges",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(
               text,
               '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
             )) AS tok
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(tok)),
                                   i -> tok[i:i+1])) AS pair
      FROM toks WHERE length(tok) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
    doc="BPE vocabulary induction, round 1 (ml.text.bpe_pair_counts): the "
    "20 most frequent adjacent character pairs inside GPT-2-style "
    "pre-tokens — the corpus-scale statistic a tokenizer-training job "
    "computes each merge round. Both engines run the IDENTICAL "
    "pre-tokenizer regex (Java and RE2 agree on this subset: \\p classes, "
    "alternation, no lookaround), so counts are exact integers; top-k is "
    "tiebroken on the pair text.",
)
def docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import bpe_pair_counts

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        bpe_pair_counts(docs)
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@register(
    "docs_bpe_train",
    oracle=None,  # iterative argmax loop — no SQL twin; pinned merge-for-merge
    # against a pure-Python reference trainer in tests/test_ml.py
    doc="Iterative BPE vocabulary training (ml.text.bpe_learn, 6 rounds on "
    "the corpus): per round one column-algebra pair-count pass (shuffle "
    "bounded by pair vocabulary), driver argmax with lexicographic "
    "tiebreak, one Arrow-batched merge-apply pass; lineage checkpointed "
    "so plans stay flat across rounds. Returns the learned merges in "
    "order with their pair counts (the driver records a rows-only "
    "check; exact training behavior is reference-pinned in pytest).",
    overflow=True,
)
def docs_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import bpe_learn

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    merges = bpe_learn(docs, n_merges=6)
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )


# Fixed rank-ordered merge table for the ENCODE entry — a shipped tokenizer
# artifact (what bpe_load_merges returns in production; literal here so the
# oracle can replay it). The DuckDB CASE arms are generated from this same
# list, so the two engines can never disagree on the merge table.
_BPE_ENCODE_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("a", "t"),
    ("o", "r"),
    (" ", "t"),
    ("e", "r"),
    ("a", "n"),
    ("i", "n"),
    ("s", "t"),
]

_BPE_RANK_CASE = (
    "CASE "
    + " ".join(
        f"WHEN syms[i] = '{a}' AND syms[i+1] = '{b}' THEN {r}"
        for r, (a, b) in enumerate(_BPE_ENCODE_MERGES)
    )
    + " ELSE NULL END"
)


@register(
    "docs_bpe_encode",
    oracle=rf"""
    WITH RECURSIVE
    pre AS (
      SELECT doc_id,
             unnest(range(1, len(toks) + 1)) AS pos,
             unnest(toks) AS tok
      FROM (SELECT doc_id, regexp_extract_all(
              text,
              '''(?:s|t|re|ve|m|ll|d)| ?\p{{L}}+| ?\p{{N}}+| ?[^\s\p{{L}}\p{{N}}]+|\s+'
            ) AS toks FROM documents)
    ),
    vocab AS (SELECT DISTINCT tok FROM pre),
    init AS (
      SELECT tok, list_transform(range(1, length(tok) + 1),
                                 i -> tok[i]) AS syms
      FROM vocab
    ),
    rec AS (
      SELECT tok, syms FROM init
      UNION ALL
      SELECT tok,
             syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:]
      FROM (
        SELECT tok, syms,
               list_position(rk, list_aggregate(rk, 'min')) AS bi
        FROM (
          SELECT tok, syms,
                 list_transform(range(1, len(syms)),
                                i -> {_BPE_RANK_CASE}) AS rk
          FROM rec) )
      WHERE bi IS NOT NULL
    ),
    final AS (
      SELECT tok, CAST(len(syms) AS BIGINT) AS n_syms,
             array_to_string(syms, '~') AS js
      FROM (
        SELECT tok, syms,
               list_transform(range(1, len(syms)),
                              i -> {_BPE_RANK_CASE}) AS rk
        FROM rec)
      WHERE len(syms) < 2 OR list_aggregate(rk, 'min') IS NULL
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
             string_agg(js, '~' ORDER BY pos) AS bpe_joined
      FROM pre JOIN final USING (tok)
      GROUP BY doc_id
    )
    -- LEFT JOIN from documents so a zero-pretoken doc (empty text)
    -- appears as (0, '') exactly like Spark's row-preserving
    -- mapInPandas, instead of being silently omitted
    SELECT d.doc_id,
           CAST(coalesce(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
           coalesce(a.bpe_joined, '') AS bpe_joined
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    overflow=True,  # oracle-checked via selfcheck; beyond the 50-slot cap
    doc="BPE ENCODING with a shipped tokenizer artifact (ml.text."
    "bpe_encode) — the serve-many half of the tokenizer lifecycle "
    "(docs_bpe_merges pins round-1 pair counts, docs_bpe_train the "
    "learner; this pins the encoder that every training-data pipeline "
    "actually runs per document). A fixed 9-merge rank-ordered table is "
    "applied exactly as a BPE encoder does: per GPT-2-style pre-token, "
    "repeatedly merge the lowest-ranked adjacent pair (leftmost on "
    "ties) until none applies. The DuckDB oracle replays this with a "
    "recursive CTE over the DISTINCT pre-token vocabulary — merge "
    "ranks as CASE arms generated from the same Python literal, "
    "list_position(rk, min) for the leftmost-min pick, list splicing "
    "for the merge — then joins the per-token (count, '~'-joined "
    "string) back to token instances and aggregates per document, so "
    "the oracle never explodes to symbol granularity (instance-level "
    "symbol rows OOM'd DuckDB at the 10x stress scale; the separator "
    "is absent from the corpus). "
    "Both engines run the identical pre-tokenizer regex (the "
    "docs_bpe_merges precedent: Java and RE2 agree on this subset). "
    "Spark plan: one Arrow-batched mapInPandas pass, merge table in "
    "the task closure, no shuffle; the oracle's recursion is "
    "vocabulary-bounded, not corpus-bounded.",
)
def docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import bpe_encode

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    enc = bpe_encode(docs.select("doc_id", "text"), _BPE_ENCODE_MERGES)
    return enc.select(
        "doc_id",
        "n_bpe_tokens",
        F.array_join(F.col("bpe_tokens"), "~").alias("bpe_joined"),
    )


def _pretoken_digest(docs: DataFrame, encode_vocab, n_col: str) -> DataFrame:
    """Shared Spark side of the position-baked segmentation-digest entries
    (docs_bpe_encode_digest / docs_wordpiece_encode / docs_unigram_encode):
    explode pre-tokens with their 1-based position, encode only the
    DISTINCT pre-token vocabulary via `encode_vocab` (a callable mapping a
    one-column `text` frame to (tok, n_syms, js)), broadcast it back onto
    the instances, and fold per doc — token count plus the md5-prefix
    digest SUM with the position baked into each hashed input (commutative
    aggregate, order-sensitive in effect). Zero-pretoken (empty-text) docs
    are PRESERVED as (0, 0) via a left join back to the input — the same
    row-preservation contract docs_bpe_encode pins for its string form;
    the digest oracles carry the matching LEFT JOIN. One place to audit;
    the DuckDB twin is `_BPE_DIGEST_DUCK` below."""
    from mempool_dumpster_spark.ml.text import PRETOKEN_PATTERN

    pre = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.col("text"), F.lit(PRETOKEN_PATTERN), 0)
        ).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    vocab = encode_vocab(
        pre.select("tok").distinct().withColumnRenamed("tok", "text")
    )
    digest = F.conv(
        F.substring(
            F.md5(F.concat(F.col("js"), F.lit("@"), F.col("pos").cast("string"))),
            1,
            6,
        ),
        16,
        10,
    ).cast("long")
    agg = (
        pre.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("n_syms").cast("bigint").alias(n_col),
            F.sum(digest).cast("bigint").alias("seg_digest"),
        )
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col(n_col), F.lit(0)).cast("bigint").alias(n_col),
        F.coalesce(F.col("seg_digest"), F.lit(0))
        .cast("bigint")
        .alias("seg_digest"),
    )


# DuckDB twin of the Spark-side md5-prefix digest used by
# docs_bpe_encode_digest: first 6 hex chars of md5(js || '@' || pos) as an
# integer (nibble-by-nibble strpos math, the docs_dsir_sample idiom).
_BPE_DIGEST_DUCK = (
    "("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(js || '@' || CAST(pos AS "
        f"VARCHAR)), {c + 1}, 1)) - 1) * {16 ** (5 - c)}"
        for c in range(6)
    )
    + ")"
)


@register(
    "docs_bpe_encode_digest",
    oracle=rf"""
    WITH RECURSIVE
    pre AS (
      SELECT doc_id,
             unnest(range(1, len(toks) + 1)) AS pos,
             unnest(toks) AS tok
      FROM (SELECT doc_id, regexp_extract_all(
              text,
              '''(?:s|t|re|ve|m|ll|d)| ?\p{{L}}+| ?\p{{N}}+| ?[^\s\p{{L}}\p{{N}}]+|\s+'
            ) AS toks FROM documents)
    ),
    vocab AS (SELECT DISTINCT tok FROM pre),
    init AS (
      SELECT tok, list_transform(range(1, length(tok) + 1),
                                 i -> tok[i]) AS syms
      FROM vocab
    ),
    rec AS (
      SELECT tok, syms FROM init
      UNION ALL
      SELECT tok,
             syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:]
      FROM (
        SELECT tok, syms,
               list_position(rk, list_aggregate(rk, 'min')) AS bi
        FROM (
          SELECT tok, syms,
                 list_transform(range(1, len(syms)),
                                i -> {_BPE_RANK_CASE}) AS rk
          FROM rec) )
      WHERE bi IS NOT NULL
    ),
    final AS (
      SELECT tok, CAST(len(syms) AS BIGINT) AS n_syms,
             array_to_string(syms, '~') AS js
      FROM (
        SELECT tok, syms,
               list_transform(range(1, len(syms)),
                              i -> {_BPE_RANK_CASE}) AS rk
        FROM rec)
      WHERE len(syms) < 2 OR list_aggregate(rk, 'min') IS NULL
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
             CAST(sum({_BPE_DIGEST_DUCK}) AS BIGINT) AS seg_digest
      FROM pre JOIN final USING (tok)
      GROUP BY doc_id
    )
    -- LEFT JOIN so zero-pretoken docs appear as (0, 0) — the same
    -- row-preservation contract as docs_bpe_encode's string form
    SELECT d.doc_id,
           CAST(coalesce(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
           CAST(coalesce(a.seg_digest, 0) AS BIGINT) AS seg_digest
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    overflow=True,  # oracle-checked via selfcheck; beyond the 50-slot cap
    doc="BPE encoding under a SCALE-PROOF exact check — the 100x-capable "
    "twin of docs_bpe_encode. That entry's oracle re-serializes every "
    "document ('~'-joined), and DuckDB's ordered string_agg over ~98M "
    "token instances exhausts memory at the 100x stress corpus (ordered "
    "aggregates cannot spill). Here the per-document value is an "
    "ORDER-SENSITIVE digest that needs only a plain grouped SUM: each "
    "pre-token instance contributes md5_prefix_int6(encoded_segmentation "
    "|| '@' || position) — position baked into the hashed value makes "
    "the sum order-sensitive in effect while the aggregation itself is "
    "commutative, the package's standing trick for engine-portable "
    "folds. Any mis-merge, mis-ordering or substitution at any position "
    "shifts the sum. Both sides encode only the DISTINCT pre-token "
    "vocabulary and broadcast it onto the instance explode (a pre-token "
    "re-pretokenizes to itself, so per-vocab encoding is exact), so "
    "Spark work is one explode + vocabulary-bounded broadcast join + "
    "one per-doc aggregate at any corpus size.",
)
def docs_bpe_encode_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import bpe_encode

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]

    def encode_vocab(toks: DataFrame) -> DataFrame:
        return bpe_encode(toks, _BPE_ENCODE_MERGES).select(
            F.col("text").alias("tok"),
            F.col("n_bpe_tokens").alias("n_syms"),
            F.array_join(F.col("bpe_tokens"), "~").alias("js"),
        )

    return _pretoken_digest(docs, encode_vocab, "n_bpe_tokens")


# Fixed piece vocabulary for the WordPiece ENCODE entry — a shipped
# tokenizer artifact, literal here so the oracle can replay it; the DuckDB
# VALUES list is generated from this same literal.
_WP_PIECES: list[str] = [
    "th", "the", " t", " table", "or", "at", "da", "ta", "in", "er",
    "an", "st", " the", "le", "ow",
]

_WP_PIECES_VALUES = ", ".join(f"('{p}')" for p in _WP_PIECES)


@register(
    "docs_wordpiece_encode",
    oracle=rf"""
    WITH RECURSIVE
    pre AS (
      SELECT doc_id,
             unnest(range(1, len(toks) + 1)) AS pos,
             unnest(toks) AS tok
      FROM (SELECT doc_id, regexp_extract_all(
              text,
              '''(?:s|t|re|ve|m|ll|d)| ?\p{{L}}+| ?\p{{N}}+| ?[^\s\p{{L}}\p{{N}}]+|\s+'
            ) AS toks FROM documents)
    ),
    vocab AS (SELECT DISTINCT tok FROM pre),
    pieces(piece) AS (VALUES {_WP_PIECES_VALUES}),
    rec AS (
      SELECT tok, tok AS rest, CAST('' AS VARCHAR) AS js,
             CAST(0 AS BIGINT) AS n
      FROM vocab
      UNION ALL
      SELECT tok, rest[length(p) + 1:],
             CASE WHEN js = '' THEN p ELSE js || '~' || p END,
             n + 1
      FROM (
        SELECT tok, rest, js, n,
               coalesce((SELECT max_by(piece, length(piece)) FROM pieces
                         WHERE starts_with(rest, piece)),
                        rest[1:1]) AS p
        FROM rec WHERE length(rest) > 0)
    ),
    final AS (
      SELECT tok, n AS n_syms, js FROM rec WHERE rest = ''
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(n_syms) AS BIGINT) AS n_wp_tokens,
             CAST(sum({_BPE_DIGEST_DUCK}) AS BIGINT) AS seg_digest
      FROM pre JOIN final USING (tok)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_wp_tokens, 0) AS BIGINT) AS n_wp_tokens,
           CAST(coalesce(a.seg_digest, 0) AS BIGINT) AS seg_digest
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    # r12 slot rotation: promoted INTO the driver slots (from overflow) in
    # exchange for docs_ngram_jaccard — the tokenizer serve side (greedy
    # longest-match encode, exact oracle up to the 100× tier) previously
    # had zero driver-slot representation; docs_bpe_merges covers training
    # only. See tests/test_plans.py for the pinned rotation.
    doc="WordPiece-style greedy longest-match segmentation under an "
    "exact oracle (ml.text.wordpiece_encode — the BERT inference rule, "
    "minus the '##' continuation spelling): at each position take the "
    "LONGEST vocabulary piece prefixing the remaining pre-token, else "
    "emit the single char. Greedy matching is deterministic BY "
    "CONSTRUCTION (two same-length prefixes of one string are the same "
    "piece) — no tie discipline needed, which is what makes this the "
    "match-based tokenizer family's exactly-replayable representative. "
    "The DuckDB oracle walks the same rule with a recursive CTE over "
    "the DISTINCT pre-token vocabulary (correlated max_by(piece, "
    "length) lookup against the VALUES piece table generated from the "
    "same Python literal) and compares the scale-proof position-baked "
    "digest SUM (the docs_bpe_encode_digest trick — no per-doc string "
    "is ever built). Spark: vocabulary-bounded encode broadcast onto "
    "one instance explode + one per-doc aggregate.",
)
def docs_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import wordpiece_encode

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]

    def encode_vocab(toks: DataFrame) -> DataFrame:
        return wordpiece_encode(toks, _WP_PIECES).select(
            F.col("text").alias("tok"),
            F.col("n_wp_tokens").alias("n_syms"),
            F.array_join(F.col("wp_tokens"), "~").alias("js"),
        )

    return _pretoken_digest(docs, encode_vocab, "n_wp_tokens")


@register(
    "docs_unigram_train",
    oracle=None,  # iterative EM — no SQL twin; reference-pinned in pytest
    overflow=True,
    doc="SentencePiece-style unigram-LM tokenizer training (ml.text."
    "unigram_train — Kudo 2018, hard-EM/Viterbi-EM variant): seed "
    "candidate pieces from corpus pre-token substrings, iterate "
    "best-segmentation of every DISTINCT pre-token under current piece "
    "costs -> exact BIGINT usage counts -> -log(count/total) costs, "
    "prune least-used multi-char pieces until vocab_size (single chars "
    "never pruned, so every string stays encodable). The corpus is "
    "touched ONCE (regexp explode -> (pretoken, count) table); each EM "
    "round runs on that vocabulary-bounded table via Arrow-batched "
    "mapInPandas with costs in the closure — the SentencePiece "
    "train-on-counted-sentences shape. Deterministic for any "
    "partitioning (integer counts + the (cost, n_pieces, sequence) "
    "Viterbi tie discipline); pinned piece-for-piece against a "
    "pure-Python reference trainer in tests. Returns the (piece, cost) "
    "artifact rows the encoder consumes.",
)
def docs_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import unigram_train

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    model = unigram_train(docs, vocab_size=64, n_iters=2)
    return spark.createDataFrame(
        [(i, p, float(c)) for i, (p, c) in enumerate(model)],
        "rank long, piece string, cost double",
    )


@register(
    "docs_unigram_encode",
    oracle=None,  # Viterbi under float costs — tie discipline pinned in
    # pytest (optimality vs brute force, reconstruction, train/encode
    # determinism); rows-only here
    overflow=True,
    doc="Viterbi encoding under the trained unigram model (ml.text."
    "unigram_encode): train at the registered parameters, then segment "
    "every document — min-cost piece sequence per pre-token with the "
    "deterministic (cost, n_pieces, sequence) tie discipline, unknown "
    "chars at max-cost+10 so concatenation always reconstructs "
    "(hypothesis-pinned). Output is the per-doc token count plus the "
    "position-baked digest SUM of the segmentation — same scale-proof "
    "shape as the exact-oracle BPE/WordPiece twins, checked rows-only "
    "because the model costs are floats (the segmentation itself is "
    "partition-invariant, pinned in pytest). Spark: one vocabulary-"
    "bounded encode broadcast onto the instance explode.",
)
def docs_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import unigram_encode, unigram_train

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    model = unigram_train(docs, vocab_size=64, n_iters=2)

    def encode_vocab(toks: DataFrame) -> DataFrame:
        return unigram_encode(toks, model).select(
            F.col("text").alias("tok"),
            F.col("n_unigram_tokens").alias("n_syms"),
            F.array_join(F.col("unigram_tokens"), "~").alias("js"),
        )

    return _pretoken_digest(docs, encode_vocab, "n_unigram_tokens")


@register(
    "docs_ngram_lm_score",
    oracle="""
    WITH grams AS (
      SELECT doc_id, unnest(
               CASE WHEN len(w) >= 2 THEN
                 list_transform(range(1, len(w)),
                                i -> w[i] || ' ' ||
                                     w[i+1])
               ELSE [] END) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ),
    counts AS (SELECT gram, count(*) AS c FROM grams GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(c) AS DOUBLE) / count(*) AS mean_count,
           CAST(sum(CASE WHEN c < 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS rare_frac
    FROM grams g JOIN counts USING (gram)
    GROUP BY g.doc_id
    """,
    doc="Corpus-frequency LM proxy (ml.text.ngram_frequency_score): per "
    "document, the mean corpus-wide frequency of its word-bigram "
    "INSTANCES and the fraction that are rare (<2 occurrences) — the "
    "CCNet-style 'filter by language-model surprise' signal, re-expressed "
    "with exact BIGINT counts and one IEEE division per ratio so both "
    "engines agree bit-for-bit (a log-prob perplexity would drift in the "
    "last ulps and break hash equality). Plan: instance explode → "
    "vocabulary-bounded gram counts → gram join → per-doc fold; the "
    "count frame is the vocabulary, never the corpus.",
)
def docs_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mempool_dumpster_spark.ml.text import ngram_frequency_score

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return ngram_frequency_score(docs, n=2)


@register(
    "docs_quality_curriculum",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
               / len(string_split(text, ' ')) AS score
      FROM documents
    ),
    o AS (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score, doc_id) AS rn,
             count(*) OVER () AS cnt
      FROM s
    ),
    bounds AS (
      SELECT max(score) AS b
      FROM o, (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),(0.7),(0.8),(0.9))
               AS p(p)
      WHERE rn = 1 + floor(p.p * (cnt - 1))
      GROUP BY p.p
    ),
    bucketed AS (
      SELECT s.doc_id, s.score,
             (SELECT CAST(count(*) AS BIGINT) FROM bounds
              WHERE s.score > bounds.b) AS bucket
      FROM s
    ),
    sampled AS (
      SELECT *, row_number() OVER (
        PARTITION BY bucket
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS srk
      FROM bucketed
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(score) AS min_score,
           max(score) AS max_score,
           string_agg(CASE WHEN srk <= 3 THEN CAST(doc_id AS VARCHAR) END,
                      ',' ORDER BY doc_id) AS sample_ids
    FROM sampled GROUP BY bucket ORDER BY bucket
    """,
    doc="Curriculum bucketing + stratified sampling: documents ranked by a "
    "quality signal (avg word length — exact integer arithmetic, so the "
    "score is bit-identical across engines), split into deciles by "
    "NEAREST-RANK boundary values, and 3 docs sampled per bucket by a "
    "content-addressed md5 rank (stable across runs/partitionings/engines "
    "— the training-curriculum primitive: quality-stratified batches "
    "without rand()). Boundary ASSIGNMENT is a broadcast comparison "
    "against 9 scalar values (ties at a boundary go to the lower bucket "
    "deterministically); only the boundary COMPUTATION uses an exact "
    "global window here for oracle parity — at 100 TB swap in "
    "percentile_approx boundaries (mergeable sketch, no global sort), "
    "the same exact/approx twin contract as value_quantiles.",
)
def docs_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    ntok = F.size(words_col()).cast("bigint")
    s = docs.select(
        "doc_id",
        ((F.length("text") - ntok + 1).cast("double") / ntok).alias("score"),
    )
    w = Window.orderBy("score", "doc_id")
    o = s.select(
        "score",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("cnt"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn")
                == 1 + F.floor(F.lit(p / 10.0) * (F.col("cnt") - 1)),
                F.col("score"),
            )
        ).alias(f"b{p}")
        for p in range(1, 10)
    ]
    brow = o.agg(*picks).collect()[0]  # 9 scalars to the driver, bounded
    bucket = sum(
        F.when(F.col("score") > F.lit(float(brow[f"b{p}"])), 1).otherwise(0)
        for p in range(1, 10)
    ).cast("bigint")
    bucketed = s.withColumn("bucket", bucket)
    srk = F.row_number().over(
        Window.partitionBy("bucket").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return (
        bucketed.withColumn("srk", srk)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("srk") <= 3, F.col("doc_id"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("sample_ids"),
        )
        .orderBy("bucket")
    )


#: span length in words of the duplicated-span queries: _dup_spans's
#: k-gram size, which docs_dup_span_coverage's span arithmetic must match
SPAN_K = 5


@register(
    "docs_dup_span_coverage",
    overflow=True,  # oracle-checked via selfcheck; beyond the 50-slot cap
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id, t.i AS start_pos,
             ws[t.i] || ' ' || ws[t.i+1] || ' ' || ws[t.i+2] || ' ' ||
             ws[t.i+3] || ' ' || ws[t.i+4] AS gram
      FROM w, unnest(CASE WHEN len(ws) >= 5
                          THEN range(1, len(ws) - 3) ELSE [] END) AS t(i)
    ),
    freq AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
      GROUP BY gram HAVING count(*) >= 2
    ),
    spans AS (SELECT g.doc_id, g.start_pos FROM g JOIN freq USING (gram)),
    cov AS (
      SELECT doc_id, count(*) AS covered FROM (
        SELECT DISTINCT spans.doc_id, c.p
        FROM spans, unnest(range(start_pos, start_pos + 5)) AS c(p)
      ) GROUP BY doc_id
    ),
    sp AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(coalesce(sp.n_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
           round(CAST(coalesce(cov.covered, 0) AS DOUBLE) / len(ws), 4)
             AS coverage_r
    FROM w LEFT JOIN sp ON sp.doc_id = w.doc_id
           LEFT JOIN cov ON cov.doc_id = w.doc_id
    """,
    doc="Cross-document duplicated-span coverage — the n-gram form of "
    "ExactSubstr dedup (Lee et al. 2022, 'Deduplicating Training Data "
    "Makes Language Models Better'): a word-5-gram occurring in ≥2 "
    "distinct documents is a duplicated span; per document, count such "
    "span starts and the distinct token positions they cover (overlapping "
    "spans merged via position-set union, exactly how span-removal would "
    "cut). Plan: positional grams from ONE posexplode → distinct "
    "(doc,gram) → frequent-gram set → gram equi-join back ONCE → "
    "explode(sequence) → one per-doc aggregate (count(*) div 5 is the "
    "exact span count; size(collect_set(p)) the covered positions, so "
    "one document's covered positions sit in one aggregation buffer: "
    "memory per document is O(its token count)). Every shuffle is bounded "
    "by gram/span cardinality (the frequent set is corpus-vocabulary "
    "sized, NOT broadcast — the join is a plain hash join, so benchmark "
    "corpora of any size work); the gram frame is cached for its two "
    "consumers — at 100 TB prefer recomputing the projection over "
    "caching TBs (it is one scan either way).",
)
def docs_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    w, spans = _dup_spans(docs)
    # ONE consumer of `spans` (r17): the span count and the covered-
    # position count fold in a single aggregate over the exploded
    # positions — sequence(start, start+SPAN_K-1) always emits exactly
    # SPAN_K elements, so n_spans ≡ count(*) div SPAN_K, and the distinct
    # position count is size(collect_set(p)) (per-doc bounded by
    # n_words; no Expand double-scan the way a mixed
    # count+countDistinct aggregate plans). The pre-r17 form ran the
    # spans gram-join TWICE (once per consumer — the two pruned column
    # sets don't canonicalize equal, so ReuseExchange can't share them)
    # plus a (doc_id, p) distinct exchange; this runs it once with one
    # exchange. Measured interleaved A/B at sf0.1 (quiet-bracketed):
    # 2.35/3.22/4.46 → 1.76/1.98/2.37 s.
    pos = spans.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("start_pos"), F.col("start_pos") + (SPAN_K - 1))
        ).alias("p"),
    )
    both = pos.groupBy("doc_id").agg(
        F.expr(f"count(*) div {SPAN_K}").alias("n_spans"),
        F.size(F.collect_set("p")).alias("covered"),
    )
    base = docs.select(
        "doc_id", F.size(words_col()).cast("bigint").alias("n_words")
    )
    return (
        base.join(both, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("covered", F.lit(0)).cast("bigint")
            .alias("covered_tokens"),
            F.round(
                F.coalesce("covered", F.lit(0)).cast("double")
                / F.col("n_words"),
                4,
            ).alias("coverage_r"),
        )
    )


def _dup_spans(docs: DataFrame, k: int = SPAN_K, min_docs: int = 2):
    """Shared span machinery for docs_dup_span_coverage / _strip: returns
    (w, spans) where w = (doc_id, __w words array) and spans = (doc_id,
    start_pos 1-based) of every k-gram occurring in ≥ min_docs distinct
    documents. One posexplode feeds both the frequent-gram aggregate and
    the span join (cached locally; at 100 TB prefer recomputing the
    projection over caching TBs — it is one scan either way)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    # hashed on doc_id (r16): the (doc_id, gram) distinct below dedups
    # in place — HashPartitioning(doc_id) satisfies the clustered
    # distribution on the superset key, so no second exchange of grams
    w = docs.repartition(par, "doc_id").select("doc_id", words_col().alias("__w"))
    grams = (
        w.select(
            "doc_id",
            F.posexplode(shingles_expr(F.col("__w"), k)).alias("pos0", "gram"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("start_pos"), "gram")
        .cache()
    )
    freq = (
        grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    spans = grams.join(freq, "gram").select("doc_id", "start_pos")
    return w, spans


def _covered_positions(spans: DataFrame, k: int = SPAN_K) -> DataFrame:
    """(doc_id, p): distinct 1-based token positions covered by any span —
    overlap-merged via the position-set union."""
    return spans.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("start_pos"), F.col("start_pos") + (k - 1))
        ).alias("p"),
    ).distinct()


@register(
    "docs_gram_fingerprint_digest",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 5 THEN
               list_transform(range(1, len(ws) - 3),
                 i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                          || ' ' || ws[i+3] || ' ' || ws[i+4]))
             ELSE [] END AS gh
      FROM w
    )
    SELECT doc_id,
           CAST(len(gh) AS BIGINT) AS n_grams,
           md5(array_to_string(gh, '|')) AS gram_digest
    FROM g
    """,
    overflow=True,  # oracle-checked, but cedes its driver slot: this is
    # 100x-sweep evidence for docs_dup_span_coverage/_strip, whose own
    # frequent-gram-join oracles are infeasible at the 100× tier
    doc="Scale-proof digest twin of the ExactSubstr span family's GRAM "
    "stage (r14 verdict #6, the docs_minhash_sig_digest pattern): per "
    "document, one md5 over the md5-fingerprints of its positional "
    "word-5-grams in start-position order — the exact per-row "
    "intermediate docs_dup_span_coverage/_strip join on (same "
    "words_col/shingles_expr(k=5) construction). Those entries' own "
    "oracles recompute the grams into a frequent-gram JOIN — "
    "cross-document, spill-heavy at 500k docs — while this oracle is "
    "LINEAR (split, windowed concat, two md5 layers, no join, no "
    "explode even), so the exact-hash evidence that tokenization, "
    "1-based 5-gram windowing, and gram text assembly are cross-engine "
    "bit-identical extends to the 100× tier. Plan shape: single "
    "projection, zero shuffles.",
)
def docs_gram_fingerprint_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    par = docs.sparkSession.sparkContext.defaultParallelism
    w = docs.repartition(par).select("doc_id", words_col().alias("__w"))
    gh = F.transform(
        shingles_expr(F.col("__w"), 5), lambda s: F.md5(s)
    )
    return w.select(
        "doc_id",
        F.size(gh).cast("bigint").alias("n_grams"),
        F.md5(F.array_join(gh, "|")).alias("gram_digest"),
    )


@register(
    "docs_dup_span_strip",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id, t.i AS start_pos,
             ws[t.i] || ' ' || ws[t.i+1] || ' ' || ws[t.i+2] || ' ' ||
             ws[t.i+3] || ' ' || ws[t.i+4] AS gram
      FROM w, unnest(CASE WHEN len(ws) >= 5
                          THEN range(1, len(ws) - 3) ELSE [] END) AS t(i)
    ),
    freq AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
      GROUP BY gram HAVING count(*) >= 2
    ),
    cov AS (
      SELECT DISTINCT g.doc_id, c.p
      FROM g JOIN freq USING (gram),
           unnest(range(g.start_pos, g.start_pos + 5)) AS c(p)
    ),
    pos AS (
      SELECT doc_id, t.i AS p, ws[t.i] AS word
      FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
    ),
    kept AS (
      SELECT pos.doc_id AS doc_id, pos.p AS p, pos.word AS word
      FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.p = pos.p
      WHERE cov.p IS NULL
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(word, ' ' ORDER BY p)) AS h
      FROM kept GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(a.h, md5('')) AS clean_md5
    FROM w LEFT JOIN agg a ON a.doc_id = w.doc_id
    """,
    doc="Duplicated-span REMOVAL — the rewrite half of ExactSubstr dedup "
    "(Lee et al. 2022): drop every token position covered by a "
    "cross-document duplicated 5-gram span (same span machinery as "
    "docs_dup_span_coverage) and reassemble the surviving tokens in "
    "order. Reassembly is sort_array(collect_list(struct(pos, word))) "
    "per doc — deterministic under any partitioning because the struct "
    "sort orders by the unique position — and the output carries "
    "md5(clean_text) so the cross-engine hash pins the rewritten STRING "
    "byte-for-byte, not just counts. Anti-join on (doc_id, pos) keeps "
    "the cut exact when spans overlap. Shuffles: the span machinery's "
    "bounded joins + one (doc_id, pos) anti-join ∝ corpus tokens.",
)
def docs_dup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    w, spans = _dup_spans(docs)
    cov = _covered_positions(spans)
    pos = w.select(
        "doc_id", F.posexplode(F.col("__w")).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("p"), "word")
    kept = pos.join(cov, ["doc_id", "p"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("p"), F.col("word")))
                    ),
                    lambda s: s["word"],
                ),
            )
        ).alias("h"),
    )
    base = docs.select(
        "doc_id", F.size(words_col()).cast("bigint").alias("n_words")
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("h"), F.md5(F.lit(""))).alias("clean_md5"),
    )


@register(
    "docs_source_quality_mix",
    overflow=True,  # oracle-checked via selfcheck; beyond the 50-slot cap
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
               / len(string_split(text, ' ')) AS score
      FROM documents
    ),
    o AS (
      SELECT score,
             row_number() OVER (ORDER BY score, doc_id) AS rn,
             count(*) OVER () AS cnt
      FROM s
    ),
    bounds AS (
      SELECT max(score) AS b
      FROM o, (VALUES (0.2),(0.4),(0.6),(0.8)) AS p(p)
      WHERE rn = 1 + floor(p.p * (cnt - 1))
      GROUP BY p.p
    ),
    bucketed AS (
      SELECT s.source, s.n_words,
             (SELECT CAST(count(*) AS BIGINT) FROM bounds
              WHERE s.score > bounds.b) AS quintile
      FROM s
    ),
    mix AS (
      SELECT source, quintile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_words) AS BIGINT) AS sum_tokens
      FROM bucketed GROUP BY source, quintile
    ),
    tot AS (
      SELECT source, CAST(sum(n_docs) AS BIGINT) AS total
      FROM mix GROUP BY source
    )
    SELECT m.source, m.quintile, m.n_docs, m.sum_tokens,
           round(CAST(m.n_docs AS DOUBLE) / t.total, 4) AS pct_r
    FROM mix m JOIN tot t ON t.source = m.source
    """,
    doc="Per-source quality mix — the source-drift monitor every curated "
    "corpus tracks (which feed is degrading, which upsamples well): "
    "documents bucketed into GLOBAL quality quintiles (same "
    "exact-integer avg-word-length score and nearest-rank boundary "
    "machinery as docs_quality_curriculum — at 100 TB swap "
    "percentile_approx boundaries in, same exact/approx twin contract), "
    "then a (source × quintile) crosstab with each source's share of "
    "its docs per quintile. Boundary assignment is a broadcast "
    "comparison against 4 scalars; the only shuffles are the two "
    "bounded aggregates, and the per-source share join is "
    "sources × quintiles sized.",
)
def docs_source_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    ntok = F.size(words_col()).cast("bigint")
    s = docs.select(
        "doc_id",
        "source",
        ntok.alias("n_words"),
        ((F.length("text") - ntok + 1).cast("double") / ntok).alias("score"),
    )
    w = Window.orderBy("score", "doc_id")
    o = s.select(
        "score",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("cnt"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn")
                == 1 + F.floor(F.lit(p / 5.0) * (F.col("cnt") - 1)),
                F.col("score"),
            )
        ).alias(f"b{p}")
        for p in range(1, 5)
    ]
    brow = o.agg(*picks).collect()[0]  # 4 scalars to the driver, bounded
    quintile = sum(
        F.when(F.col("score") > F.lit(float(brow[f"b{p}"])), 1).otherwise(0)
        for p in range(1, 5)
    ).cast("bigint")
    mix = (
        s.withColumn("quintile", quintile)
        .groupBy("source", "quintile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("sum_tokens"),
        )
    )
    tot = mix.groupBy("source").agg(F.sum("n_docs").alias("total"))
    return mix.join(tot, "source").select(
        "source",
        "quintile",
        "n_docs",
        "sum_tokens",
        F.round(F.col("n_docs").cast("double") / F.col("total"), 4)
        .alias("pct_r"),
    )


@register(
    "docs_minhash_sig_digest",
    oracle=f"""
    WITH sh AS ({DUCK_SHINGLES}),
    sig AS ({_duck_minhash(8)})
    SELECT doc_id,
           md5(m0 || '|' || m1 || '|' || m2 || '|' || m3 || '|' || m4
               || '|' || m5 || '|' || m6 || '|' || m7) AS sig_digest
    FROM sig
    """,
    overflow=True,  # oracle-checked, but cedes its driver slot: this is
    # 100x-sweep evidence for docs_minhash_lsh_pairs, which already
    # holds a slot (slot rotation is pinned in tests/test_plans.py)
    doc="Scale-proof digest twin of the MinHash signature chain (r13 "
    "verdict #4, the docs_bpe_encode_digest pattern): one md5 over the "
    "8 per-doc signature slots in fixed slot order. The pairs entry's "
    "oracle is infeasible at the 100× tier — its band SELF-JOIN "
    "recomputes the signature chain per branch and spilled past 53 GB "
    "at 500k docs — while this oracle is LINEAR in the corpus (one "
    "shingle explode, 8 min() aggregates, one md5), so the exact-hash "
    "evidence that the shingle→md5→min signature pipeline is "
    "bit-identical cross-engine extends to 500k docs. Slot order is a "
    "fixed column list, not an ordered aggregate, so no engine builds "
    "a per-doc ordering. Plan shape: the same single digest shuffle as "
    "the pairs entry's signature stage, no join at all.",
)
def docs_minhash_sig_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    sig = (
        doc_shingles(docs, distinct=False)
        .groupBy("doc_id")
        .agg(*_minhash_cols(8))
    )
    return sig.select(
        "doc_id",
        F.md5(
            F.concat_ws("|", *[F.col(f"m{i}") for i in range(8)])
        ).alias("sig_digest"),
    )
