"""Corpus deduplication operators for 100 TB training-data pipelines.

All pure DataFrame algebra — hashes are md5-derived (JVM-side, codegen'd),
no Python UDFs anywhere. The intended composition at scale:

    minhash_signatures ─▶ lsh_candidate_pairs ─▶ ngram_jaccard_pairs(candidates)
        (map-side agg)      (band-key equi-join)    (exact verify, candidates only)
        ─▶ duplicate_components ─▶ keep one doc per component

The LSH band join keeps shuffle ∝ docs × bands; the exact Jaccard verify
then touches only candidate pairs instead of docs². `ngram_jaccard_pairs`
without candidates is the small-data / oracle-checkable path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def words(text: Column | str = "text") -> Column:
    return F.split(F.col(text) if isinstance(text, str) else text, " ")


def shingles(text: Column | str = "text", k: int = 3) -> Column:
    """Word k-gram shingles (space-joined strings); empty when < k words.

    Built as arrays_zip over k shifted slices of the token array, then one
    transform folding each struct to a space-joined string. The zip/slice
    ops are codegen'd collection expressions, so the only interpreted
    (CodegenFallback) work left is the per-gram concat over cheap struct
    accesses — measured 6-10× over the previous per-gram element_at
    formulation (sequence + transform with k casted array probes per
    gram), with byte-identical output. At 100 TB this is the inner loop
    of every shingle consumer (MinHash, n-gram Jaccard, dup-span,
    boilerplate, repetition), so per-gram microcost is corpus-scan cost."""
    w = words(text)
    n = F.size(w)
    m = n - (k - 1)
    z = F.arrays_zip(*[F.slice(w, 1 + off, m) for off in range(k)])
    mk = lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)])
    return F.when(n >= k, F.transform(z, mk)).otherwise(
        F.array().cast("array<string>")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash, keeping the smallest id per group.
    Hash computed map-side; one shuffle on the 128-bit digest."""
    return (
        df.withColumn("__h", F.md5(text_col))
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__h").orderBy(id_col)),
        )
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str = "text", token_count: Column | None = None
) -> DataFrame:
    """Soft deduplication: down-weight duplicates instead of dropping them.

    SoftDeDup (Xue et al. 2024) reweights the training loss so a document
    duplicated m times contributes as much total gradient as one copy —
    weight = 1/m, where m is the exact content-hash multiplicity. This is
    the sampling-side dual of `exact_dedup`: no document is lost (rare
    high-quality duplicates keep representation), but the duplicated mass
    stops dominating the token budget. Composes with the mixing operators
    (ml/splits.py): eff_tokens is the multiplicity-discounted token count a
    budget allocator should charge per doc.

    Scale shape: the multiplicity is a window count over the map-side md5 —
    ONE shuffle on the 128-bit digest, same as exact_dedup; weights are a
    post-shuffle projection, no second exchange. The weight divisions are
    double/bigint — bit-identical IEEE across engines.
    """
    toks = (
        token_count
        if token_count is not None
        else F.size(F.split(F.col(text_col), " ")).cast("bigint")
    )
    mult = F.count("*").over(Window.partitionBy(F.md5(text_col)))
    return (
        df.withColumn("multiplicity", mult.cast("bigint"))
        .withColumn("weight", F.lit(1.0) / F.col("multiplicity"))
        .withColumn("n_tokens", toks)
        .withColumn(
            "eff_tokens", F.col("n_tokens").cast("double") / F.col("multiplicity")
        )
    )


def shingle_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) distinct — the set representation used by minhash and
    exact Jaccard. Spreads the CPU-bound k-gram projection over cores and
    reuses `shingles()`'s arrays_zip formulation (byte-identical output,
    measured 6-10× over the per-gram element_at form this function used
    to inline — this feeds every prep/append hot path).

    The spread is HASHED on the id (r16), not round-robin: both
    downstream consumers cluster on doc_id — the (doc_id, shingle)
    distinct right below and minhash_signatures' groupBy(doc_id) — and
    HashPartitioning(doc_id) satisfies both clustered distributions, so
    the exploded shingle rows never cross a second exchange (guide §2.4);
    the whole signature chain pays ONE shuffle, of the input text."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(par, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles(text_col, k)).alias("shingle"),
        )
        .distinct()
    )


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 16
) -> DataFrame:
    """MinHash signature per document from a (doc_id, shingle) set:
    h_i(s) = md5(i ':' s), min per i. One map-side-combined aggregate.

    Built on `sh` itself with one parsed F.expr per slot; at 64 slots
    construct + analyze is ~0.07 s (4 vCPU). No name is registered in the
    session catalog, so a caller's cached `sh` stays cached."""
    return sh.groupBy("doc_id").agg(*[
        F.expr(f"min(md5(concat('{i}:', shingle))) AS m{i}")
        for i in range(n_hashes)
    ])


def lsh_band_rows(
    sig: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, key) rows from a `minhash_signatures` frame —
    the joinable form of the LSH banding shared by the self-join
    (`lsh_candidate_pairs`) and the cross-corpus incremental join
    (ml.prep.prep_incremental). Tiny: docs × bands rows. Built as ONE
    parsed F.expr (r16): the per-band struct/concat_ws Column chain was
    ~6 py4j round trips per band of pure plan-construction driver time;
    the parsed tree is identical."""
    structs = ", ".join(
        "struct({b} AS band, concat_ws('|', {slots}) AS key)".format(
            b=b,
            slots=", ".join(
                f"m{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bk")
    ).select("doc_id", "bk.band", "bk.key")


def lsh_candidate_pairs(
    sig: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    min_shared_bands: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: concat `rows_per_band` signature slots into a band key,
    self-join per band. Returns (doc_a, doc_b, n_shared_bands).

    Tuning: P(candidate) = 1-(1-j^r)^b for Jaccard j; r=4,b=4 targets
    j ≳ 0.7.

    `max_bucket_size` guards the degenerate corpus (many identical docs): a
    band bucket with n docs emits n(n-1)/2 pairs, so one hot bucket at 100 TB
    is a cartesian bomb. Buckets larger than the cap are dropped from
    candidate generation entirely (a window count per (band, key), computed
    in the same shuffle as the join key). Docs in a dropped bucket are near-
    certain exact dups of each other — route them through `exact_dedup`
    instead of pairwise verify. None = unbounded.
    """
    bands_df = lsh_band_rows(sig, bands=bands, rows_per_band=rows_per_band)
    if max_bucket_size is not None:
        bucket_n = F.count("*").over(Window.partitionBy("band", "key"))
        bands_df = bands_df.withColumn("__bn", bucket_n).filter(
            F.col("__bn") <= max_bucket_size
        ).drop("__bn")
    # The cache is LOAD-BEARING: exchange reuse does not fire across the
    # two self-join sides (measured — the asymmetric doc_id< pushdown
    # breaks canonicalization), so without it the shingle+minhash
    # projection would compute twice. DataFrame caches are never
    # GC-collected (CacheManager holds the plan), so the cached handle is
    # exposed on the result as `_lsh_cached_bands` and consumers that run
    # repeatedly (near_dup_keeplist under the streaming append gate)
    # unpersist it once their actions are done.
    bands_df = bands_df.cache()
    a, b_ = bands_df.alias("a"), bands_df.alias("b")
    out = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
        .filter(F.col("n_shared_bands") >= min_shared_bands)
    )
    out._lsh_cached_bands = bands_df
    return out


def ngram_jaccard_pairs(
    sh: DataFrame,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets → (doc_a, doc_b, jaccard ≥ threshold).

    With `candidates` (doc_a, doc_b), NO all-pairs join ever runs: shingle
    sets are collected to per-doc arrays once, candidates equi-join the two
    arrays in, and the intersection is `size(array_intersect(...))` per
    candidate row. Shuffle is ∝ |candidates| + |docs| — this is the verify
    stage after LSH, safe at any scale.

    Without `candidates`, the all-pairs shingle self-join runs (quadratic in
    per-shingle document frequency) — the small-data / oracle path only.
    """
    if candidates is not None:
        arrs = sh.groupBy("doc_id").agg(
            F.collect_set("shingle").alias("shs"), F.count("*").alias("n_sh")
        )
        a = arrs.select(
            F.col("doc_id").alias("doc_a"),
            F.col("shs").alias("sa"),
            F.col("n_sh").alias("na"),
        )
        b = arrs.select(
            F.col("doc_id").alias("doc_b"),
            F.col("shs").alias("sb"),
            F.col("n_sh").alias("nb"),
        )
        n_inter = F.size(F.array_intersect("sa", "sb"))
        jac = n_inter.cast("double") / (F.col("na") + F.col("nb") - n_inter)
        return (
            candidates.select("doc_a", "doc_b")
            .join(a, "doc_a")
            .join(b, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """SimHash fingerprint (tf-weighted word hashes, `bits` ≤ 64).

    Bit j comes from hex digit j//4 of md5(word); words vote ±1 per bit.
    Generated as `bits` integer aggregates — wide but fully codegen'd.
    """
    assert bits <= 64 and bits % 4 == 0
    # md5 + conv run once per (word, nibble) in this projection — NOT once
    # per bit inside the aggregate (4× fewer string ops in the hot loop).
    # Per-nibble and per-bit expressions are parsed F.exprs (r16): the
    # Column-chain form cost ~7 py4j round trips per bit of pure
    # plan-construction driver time per invocation; identical trees.
    w = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words(text_col)).alias("word")
    ).select(
        "doc_id",
        *[
            F.expr(
                f"CAST(conv(substring(md5(word), {c + 1}, 1), 16, 10) "
                f"AS INT) AS __n{c}"
            )
            for c in range(bits // 4)
        ],
    )
    terms = []
    for j in range(bits):
        bit = f"(shiftright(__n{j // 4}, {3 - (j % 4)}) & 1)"
        vote = f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"
        # shiftleft so bit 63 lands in the sign bit instead of overflowing
        terms.append(f"shiftleft(CAST(({vote} > 0) AS BIGINT), {j})")
    total = F.expr("0L + " + " + ".join(terms))
    return w.groupBy("doc_id").agg(total.alias("simhash"))


def simhash_near_pairs(
    sig: DataFrame, max_hamming: int = 3, chunks: int | None = None
) -> DataFrame:
    """Near-dup pairs by SimHash within `max_hamming` bits.

    Pigeonhole banding: split the fingerprint into `chunks` bit-ranges; any
    pair within max_hamming ≤ chunks-1 shares at least one exact chunk, so
    candidates come from equality joins on chunk values (shuffle ∝ docs ×
    chunks, never docs²), then exact Hamming verify via bit_count(xor).

    `chunks=None` (the default) derives the smallest valid band count from
    max_hamming; an explicit chunks that violates the pigeonhole bound is
    a hard ValueError — a too-small band count silently DROPS true pairs
    whose differing bits spread across every chunk (recall loss in a
    dedup gate, invisible to the caller).
    """
    if chunks is None:
        chunks = next(c for c in (2, 4, 8, 16, 32, 64) if c > max_hamming)
    if not (1 <= max_hamming < chunks <= 64 and 64 % chunks == 0):
        raise ValueError(
            f"pigeonhole banding needs max_hamming <= chunks-1 with chunks "
            f"dividing 64; got max_hamming={max_hamming}, chunks={chunks}"
        )
    width = 64 // chunks
    chunk_cols = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned("simhash", c * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for c in range(chunks)
    ]
    parts = sig.select(
        "doc_id", F.col("simhash"), F.explode(F.array(*chunk_cols)).alias("ck")
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
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
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def duplicate_components(
    pairs: DataFrame,
    iterations: int = 50,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over duplicate pairs → (doc_id, component_id),
    component_id = min doc id reachable.

    TWO physical paths, same exact output:

    - `driver_max_edges` or fewer DISTINCT pairs → union-find with path
      compression on the driver (one bounded collect of two longs per
      pair, ≤ ~32 MB at the default cap, then one parallelize back; the
      path decision rides the same collect — a `limit(cap+1)` probe —
      so the edge pipeline materializes exactly once, with no count()
      pre-pass and no persist).
      After LSH banding a near-dup graph is SPARSE — every edge is a
      verified near-duplicate — so even 100 TB corpora often land here;
      the cap, not the corpus, bounds driver memory, and the iterative
      path below remains the unguarded fallback. A graph that small is
      10+ Spark job barriers vs milliseconds of driver CPU.
    - larger graphs → iterative min-label propagation with POINTER
      JUMPING: each round takes the min over (a) the labels of graph
      neighbors and (b) the label of the current label's node
      (path-halving, label(d) ← label(label(d))). Edge propagation alone
      needs O(diameter) rounds — the sf0.1 near-dup graph has chains of
      diameter ~12 — while the combined step converges in O(log
      diameter): measured 12 → 4 rounds on that graph, and every Spark
      round is a full job barrier, so rounds ARE the wall-clock at any
      cluster size. Labels start at min(own id, min neighbor id), folding
      what used to be the first propagation round into initialization.

    Both paths are exercised by
    tests/test_ml.py::test_duplicate_components_driver_parity (the
    distributed path forced via driver_max_edges=0).

    Why not deeper jumps or large-star/small-star: a second jump per
    round (label⁴) was measured to change NOTHING on the slow-converging
    sf0.1 semantic graph — the decay there is bounded by how fast
    MIN-knowledge spreads along paths (the min-id node of a radius-r
    window sits ~r/2 in expectation, so the radius grows ~1.5× per round,
    jump depth is not the constraint), and composing uncheckpointed jump
    frames also re-inflates the logical plan the checkpointing exists to
    cut. Star-contraction algorithms would give true O(log n) but mutate
    the edge set per round; not worth it while measured rounds stay
    ≤ ~1.5·log₂(diameter).

    Correctness: labels only decrease, never below the component minimum
    (every label value is the id of a node in the same component — initial
    labels are own/neighbor ids, and both the edge step and the jump step
    copy labels from same-component nodes); when a round changes nothing,
    labels are stable under edge propagation, so they are constant on each
    component (edges are symmetrized) and equal to its min id. The jump
    step can only accelerate descent toward that fixpoint, never change it.

    Every round CHECKPOINTS its labels — `checkpoint(eager=True)` when the
    context has a checkpoint dir (the fault-tolerant cluster form), else
    `localCheckpoint`. Persist alone is NOT enough for an iterative plan:
    it short-circuits physical re-execution but the LOGICAL plan still
    nests both uses of the previous round's labels, so the tree doubles
    per round — at sf0.1 the driver died with an OOM while merely
    *stringifying* the round-~N plan for the cache name
    (TreeNode.treeString inside CachedRDDBuilder). Checkpointing truncates
    lineage to a constant-size plan per round — the same pattern
    GraphFrames' connected components uses.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    sc = pairs.sparkSession.sparkContext

    def snapshot(df: DataFrame) -> DataFrame:
        # eager: materializes now AND cuts the logical plan at this node
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    p2 = pairs.select("doc_a", "doc_b").distinct()
    id_is_integral = dict(p2.dtypes)["doc_a"] in ("bigint", "int", "smallint")
    rows = None
    if id_is_integral and driver_max_edges > 0:
        # Path decision and edge fetch in ONE pass: a limit(cap+1) probe
        # (the unigram_train pattern). If at most `driver_max_edges` rows
        # come back, they ARE the complete distinct edge set — no separate
        # count() materialization, no persist, one job instead of two.
        # Driver memory stays bounded by the cap (+1 row of two longs).
        # CollectLimit's executeTake scans the final stage INCREMENTALLY
        # (initialNumPartitions=1, ×scaleUpFactor rounds) — for a probe
        # that expects to read everything that re-runs the result stage
        # ~log times (measured 0.7 → 1.2 s on docs_dup_components), so
        # pin one-shot take for the duration of this single collect.
        spark = pairs.sparkSession
        _k = "spark.sql.limit.initialNumPartitions"
        _old = spark.conf.get(_k, None)
        spark.conf.set(_k, str(1 << 30))
        try:
            rows = p2.limit(driver_max_edges + 1).collect()
        finally:
            if _old is None:
                spark.conf.unset(_k)
            else:
                spark.conf.set(_k, _old)
        if len(rows) > driver_max_edges:
            rows = None  # too big — fall through to the distributed path
    if rows is not None:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = r[0], r[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # always hang the larger root under the smaller, so every
                # final root IS the component's min id — same contract as
                # the propagation path
                parent[max(ra, rb)] = min(ra, rb)
        out = [(x, find(x)) for x in parent]
        dtype = dict(pairs.dtypes)["doc_a"]
        return pairs.sparkSession.createDataFrame(
            out, f"doc_id {dtype}, component_id {dtype}"
        )

    # Distributed path only: p2 feeds BOTH union branches, so cache it for
    # the one materialization of `edges` (the driver path never pays this).
    p2 = p2.persist()
    edges = (
        p2.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(p2.select(F.col("doc_b"), F.col("doc_a")))
        .distinct()
        .persist()
    )
    # init = min(own, min neighbor): the first edge-propagation round for
    # free, computed in the same aggregate that discovers the node set
    labels = snapshot(
        edges.groupBy(F.col("u").alias("doc_id")).agg(
            F.least(F.first("u"), F.min("v")).alias("component_id")
        )
    )
    for _ in range(iterations):
        neighbor_min = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        # pointer jump: the label of my label's node (component_id is
        # always some node's doc_id, so the self-join always resolves)
        jump = labels.alias("a").join(
            labels.alias("b"),
            F.col("a.component_id") == F.col("b.doc_id"),
        ).select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.component_id").alias("jump_min"),
        )
        new_labels = snapshot(
            labels.join(neighbor_min, "doc_id", "left")
            .join(jump, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    "component_id",
                    F.coalesce("nbr_min", "component_id"),
                    F.coalesce("jump_min", "component_id"),
                ).alias("component_id"),
                (
                    F.least(
                        F.coalesce("nbr_min", "component_id"),
                        F.coalesce("jump_min", "component_id"),
                    )
                    < F.col("component_id")
                )
                .cast("int")
                .alias("__changed"),
            )
        )
        n_changed = new_labels.filter(F.col("__changed") == 1).count()
        labels = new_labels.drop("__changed")
        if n_changed == 0:
            break
    else:
        # `iterations` is a hard cap on rounds, not the convergence
        # criterion: a component with diameter > iterations would silently
        # return unconverged (wrong) labels — and the registered oracle is
        # the full transitive-closure fixpoint. Surface it loudly.
        import warnings

        warnings.warn(
            f"duplicate_components hit the {iterations}-round cap with "
            f"{n_changed} labels still changing — labels are NOT converged; "
            "raise `iterations` (rounds needed = max component diameter)",
            RuntimeWarning,
            stacklevel=2,
        )
    edges.unpersist()
    p2.unpersist()
    return labels
