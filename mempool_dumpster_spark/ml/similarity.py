"""Similarity search over embedding columns (`array<float>`).

Tiers (compose freely; all trainings are deterministic — md5 init,
DECIMAL-exact Lloyd — so indexes are bit-stable across partitionings;
each k-means training is ONE collect of its unit vectors, capped at
`_TRAIN_MAX_ROWS` rows by a deterministic hash sample, then every Lloyd
round on the driver in numpy, so its Spark jobs do not grow with the
iteration count):
- `cosine_topk` — brute-force exact baseline: broadcast query set × full
  scan, JVM-side zip_with/aggregate dot products, per-query top-k window.
  Right whenever the query set is small (the scan is one pass regardless).
- `lsh_bucketed_topk` — random-hyperplane LSH: sign-bit signatures bucket
  both sides; candidates come from a bucket equi-join, then exact cosine
  re-rank. The 100 TB path when BOTH sides are large: shuffle ∝ rows ×
  tables, never |Q|×|C|. Hyperplanes are derived deterministically from a
  seed (md5-based), so plans are reproducible run-to-run — no RNG state.
- `ivf_topk` — inverted-file (IVF) index: a spherical k-means coarse
  quantizer partitions candidates into `n_cells` Voronoi cells; each query
  probes only its `nprobe` nearest cells, then exact cosine re-rank. The
  classic ANN scale shape (FAISS IVF-Flat): candidate work per query is
  ~nprobe/n_cells of the corpus, and the probe is a cell-key equi-join —
  shuffle ∝ rows, never |Q|×|C|. Training is Lloyd iterations on the
  driver with DECIMAL-exact per-cell sums (order-independent →
  deterministic centroids for a fixed seed, no RNG and no
  fp-association drift), and the centroid table (n_cells × dim floats)
  is driver-resident/broadcast — the same "train small, index big"
  split real IVF systems use.
- `pq_topk` — product quantization (ADC): vectors compress to m sub-codes
  (16 bytes vs 256 at the default config) and the scan ranks candidates
  by per-query table lookups over the CODE artifact — the float vectors
  are only touched for the refine·k exact re-rank.
- `ivfpq_topk` — the canonical 100 TB composition (FAISS IVFPQ): IVF
  prunes WHICH vectors a query looks at, PQ codes decide the ORDER
  cheaply, exact cosine re-ranks the shortlist.
- `sq8_topk` / `bq_topk` — 8-bit scalar and 1-bit sign codes scored by
  pure Catalyst expressions, then the same exact re-rank.

The approximate paths carry measured recall@3 gates (0.967 on the
isotropic sf0.01 test embeddings) in tests and bench.

Each persistable quantizer (IVF-PQ, SQ8, BQ) has one BUILD step (the
candidate unit frame → its code rows) and one SERVE step (code rows +
queries → top-k), and every public entry point composes the two: the
inline rung is serve(build(candidates)), `write_*_index` persists
build(candidates), `append_*_index` builds the new rows with the stored
artifacts, and `*_topk_pretrained` is serve(spark.table(index)). So an
inline rung and its pretrained twin return the same rows by
construction. Every serve step collects its queries through
`_serve_queries` and ends in the one exact re-rank tail,
`_shortlist_rerank`: the refine·k best prescores per query, their unit
vectors (the inline build's cached frame, or the raw candidates fetched
by a broadcast semi-join), exact cosine, per-query rank.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(u: Column, v: Column) -> Column:
    """Sequential fold — deterministic fp result for a given array order."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def dot_sql(u: str, v: str) -> str:
    """`dot` as a SQL string: the same sequential fold, so both forms
    give bit-identical doubles."""
    return (
        f"aggregate(zip_with({u}, {v}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def sim_bp_sql(u: str, v: str) -> str:
    """Exact integer basis points of the cosine of unit vectors `u`, `v`:
    rounded to 4 decimals, then scaled. The ×10000 double sits ~0.5 from
    any rounding boundary, so the BIGINT cast is the same in every
    engine; the MMR relevance score and its penalties both use it."""
    return f"CAST(round(round({dot_sql(u, v)}, 4) * 10000) AS BIGINT)"


def norm(u: Column) -> Column:
    return F.sqrt(dot(u, u))


def _empty_topk_result(q: DataFrame) -> DataFrame:
    """Empty (query_id, neighbor_id, sim, rank) frame matching the top-k
    output schema — returned by the query-collecting ANN paths when the
    query set is empty (np.stack over zero rows would otherwise raise an
    opaque 'need at least one array to stack'). Built via createDataFrame
    rather than a limit(0) cross-join so no Cartesian enters any plan."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    id_type = q.schema["query_id"].dataType
    return q.sparkSession.createDataFrame(
        [],
        StructType(
            [
                StructField("query_id", id_type),
                StructField("neighbor_id", id_type),
                StructField("sim", DoubleType()),
                StructField("rank", IntegerType(), False),
            ]
        ),
    )


def _pq_shape(
    codebooks: list[list[list[float]]], dim: int
) -> tuple[int, int, int]:
    """Derive (m, k_codes, d_sub) from the codebooks' ACTUAL shape and
    validate dim == m * d_sub — supplied codebooks are the source of
    truth (a caller-passed m that disagreed used to mis-slice query
    subranges in the ADC tables and silently degrade recall)."""
    m = len(codebooks)
    if m == 0 or not codebooks[0]:
        raise ValueError("PQ codebooks are empty")
    k_codes = len(codebooks[0])
    d_sub = len(codebooks[0][0])
    for s, book in enumerate(codebooks):
        if len(book) != k_codes or any(len(cw) != d_sub for cw in book):
            raise ValueError(
                f"PQ codebooks are ragged at subspace {s}: expected "
                f"{k_codes} codewords × {d_sub} dims"
            )
    if dim != m * d_sub:
        raise ValueError(
            f"PQ codebooks cover {m} subspaces × {d_sub} dims = "
            f"{m * d_sub}, but dim={dim} — the codebooks were trained "
            "for a different vector width"
        )
    return m, k_codes, d_sub


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin a THIN input (fewer partitions than cores) across the
    cluster before the unit-vector projection. `with_unit_vector`'s norm
    is the exact sequential JVM fold (~1.5 ms/row at dim 64, an fp-parity
    obligation); when a small corpus arrives as 1-2 parquet files the
    fold otherwise runs on 1-2 cores — measured 15 s/materialization at
    the 20k-vector sf1 stress vs ~1 s spread across 32. A corpus wide
    enough to saturate the cluster passes through untouched (no shuffle
    added at scale)."""
    cpus = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cpus:
        return df.repartition(cpus)
    return df


def with_unit_vector(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Pre-normalize once so cosine = dot downstream."""
    e = _as_double(emb_col)
    return df.withColumn("__norm", norm(e)).withColumn(
        "unit", F.transform(e, lambda x: x / F.col("__norm"))
    ).drop("__norm")


def _candidate_units(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """Candidate side of every rung, index writer and appender:
    (neighbor_id, c_unit), spread across the cores before the normalize
    fold (see `_spread`)."""
    return with_unit_vector(_spread(df), emb_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("unit").alias("c_unit")
    )


def _query_units(queries: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """Query side of every rung: (query_id, q_unit)."""
    return with_unit_vector(queries, emb_col).select(
        F.col(id_col).alias("query_id"), F.col("unit").alias("q_unit")
    )


def _serve_queries(
    queries: DataFrame,
    id_col: str,
    emb_col: str,
    serve: Callable[[DataFrame, list], DataFrame],
) -> DataFrame:
    """Query side of the serve steps that need the queries on the
    driver (PQ / IVF-PQ ADC tables and cell probes, SQ8 / BQ score
    literals): collect the query units — |Q| is a small batched set by
    contract — and return `serve(q, q_rows)`. An empty query set returns
    the empty top-k frame here, before any per-query table is built
    from zero rows."""
    q = _query_units(queries, id_col, emb_col)
    q_rows = q.collect()
    if not q_rows:
        return _empty_topk_result(q)
    return serve(q, q_rows)


def _exact_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The rank step every rung ends in: exact cosine of each
    (query_id, neighbor_id) pair from its `q_unit` and `c_unit` (the
    sequential `dot` fold), then the per-query top k by sim desc with a
    neighbor_id tiebreak."""
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        dot(F.col("q_unit"), F.col("c_unit")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _shortlist_rerank(
    scored: DataFrame,
    candidates: DataFrame,
    q: DataFrame,
    k: int,
    refine: int,
    id_col: str,
    emb_col: str,
    ascending: bool = False,
    c: DataFrame | None = None,
) -> DataFrame:
    """The exact re-rank tail of every prescoring rung (IVF, PQ, IVF-PQ,
    SQ8, BQ; inline and pretrained), the fp-parity-critical piece,
    audited in one place. `scored` is (query_id, neighbor_id, approx):
    keep each query's refine·k best approx (ascending for distances,
    descending for similarities; neighbor_id tiebreak) and rank them by
    exact cosine. The shortlist's unit vectors come from the build's
    cached unit frame `c` when the caller has one (an inline rung), else
    from the raw `candidates` by a broadcast semi-join that runs BEFORE
    the normalize, so the ~ms-per-row interpreted fold touches only
    refine·k·|Q| vectors. Both give the same units, so the sims are
    bit-identical to what `cosine_topk` emits for the same pairs."""
    order = F.col("approx").asc() if ascending else F.col("approx").desc()
    w = Window.partitionBy("query_id").orderBy(order, "neighbor_id")
    shortlist = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= refine * k)
        .select("query_id", "neighbor_id")
    )
    if c is not None:
        units = shortlist.join(c, "neighbor_id")
    else:
        fetched = candidates.select(
            F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("__emb")
        ).join(F.broadcast(shortlist), "neighbor_id")
        units = with_unit_vector(fetched, "__emb").withColumnRenamed(
            "unit", "c_unit"
        )
    return _exact_topk(units.join(F.broadcast(q), "query_id"), k)


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query → (query_id, neighbor_id, sim,
    rank). Query side is broadcast; candidate scan is a single pass."""
    c = _candidate_units(candidates, id_col, emb_col)  # single pass — no cache
    q = _query_units(queries, id_col, emb_col)
    return _exact_topk(
        c.crossJoin(F.broadcast(q)).filter(
            F.col("neighbor_id") != F.col("query_id")
        ),
        k,
    )


def _hyperplanes(dim: int, n_planes: int, seed: str = "lsh") -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes: components are
    md5-derived uniform values in [-1, 1). Seeded → reproducible plans."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            (u,) = struct.unpack(">Q", h[:8])
            row.append(u / 2**63 - 1.0)
        planes.append(row)
    return planes


def simhash_signature(emb_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit p = (emb · plane_p) > 0, packed into a long.
    JVM-expression form — kept as the public scalar API; the bucketed
    operators below use `_table_buckets_udf`, the Arrow-vectorized
    equivalent (one matmul for all tables instead of per-plane folds)."""
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        bit = (dot(emb_col, lit_plane) > 0).cast("long")
        sig = sig + bit * F.lit(2**p).cast("long")
    return sig


def _table_buckets_udf(dim: int, n_planes: int, n_tables: int):
    """array<int> of per-table sign-bucket ids, all tables in ONE Arrow
    matmul: (rows × dim) @ (dim × n_tables·n_planes) then bit-pack per
    table. The interpreted `dot` fold costs ~1.5 ms per plane per row;
    sign bits carry no fp-parity obligation (a boundary flip moves a
    candidate between buckets, it cannot corrupt the exact re-rank), so
    the vectorized path is safe everywhere buckets are consumed."""
    from pyspark.sql.functions import pandas_udf

    # the packed bucket id rides an array<int>; at 32+ planes int32
    # wraps and silently MERGES buckets (inflated candidate sets, not an
    # error) — the scalar `simhash_signature` long path covers up to 63
    if n_planes > 31:
        raise ValueError(
            f"n_planes ({n_planes}) exceeds 31: per-table buckets pack "
            "into int32; use simhash_signature's long path for wider "
            "signatures"
        )
    planes: list[list[float]] = []
    for t in range(n_tables):
        planes += _hyperplanes(dim, n_planes, seed=f"t{t}")
    pmat = np.array(planes)
    weights = np.tile(2 ** np.arange(n_planes, dtype=np.int64), n_tables)

    @pandas_udf("array<int>")
    def _buckets(embs: pd.Series) -> pd.Series:
        x = np.vstack(embs.to_numpy())
        bits = (x @ pmat.T) > 0
        grp = (bits * weights).reshape(len(x), n_tables, n_planes).sum(axis=2)
        return pd.Series(list(grp.astype("int32")))

    return _buckets


def lsh_bucketed_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: `n_tables` independent sign-bit signatures; a pair
    is a candidate when any table's full signature matches; exact cosine
    re-rank on candidates. Recall rises with n_tables, cost with bucket
    collision rate — both deterministic for a fixed seed.

    Plan shape: signatures are ONE Arrow matmul per side emitting SKINNY
    (id, table, bucket) rows — unit vectors are not replicated n_tables×
    and never ride the bucket join. Candidates dedup on the two ids alone,
    then re-fetch both unit vectors (query side broadcast — the query set
    is small by contract; candidate side a hash join) for the exact
    JVM-fold re-rank, whose sim values are bit-identical to the
    all-pairs form."""
    buckets = _table_buckets_udf(dim, n_planes, n_tables)
    # re-materialized by index/encode + the exact re-rank fetch
    c = _candidate_units(candidates, id_col, emb_col).cache()
    q = _query_units(queries, id_col, emb_col)
    c_sig = c.select(
        "neighbor_id", F.posexplode(buckets("c_unit")).alias("table", "bucket")
    )
    q_sig = q.select(
        "query_id", F.posexplode(buckets("q_unit")).alias("table", "bucket")
    )
    cand = (
        c_sig.join(q_sig, ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _exact_topk(cand.join(c, "neighbor_id").join(F.broadcast(q), "query_id"), k)


def cosine_near_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 3,
    n_tables: int = 48,
    round_digits: int = 4,
    broadcast_bytes: int = 128 << 20,
    gemm_flops_cap: float = 4e11,
) -> DataFrame:
    """All near-duplicate pairs (sim >= threshold) via LSH bucketing — the
    scale-safe replacement for the |C|²/2 all-pairs self-join.

    Topology (three stages, no cross join anywhere):
    1. SIGNATURE — one scan; an Arrow-batched numpy matmul computes all
       n_tables × n_planes sign bits per row at once (the interpreted
       higher-order-function fold costs ~1.5 ms per dot — 60 dots/row makes
       it the wrong tool here; the sign bits carry no fp-parity obligation,
       so the vectorized path is safe). Output is SKINNY (id, table,
       bucket) rows — vectors are NOT replicated n_tables×.
    2. CANDIDATES — (table, bucket) self-equi-join with id_a < id_b, then
       distinct pairs: the dedup shuffle moves two longs per row.
    3. VERIFY — two passes: a vectorized numpy prefilter at (threshold −
       0.01) — numpy and the sequential fold agree to ~1e-12, so the slack
       can never drop a true pair — then the exact JVM sequential-fold
       dot / norm product, rounded, only on the few survivors. When the
       vector table fits a modest broadcast (≤ broadcast_bytes) the
       prefilter is a mapInArrow gather against a broadcast id-sorted
       matrix — only the two ids cross the Arrow boundary; otherwise the
       candidates re-join the vector table twice (broadcast when small,
       sort-merge at scale) and the prefilter is an Arrow-batched pandas
       UDF over the fetched vectors. The output value is bit-identical to
       the all-pairs form either way, so every plan matches the same
       DuckDB oracle, and the ~1.5 ms/dot interpreted fold runs on ~|true
       pairs| rows instead of every candidate.

    Recall: a pair at similarity s collides per table w.p.
    (1 - acos(s)/π)^n_planes; missing all n_tables tables is exponentially
    unlikely in n_tables. Size n_tables from the pair count, not vibes:
    3 planes × 20 tables has per-pair miss ≈ 3e-3 at s = 0.4, which dropped
    2 of the sf0.1 corpus's 920 true pairs — exactly the binomial
    expectation. The default 48 tables pushes per-pair miss to ≈ 9e-7
    (~1e-3 expected misses on that corpus, still ≪1 at 10× more pairs) and
    is verified exhaustive by
    tests/test_ml.py::test_emb_near_pairs_bucketed_parity. On an
    isotropic corpus with pairs at the threshold tail (this testdata) the
    bucket filter prunes only ~15%; on a real clustered corpus the same
    topology prunes almost everything — raise n_planes and the join
    collapses to near-dup clusters.
    """
    from pyspark.sql.functions import pandas_udf

    _buckets = _table_buckets_udf(dim, n_planes, n_tables)
    spark = df.sparkSession
    cpus = spark.sparkContext.defaultParallelism
    e = (
        _spread(df)
        .select(F.col(id_col).alias("id"), _as_double(emb_col).alias("emb"))
        .withColumn("nrm", norm(F.col("emb")))
        .cache()  # scanned three times: signature + both verify fetches
    )
    sig = e.repartition(cpus).select(
        "id", F.posexplode(_buckets("emb")).alias("table", "bucket")
    )
    pairs = (
        sig.alias("a")
        .join(sig.alias("b"), ["table", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    def _exact_on(survivors: DataFrame) -> DataFrame:
        # the exact JVM sequential-fold dot / norm product, rounded — the
        # value the oracle reproduces; runs only on prefilter survivors
        fetched = survivors.join(
            e.select(
                F.col("id").alias("id_a"),
                F.col("emb").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        ).join(
            e.select(
                F.col("id").alias("id_b"),
                F.col("emb").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
        sim = F.round(
            dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
            round_digits,
        )
        return fetched.select("id_a", "id_b", sim.alias("sim")).filter(
            F.col("sim") >= threshold
        )

    id_is_long = dict(e.dtypes)["id"] == "bigint"
    n_vecs = e.count() if id_is_long else 0
    fits_broadcast = id_is_long and n_vecs * dim * 8 <= broadcast_bytes

    # GEMM fast path (r10, verdict #3): when the vector table fits the
    # broadcast AND the full n²·dim multiply is affordable (≤ ~4e11
    # flops — a few seconds of BLAS on local[32]; n ≤ ~80k at dim 64),
    # SKIP the LSH stage entirely. On isotropic corpora the sign-LSH
    # bucket filter admits ~all pairs as candidates (measured ~85% at
    # sf0.1; the r9 sf1 stress paid 77 s mostly shuffling ~10⁸ candidate
    # pairs through the bucket join + distinct), while a blocked
    # row-panel × matrixᵀ product against the ALREADY-BROADCAST matrix
    # computes the identical prefilter with zero candidate shuffle —
    # each task emits only its surviving (id_a, id_b) longs, and recall
    # is exactly 1 by construction (no banding miss probability at all).
    # The exact JVM fold still decides membership, so the output is
    # bit-identical to the LSH and join paths. This is also SemDeDup's
    # production shape — within-block exact GEMM — here with one block.
    # Panels are sub-chunked so the score slab stays ≤ ~128 MB.
    if fits_broadcast and n_vecs * n_vecs * dim <= gemm_flops_cap:
        import pyarrow as pa

        rows = e.collect()  # bounded by the broadcast guard above
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        order = np.argsort(ids)
        ids_s = ids[order]
        x_s = np.array([r["emb"] for r in rows], dtype=np.float64)[order]
        nrm_s = np.array([r["nrm"] for r in rows], dtype=np.float64)[order]
        bc = spark.sparkContext.broadcast((ids_s, x_s, nrm_s))
        cut = threshold - 0.01
        n = len(ids_s)
        chunk = max(1, (16 << 20) // max(n, 1))  # ≤ 128 MB of doubles

        def _block_pairs(batches):
            sids, xb, nrb = bc.value
            col = np.arange(len(sids))
            for b in batches:
                pos = b.column("pos").to_numpy()
                for lo in range(0, len(pos), chunk):
                    p = pos[lo : lo + chunk]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        s = (xb[p] @ xb.T) / np.outer(nrb[p], nrb)
                        # NaN (zero-norm) compares False, as in the
                        # join path's filter
                        mask = s >= cut
                    mask &= col[None, :] > p[:, None]  # id_a < id_b
                    bi, bj = np.nonzero(mask)
                    yield pa.record_batch(
                        [pa.array(sids[p[bi]]), pa.array(sids[bj])],
                        names=["id_a", "id_b"],
                    )

        panels = (
            spark.range(n)
            .select(F.col("id").cast("int").alias("pos"))
            .repartition(cpus)
        )
        kept = panels.mapInArrow(_block_pairs, "id_a long, id_b long")
        return _exact_on(kept)

    # Prefilter fast path: when the vector table fits a modest broadcast
    # (rows × dim × 8 ≤ broadcast_bytes, default 128 MB ≈ 250k vectors at
    # dim 64) and ids are BIGINT — but the corpus is too big for the full
    # GEMM above — candidates come from the LSH bucket join and are
    # prefiltered by a mapInArrow gather against a broadcast id-sorted
    # matrix: only the two ids cross the Arrow boundary (16 B/pair
    # instead of the two fetched vectors' ~2·dim·8 B/pair) and the dot is
    # one vectorized row product. numpy and the sequential fold agree to
    # ~1e-12, so the 0.01 slack can never drop a true pair — the same
    # argument as the join-path prefilter below, which remains the
    # unguarded 100 TB form.
    if fits_broadcast:
        import pyarrow as pa

        rows = e.collect()  # bounded by the broadcast guard above
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        order = np.argsort(ids)
        ids_s = ids[order]
        x_s = np.array([r["emb"] for r in rows], dtype=np.float64)[order]
        nrm_s = np.array([r["nrm"] for r in rows], dtype=np.float64)[order]
        bc = spark.sparkContext.broadcast((ids_s, x_s, nrm_s))
        cut = threshold - 0.01

        def _prefilter(batches):
            sids, xb, nrb = bc.value
            for b in batches:
                ia = np.searchsorted(sids, b.column("id_a").to_numpy())
                ib = np.searchsorted(sids, b.column("id_b").to_numpy())
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = (xb[ia] * xb[ib]).sum(axis=1) / (nrb[ia] * nrb[ib])
                mask = s >= cut  # NaN (zero-norm) compares False, as in
                yield b.filter(pa.array(mask))  # the join path's filter

        kept = pairs.mapInArrow(_prefilter, "id_a long, id_b long")
        return _exact_on(kept)

    @pandas_udf("double")
    def _approx_sim(
        ea: pd.Series, eb: pd.Series, na: pd.Series, nb: pd.Series
    ) -> pd.Series:
        xa = np.vstack(ea.to_numpy())
        xb = np.vstack(eb.to_numpy())
        return pd.Series(
            (xa * xb).sum(axis=1) / (na.to_numpy() * nb.to_numpy())
        )

    # Plan barrier: left deterministic, Catalyst commutes the exact-fold
    # filter below this prefilter (it becomes a join post-condition) and the
    # ~ms-per-row interpreted fold runs on every candidate — exactly what
    # the prefilter exists to avoid.
    _approx_sim = _approx_sim.asNondeterministic()

    fetched = (
        pairs.join(
            e.select(
                F.col("id").alias("id_a"),
                F.col("emb").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        )
        .join(
            e.select(
                F.col("id").alias("id_b"),
                F.col("emb").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
    )
    sim = F.round(
        dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), round_digits
    )
    return (
        fetched.repartition(cpus)
        .filter(_approx_sim("ea", "eb", "na", "nb") >= threshold - 0.01)
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def _unit_centroids(dim: int, n_cells: int, seed: str) -> list[list[float]]:
    """Deterministic seed centroids: md5-derived directions, L2-normalized."""
    out = []
    for plane in _hyperplanes(dim, n_cells, seed=seed):
        n = sum(x * x for x in plane) ** 0.5
        out.append([x / n for x in plane])
    return out


def _probe_cells_np(
    units: np.ndarray, centroids: list[list[float]], top: int
) -> np.ndarray:
    """The `top` nearest cell ids of each row of `units` (best first):
    one matmul against the centroid matrix replaces n_cells interpreted
    `dot` folds per row. Tie-break: equal dot → larger cell id first;
    the column-reversed argsort makes numpy's stable sort prefer the
    higher original cell index on exact ties. The one assignment
    kernel: Lloyd runs it on the collected training matrix, the IVF-PQ
    serve step on the collected queries (so the probed cells become a
    STATIC partition filter on the index table) and `_probe_cells_udf`
    on each Arrow batch. Serve-side assignment carries no fp-parity
    obligation — a boundary flip moves a vector between cells (an
    index/recall detail), the exact re-rank is unaffected."""
    cmat = np.array(centroids)  # (n_cells, dim)
    n_cells = len(centroids)
    d = units @ cmat.T  # (rows, n_cells)
    rev = np.argsort(-d[:, ::-1], axis=1, kind="stable")[:, :top]
    return (n_cells - 1) - rev


def _probe_cells_udf(centroids: list[list[float]], top: int):
    """`_probe_cells_np` as an array<int> pandas UDF, one call per Arrow
    batch (cell assignment of the index build and of `ivf_topk`)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _probe(units: pd.Series) -> pd.Series:
        cells = _probe_cells_np(np.vstack(units.to_numpy()), centroids, top)
        return pd.Series(list(cells.astype("int32")))

    return _probe


#: Most rows a trainer collects to the driver: 256 MB of dim-64 unit
#: doubles plus their fixed-point copies. A larger input trains on a
#: deterministic sample of about this many rows (`_training_matrix`).
_TRAIN_MAX_ROWS = 1 << 18

#: Each unit component as the exact DECIMAL(38,18) Spark's cast makes of
#: it, scaled to an integer (|x| ≤ 1, so it fits a BIGINT). The cast
#: stays in Spark: it reads the double through the JVM's
#: `Double.toString`, which is not always the shortest repr, so Python's
#: `Decimal(repr(x))` can round differently.
_FIXED_UNIT = (
    "transform(unit, x -> CAST(CAST(x AS DECIMAL(38,18)) "
    "* 1000000000000000000 AS BIGINT))"
)


def _training_units(
    candidates: DataFrame, emb_col: str, unit_df: DataFrame | None = None
) -> DataFrame:
    """The `unit` frame a trainer reads: the caller's pre-normalized
    `unit_df` when given (the build steps pass their candidate unit
    frame), else the candidates' own spread + normalize pass."""
    if unit_df is not None:
        return unit_df.select("unit")
    return with_unit_vector(_spread(candidates), emb_col).select("unit")


def _training_matrix(
    units: DataFrame, dim: int, unit_col: str = "unit"
) -> tuple[np.ndarray, np.ndarray]:
    """A trainer's one Spark pass: one Arrow collect of the unit vectors
    as a (rows × dim) double matrix, for assignment, and as their
    `_FIXED_UNIT` integers, for the exact sums. Nothing is cached, so
    nothing is left behind. Past `_TRAIN_MAX_ROWS` rows that collect is
    dropped and the fit runs on a deterministic sample instead: the rows
    whose unit vector hashes to 0 mod ⌈rows / cap⌉, the same rows under
    any partitioning. That costs two more passes (the count and the
    sample), and the dropped collect has still moved up to cap + 1 rows
    of every partition into one task (CollectLimit's single-partition
    exchange)."""
    cols = units.select(F.col(unit_col).alias("unit")).select(
        "unit", F.expr(_FIXED_UNIT).alias("fixed")
    )

    def collect(df: DataFrame) -> tuple[np.ndarray, np.ndarray]:
        t = df.toArrow()
        x, fixed = (
            t.column(name).combine_chunks().flatten().to_numpy()
            .reshape(t.num_rows, dim)
            for name in ("unit", "fixed")
        )
        return x, fixed

    x, fixed = collect(cols.limit(_TRAIN_MAX_ROWS + 1))
    if len(x) > _TRAIN_MAX_ROWS:
        stride = -(-units.count() // _TRAIN_MAX_ROWS)
        x, fixed = collect(
            cols.filter(F.pmod(F.xxhash64("unit"), F.lit(stride)) == 0)
        )
    return x, fixed


def _fixed_means(
    keys: np.ndarray, fixed: np.ndarray
) -> dict[int, list[float]]:
    """Per-key mean of the `fixed` rows, for the keys that occur: the
    exact integer sum S of each component (split at bit 30 so no int64
    sum can overflow), then S / 10**18 / n. The first division is one
    correctly rounded int division, the double of the DECIMAL(38,18)
    sum, so the means are the `float(decimal_sum) / n` of a Spark
    `sum(cast(x as decimal(38,18)))` and do not depend on row order."""
    uniq, inv, counts = np.unique(
        keys, return_inverse=True, return_counts=True
    )
    sums = []
    for part in (fixed >> 30, fixed & ((1 << 30) - 1)):
        s = np.zeros((len(uniq), fixed.shape[1]), dtype=np.int64)
        np.add.at(s, inv, part)
        sums.append(s.tolist())
    return {
        key: [((h << 30) + lo) / 10**18 / n for h, lo in zip(hi_row, lo_row)]
        for key, n, hi_row, lo_row in zip(
            uniq.tolist(), counts.tolist(), *sums
        )
    }


def _fit_ivf_centroids(
    units: np.ndarray,
    fixed: np.ndarray,
    n_cells: int,
    n_iters: int,
    dim: int,
    seed: str,
) -> list[list[float]]:
    """`train_ivf_centroids`' Lloyd rounds on a `_training_matrix`: each
    round assigns every row to its nearest centroid (`_probe_cells_np`),
    takes each cell's exact mean (`_fixed_means`) and re-normalizes it
    to the unit sphere."""
    centroids = _unit_centroids(dim, n_cells, seed)
    for _ in range(n_iters):
        cells = _probe_cells_np(units, centroids, top=1)[:, 0]
        means = _fixed_means(cells, fixed)
        new = []
        for i, old in enumerate(centroids):
            m = means.get(i)
            norm_m = sum(x * x for x in m) ** 0.5 if m else 0.0
            new.append([x / norm_m for x in m] if norm_m > 0 else old)
        centroids = new
    return centroids


def train_ivf_centroids(
    candidates: DataFrame,
    n_cells: int = 16,
    n_iters: int = 3,
    emb_col: str = "embedding",
    dim: int = 64,
    seed: str = "ivf",
) -> list[list[float]]:
    """Spherical-k-means coarse quantizer: Lloyd iterations where the
    per-cell mean is computed from DECIMAL(38,18)-exact sums (order-
    independent — the centroids are bit-identical regardless of
    partitioning), then re-normalized to the unit sphere. The unit
    vectors are collected ONCE (`_training_matrix`: one Spark job up to
    `_TRAIN_MAX_ROWS` rows, a deterministic hash sample past it) and
    every round runs on the driver in numpy, so the job count does not
    grow with `n_iters`; the result is tiny (n_cells × dim floats) and
    becomes a broadcast literal for the index. Empty cells keep their
    previous centroid (standard Lloyd degeneracy handling)."""
    x, fixed = _training_matrix(_training_units(candidates, emb_col), dim)
    return _fit_ivf_centroids(x, fixed, n_cells, n_iters, dim, seed)


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    n_iters: int = 3,
    nprobe: int = 4,
    n_assign: int = 1,
    centroids: list[list[float]] | None = None,
    refine: int = 4,
    broadcast_bytes: int = 128 << 20,
) -> DataFrame:
    """Approximate top-k via an IVF index: candidates are assigned to their
    `n_assign` nearest coarse-quantizer cells (one projection, no shuffle);
    queries explode to their nprobe nearest cells; a cell-key equi-join
    yields the candidate set; exact cosine re-ranks it. Per-query work
    scales with nprobe/n_cells of the corpus instead of all of it, and index
    size with n_assign × corpus. n_assign > 1 is the standard
    multi-assignment trade (index replication for recall) for corpora where
    true neighbors sit near cell boundaries — e.g. isotropic embeddings,
    where single-assignment recall plateaus. Pass pre-trained `centroids`
    to skip training (the index is reusable across query sets, exactly like
    a persisted IVF index).

    Scoring (r10, verdict #3): when the candidate vector table fits a
    modest broadcast, probe-join survivors are PRESCORED by a mapInArrow
    gather against the broadcast unit matrix (one vectorized row product
    per pair — the interpreted JVM fold costs ~1.5 ms/dot and, at the
    recall-tuned heavy multi-assignment this isotropic testdata needs,
    ran on ~90% of |Q|×corpus at the r9 sf1 stress: the 30 s), and the
    exact fold re-ranks only the approx-top refine·k per query. numpy
    and the sequential fold agree to ~1e-12 while neighbor sim gaps sit
    many orders above that, so the exact top-k always survives the
    refine window; final sims and ranks still come from the exact fold,
    through the shared `_shortlist_rerank` tail. Past the broadcast
    guard every probe-join survivor is scored exactly (at that scale
    per-cell candidate lists are the real serving shape anyway — see
    ivfpq_topk_pretrained)."""
    # ONE spread+normalize+cache per build (r17, guide §5) — the serve
    # path needs this frame anyway (cell assignment + prescore or exact
    # scoring); training collects the same units from it. Centroids are
    # bit-identical (same unit expression, order-independent exact
    # sums).
    c = _candidate_units(candidates, id_col, emb_col).cache()
    if centroids is None:
        x, fixed = _training_matrix(c, dim, "c_unit")
        centroids = _fit_ivf_centroids(x, fixed, n_cells, n_iters, dim, "ivf")
    c_probe = _probe_cells_udf(centroids, top=n_assign)
    q_probe = _probe_cells_udf(centroids, top=nprobe)
    q = _query_units(queries, id_col, emb_col)
    c_cells = c.select(
        "neighbor_id", F.explode(c_probe(F.col("c_unit"))).alias("cell")
    )
    q_cells = q.select(
        "query_id", F.explode(q_probe(F.col("q_unit"))).alias("cell")
    )
    # SKINNY probe join: only ids ride the cell shuffle; multi-assignment
    # duplicates collapse in the id-pair distinct BEFORE units are fetched
    # and the interpreted exact dot runs — once per surviving pair
    cand = (
        c_cells.join(q_cells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    id_is_long = dict(c.dtypes)["neighbor_id"] == "bigint"
    if id_is_long and c.count() * dim * 8 <= broadcast_bytes:
        import pyarrow as pa

        spark = candidates.sparkSession
        rows = c.collect()  # bounded by the broadcast guard
        ids = np.array([r["neighbor_id"] for r in rows], dtype=np.int64)
        order = np.argsort(ids)
        ids_s = ids[order]
        x_s = np.array([r["c_unit"] for r in rows], dtype=np.float64)[order]
        bc = spark.sparkContext.broadcast((ids_s, x_s))

        def _prescore(batches):
            sids, xb = bc.value
            for b in batches:
                ib = np.searchsorted(sids, b.column("neighbor_id").to_numpy())
                qm = (
                    b.column("q_unit")
                    .flatten()
                    .to_numpy(zero_copy_only=False)
                    .reshape(-1, dim)
                )
                s = (xb[ib] * qm).sum(axis=1)
                yield pa.record_batch(
                    [b.column("query_id"), b.column("neighbor_id"), pa.array(s)],
                    names=["query_id", "neighbor_id", "approx"],
                )

        qid_t = dict(q.dtypes)["query_id"]
        scored = cand.join(F.broadcast(q), "query_id").mapInArrow(
            _prescore, f"query_id {qid_t}, neighbor_id long, approx double"
        )
        return _shortlist_rerank(
            scored, candidates, q, k, refine, id_col, emb_col, c=c
        )
    return _exact_topk(cand.join(c, "neighbor_id").join(F.broadcast(q), "query_id"), k)


def centroids_to_json(centroids: list[list[float]]) -> str:
    """Serialize a trained IVF coarse quantizer to its persisted form — the
    "write the index to disk" half of the FAISS-style train-once/serve-many
    lifecycle. JSON round-trips Python floats exactly (shortest-repr), so
    `centroids_from_json(centroids_to_json(c)) == c` bit-for-bit and an
    index trained on one cluster serves identical cell assignments on
    another. The payload is tiny (n_cells × dim floats) — store it as a
    literal, a one-row table, or a file next to the corpus."""
    import json

    return json.dumps(
        {
            "format": "ivf-centroids-v1",
            "dim": len(centroids[0]),
            "n_cells": len(centroids),
            "centroids": centroids,
        }
    )


def centroids_from_json(payload: str) -> list[list[float]]:
    """Inverse of `centroids_to_json` (validates the format marker)."""
    import json

    obj = json.loads(payload)
    if obj.get("format") != "ivf-centroids-v1":
        raise ValueError(f"not an IVF centroid payload: {obj.get('format')!r}")
    return [[float(x) for x in c] for c in obj["centroids"]]


def mmr_rerank(
    pool: DataFrame,
    k: int = 3,
    relevance_weight: int = 7,
    diversity_weight: int = 3,
) -> DataFrame:
    """Maximal-Marginal-Relevance rerank (Carbonell & Goldstein 1998) as
    one per-query fold: each query's pool becomes one array, and
    `aggregate(sequence(1, least(k, size(c))), …)` runs the k greedy
    picks over it — no driver loop, no per-pick join, and a plan whose
    shape does not depend on `k`.

    Input (bounded by the retrieval pool, never the corpus):
      pool  (query_id, neighbor_id BIGINT, s_bp BIGINT, unit
            array<double>)  per-query top-m candidates with exact
            integer relevance scores and their unit vectors.

    Output: (query_id, pick BIGINT 1..k, neighbor_id, score_bp) where
    score_bp = relevance_weight·s_bp − diversity_weight·max(penalty over
    already-picked), the penalty being `sim_bp_sql` of the candidate's
    and the pick's unit vectors (0 before the first pick). Each step is
    `array_max` over the unpicked candidates of
    (score, −neighbor_id, unit): score desc with a neighbor_id asc
    tiebreak, sequential greedy's order. A pool shorter than k stops at
    its size — matching sequential greedy on a short pool.

    Integer discipline: all scores stay exact BIGINTs, so ordering (and
    therefore every pick) is bit-for-bit reproducible in a SQL oracle —
    no float λ-combination whose 5th-decimal ties engines resolve
    differently.

    One query's row holds its m candidates with their unit vectors, and
    the fold costs k·m·(k/2) dot products per query. The greedy-parity
    property test (tests/test_properties.py) pins the fold against
    sequential greedy through k=12, past the pool size.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Integer weights are the contract (exact BIGINT score ordering; see
    # docstring). Validate instead of truncating (r16 advice): the old
    # int() cast silently turned an out-of-annotation 0.7/0.3 caller
    # into 0/0 — every pick then decided purely by the neighbor_id
    # tiebreak, with no error. Scale fractional weights to integers
    # (0.7/0.3 → 7/3) at the call site.
    for label, w in (("relevance_weight", relevance_weight),
                     ("diversity_weight", diversity_weight)):
        if w != int(w):
            raise ValueError(
                f"{label} must be an integer (exact BIGINT score "
                f"discipline), got {w!r}; scale fractional weights, "
                "e.g. 0.7/0.3 -> 7/3"
            )
    rw, dw = int(relevance_weight), int(diversity_weight)
    penalty = (
        "coalesce(array_max(transform(acc, p -> "
        f"{sim_bp_sql('x.unit', 'p.unit')})), 0)"
    )
    pick = (
        "array_max(transform("
        "filter(c, x -> NOT exists(acc, p -> p.neg_id = -x.neighbor_id)), "
        f"x -> named_struct('score_bp', {rw} * x.s_bp - {dw} * {penalty}, "
        "'neg_id', -x.neighbor_id, 'unit', x.unit)))"
    )
    return (
        pool.groupBy("query_id")
        .agg(F.expr(
            "collect_list(named_struct("
            "'neighbor_id', CAST(neighbor_id AS BIGINT), "
            "'s_bp', CAST(s_bp AS BIGINT), "
            "'unit', CAST(unit AS array<double>))) AS c"
        ))
        .selectExpr(
            "query_id",
            f"aggregate(sequence(1, least({k}, size(c))), "
            "CAST(array() AS array<struct<score_bp: BIGINT, neg_id: BIGINT,"
            " unit: array<double>>>), "
            f"(acc, i) -> concat(acc, array({pick}))) AS picks",
        )
        .selectExpr("query_id", "posexplode(picks) AS (pos, p)")
        .selectExpr(
            "query_id", "CAST(pos + 1 AS BIGINT) AS pick",
            "-p.neg_id AS neighbor_id", "p.score_bp",
        )
    )


# --- product quantization (IVF-PQ's compression half) -----------------------


def _pq_init_codebooks(
    dim: int, m: int, k_codes: int, seed: str
) -> list[list[list[float]]]:
    """Deterministic md5-uniform init, one codebook per subspace — the
    same no-RNG policy as `_hyperplanes`/`_unit_centroids` (reproducible
    plans, no seed state to persist). Components are scaled to ±1/√dim:
    the data are UNIT-vector subranges whose components sit at ~1/√dim,
    and init at the data's scale keeps every codeword inside the point
    cloud (an unscaled [-1,1) init left most codewords dead — never
    nearest to anything — and Lloyd cannot revive an empty code)."""
    d_sub = dim // m
    scale = 1.0 / dim**0.5
    books = []
    for s in range(m):
        book = []
        for c in range(k_codes):
            row = []
            for d in range(d_sub):
                h = hashlib.md5(f"{seed}:{s}:{c}:{d}".encode()).digest()
                (u,) = struct.unpack(">Q", h[:8])
                row.append((u / 2**63 - 1.0) * scale)
            book.append(row)
        books.append(book)
    return books


def _pq_codes_np(
    units: np.ndarray, codebooks: list[list[list[float]]]
) -> np.ndarray:
    """(rows × m) int32 per-subspace nearest-codeword indices: slice the
    (rows × dim) matrix per subspace, one matmul against that subspace's
    (k × d_sub) codebook, L2-argmin via the dot − ‖c‖²/2 identity (ties
    to the lowest code index). The one encode kernel: Lloyd runs it on
    the collected training matrix, `_pq_encode_udf` on each Arrow batch.
    Codes are m small ints — the 100 TB artifact is m bytes/vector
    instead of dim floats (32× at the 8×16-code default on 64-dim
    float32)."""
    d_sub = len(codebooks[0][0])
    codes = np.empty((len(units), len(codebooks)), dtype="int32")
    for s, book in enumerate(codebooks):
        mat = np.array(book)  # (k × d_sub)
        sub = units[:, s * d_sub : (s + 1) * d_sub]
        scores = sub @ mat.T - 0.5 * (mat * mat).sum(axis=1)
        codes[:, s] = scores.argmax(axis=1)
    return codes


def _pq_encode_udf(codebooks: list[list[list[float]]]):
    """`_pq_codes_np` as an array<int> pandas UDF: all subspaces in ONE
    Arrow pass."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _encode(units: pd.Series) -> pd.Series:
        codes = _pq_codes_np(np.vstack(units.to_numpy()), codebooks)
        return pd.Series(list(codes))

    return _encode


def _fit_pq_codebooks(
    units: np.ndarray,
    fixed: np.ndarray,
    m: int,
    k_codes: int,
    n_iters: int,
    dim: int,
    seed: str,
) -> list[list[list[float]]]:
    """`train_pq_codebooks`' Lloyd rounds on a `_training_matrix`: each
    round encodes every row (`_pq_codes_np`) and moves each codeword to
    the exact mean of its subvectors (`_fixed_means`)."""
    if dim % m:
        raise ValueError(f"dim ({dim}) must divide into m ({m}) subspaces")
    d_sub = dim // m
    books = _pq_init_codebooks(dim, m, k_codes, seed)
    for _ in range(n_iters):
        codes = _pq_codes_np(units, books)
        means = [
            _fixed_means(codes[:, s], fixed[:, s * d_sub : (s + 1) * d_sub])
            for s in range(m)
        ]
        books = [
            [means[s].get(c, books[s][c]) for c in range(k_codes)]
            for s in range(m)
        ]
    return books


def train_pq_codebooks(
    candidates: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    n_iters: int = 3,
    emb_col: str = "embedding",
    dim: int = 64,
    seed: str = "pq",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011): split the
    UNIT vector into `m` subspaces and k-means each independently. The
    training mirrors `train_ivf_centroids`: one collect of the unit
    vectors (a deterministic hash sample past `_TRAIN_MAX_ROWS` rows),
    then Lloyd on the driver with per-(subspace, code) DECIMAL(38,18)-
    exact sums (order-independent → bit-identical codebooks for any
    partitioning). Empty codes keep their previous codeword (standard
    Lloyd degeneracy handling)."""
    x, fixed = _training_matrix(_training_units(candidates, emb_col), dim)
    return _fit_pq_codebooks(x, fixed, m, k_codes, n_iters, dim, seed)


def _adc_scores(
    pairs: DataFrame, q_rows: list, codebooks: list[list[list[float]]]
) -> DataFrame:
    """PQ asymmetric distance (ADC), shared by the PQ and IVF-PQ serve
    steps: each query precomputes its m × k_codes dot-product table
    T_q[s][code] = dot(q_sub_s, codeword), and approx(q, c) =
    Σ_s T_q[s][code_s] is m table lookups per candidate, in one Arrow
    pass over the codes. `pairs` is (query_id, qi, neighbor_id, codes)
    with qi the query's position in `q_rows`; returns (query_id,
    neighbor_id, approx)."""
    from pyspark.sql.functions import pandas_udf

    m, d_sub = len(codebooks), len(codebooks[0][0])
    mats = [np.array(b) for b in codebooks]
    tables = np.stack(
        [
            np.stack(
                [
                    mats[s] @ np.array(r["q_unit"][s * d_sub : (s + 1) * d_sub])
                    for s in range(m)
                ]
            )
            for r in q_rows
        ]
    )

    @pandas_udf("double")
    def adc(qis: pd.Series, codes: pd.Series) -> pd.Series:
        cm = np.vstack(codes.to_numpy())
        qv = qis.to_numpy()
        out = np.empty(len(cm))
        # group rows by query index so lookups stay vectorized per query
        for qi in np.unique(qv):
            sel = qv == qi
            t = tables[int(qi)]
            acc = np.zeros(sel.sum())
            sub = cm[sel]
            for s in range(m):
                acc += t[s][sub[:, s]]
            out[sel] = acc
        return pd.Series(out)

    return pairs.select(
        "query_id", "neighbor_id", adc(F.col("qi"), F.col("codes")).alias("approx")
    )


def pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    n_iters: int = 3,
    refine: int = 4,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance (ADC) + exact
    re-rank — the compression-side complement of `ivf_topk` (compose
    them for IVF-PQ): candidates are ENCODED to m codes (the only
    per-vector state the scan needs — m bytes instead of dim floats);
    each query precomputes its m×k_codes dot-product table; approx
    sim(q, c) = Σ_s T_q[s][code_s], computed in one Arrow pass over the
    codes; the refine·k best per query then re-rank by exact cosine.

    Scale: the ADC scan touches only the code artifact (no vectors),
    emits rows × |Q| skinny score rows, and the exact re-rank fetches
    refine·k unit vectors per query. The query table (|Q| × m × k_codes
    doubles) is a broadcast closure — PQ serves batched query sets, not
    one-off lookups. Deterministic end-to-end (md5 init, DECIMAL Lloyd,
    argmax ties to the lowest code index)."""
    # ONE spread+normalize+cache per build (r17, guide §5): the serve
    # path needs this frame anyway (the encode pass), and training
    # collects the same units from it instead of normalizing its own
    # copy — codebooks bit-identical (same unit expression, order-
    # independent exact sums).
    c = _candidate_units(candidates, id_col, emb_col).cache()
    if codebooks is None:
        x, fixed = _training_matrix(c, dim, "c_unit")
        codebooks = _fit_pq_codebooks(x, fixed, m, k_codes, n_iters, dim, "pq")
    # supplied codebooks are the shape authority (m/k_codes params are
    # training knobs only) — see _pq_shape
    _pq_shape(codebooks, dim)
    coded = c.select(
        "neighbor_id", _pq_encode_udf(codebooks)(F.col("c_unit")).alias("codes")
    )

    def serve(q: DataFrame, q_rows: list) -> DataFrame:
        # every candidate pairs with every query; qi (the query's
        # position in q_rows) indexes its ADC table
        q_ids = F.array(*[F.lit(r["query_id"]) for r in q_rows])
        pairs = coded.select(
            "neighbor_id", "codes", F.posexplode(q_ids).alias("qi", "query_id")
        ).filter(F.col("neighbor_id") != F.col("query_id"))
        return _shortlist_rerank(
            _adc_scores(pairs, q_rows, codebooks), candidates, q, k, refine,
            id_col, emb_col, c=c,
        )

    return _serve_queries(queries, id_col, emb_col, serve)


def _train_ivfpq(
    c: DataFrame,
    centroids: list[list[float]] | None,
    codebooks: list[list[list[float]]] | None,
    n_cells: int,
    m: int,
    k_codes: int,
    n_iters: int,
    dim: int,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """IVF-PQ build, training half: fit whichever of the coarse
    quantizer and the PQ codebooks is not supplied, one after the other
    on ONE `_training_matrix` collect of the cached candidate unit frame
    `c`. Each fit is the arithmetic of its standalone trainer, so
    centroids AND codebooks are bit-identical to `train_ivf_centroids` /
    `train_pq_codebooks` on the same candidates (pinned by the
    pretrained-parity and recall tests)."""
    if centroids is not None and codebooks is not None:
        return centroids, codebooks
    x, fixed = _training_matrix(c, dim, "c_unit")
    if centroids is None:
        centroids = _fit_ivf_centroids(x, fixed, n_cells, n_iters, dim, "ivf")
    if codebooks is None:
        codebooks = _fit_pq_codebooks(x, fixed, m, k_codes, n_iters, dim, "pq")
    return centroids, codebooks


def _ivfpq_index(
    c: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_assign: int,
) -> DataFrame:
    """IVF-PQ build, encoding half: the index rows (neighbor_id, codes,
    cell) of a candidate unit frame — the m PQ codes, once per each of
    the `n_assign` nearest coarse cells. `write_ivfpq_index` persists
    these rows, `append_ivfpq_index` appends them and `ivfpq_topk`
    serves them inline."""
    enc = _pq_encode_udf(codebooks)
    c_probe = _probe_cells_udf(centroids, top=n_assign)
    return c.select(
        "neighbor_id",
        enc(F.col("c_unit")).alias("codes"),
        F.explode(c_probe(F.col("c_unit"))).alias("cell"),
    )


def _ivfpq_serve(
    index: DataFrame,
    candidates: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int,
    id_col: str,
    emb_col: str,
    nprobe: int,
    refine: int,
    c: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ serve over index rows (neighbor_id, codes, cell), inline
    or persisted, with an EXCHANGE-FREE candidate side: queries are
    probed driver-side (`_probe_cells_np`, the same tie-breaks as the
    build's `_probe_cells_udf`), their cells become a static
    `cell IN (...)` filter on the index (partition pruning on a
    `write_ivfpq_index` table), and the |Q|·nprobe (query_id, qi, cell)
    rows broadcast-join it, so the code rows stream through the join with
    no shuffle on the cell key (plan-guarded in tests/test_bucketed.py).
    Multi-assignment duplicates collapse before the ADC; `c` is the
    build's cached unit frame when serving inline (see
    `_shortlist_rerank`)."""

    def serve(q: DataFrame, q_rows: list) -> DataFrame:
        q_units = np.vstack([np.array(r["q_unit"]) for r in q_rows])
        probed = _probe_cells_np(q_units, centroids, top=nprobe)
        q_cells = index.sparkSession.createDataFrame(
            [
                (r["query_id"], qi, int(cell))
                for qi, (r, cells) in enumerate(zip(q_rows, probed))
                for cell in cells
            ],
            ["query_id", "qi", "cell"],
        )
        all_cells = sorted({int(cell) for cells in probed for cell in cells})
        pairs = (
            index.filter(F.col("cell").isin(all_cells))
            .join(F.broadcast(q_cells), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "qi", "neighbor_id", "codes")
            .distinct()  # multi-assignment duplicates collapse pre-ADC
        )
        return _shortlist_rerank(
            _adc_scores(pairs, q_rows, codebooks), candidates, q, k, refine,
            id_col, emb_col, c=c,
        )

    return _serve_queries(queries, id_col, emb_col, serve)


def ivfpq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    nprobe: int = 4,
    n_assign: int = 1,
    m: int = 8,
    k_codes: int = 16,
    n_iters: int = 3,
    refine: int = 4,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ: the canonical 100 TB ANN composition (FAISS IVFPQ) — the
    coarse quantizer prunes WHICH vectors a query looks at
    (nprobe/n_cells of the corpus), PQ codes decide the ORDER cheaply
    (ADC table lookups over the m-byte code artifact — the pruned scan
    never touches float vectors), and the refine·k shortlist re-ranks by
    exact cosine over the survivors' vectors only.

    serve(build(candidates)): the build is `write_ivfpq_index`'s — one
    cached unit frame, collected once for both fits, then the
    (neighbor_id, codes, cell) index rows — and the serve is
    `ivfpq_topk_pretrained`'s (`_ivfpq_serve`: driver-side query probe,
    broadcast cell join, ADC, exact re-rank), so the two return the same
    rows under the same artifacts. Both trainings inherit the
    DECIMAL-exact / md5-init determinism of their standalone forms, so
    results are bit-stable across partitionings. Pass pre-trained
    `centroids`/`codebooks` for the train-once/serve-many lifecycle."""
    c = _candidate_units(candidates, id_col, emb_col).cache()
    centroids, codebooks = _train_ivfpq(
        c, centroids, codebooks, n_cells, m, k_codes, n_iters, dim
    )
    # supplied codebooks are the shape authority (m/k_codes params are
    # training knobs only) — see _pq_shape
    _pq_shape(codebooks, dim)
    return _ivfpq_serve(
        _ivfpq_index(c, centroids, codebooks, n_assign), candidates, queries,
        centroids, codebooks, k, id_col, emb_col, nprobe, refine, c=c,
    )


def pq_codebooks_to_json(codebooks: list[list[list[float]]]) -> str:
    """Serialize trained PQ codebooks — the persisted half of the PQ
    train-once/serve-many lifecycle, same exact-float JSON contract as
    `centroids_to_json` (shortest-repr round-trips bit-for-bit, so an
    index trained on one cluster encodes identical codes on another).
    Payload: m × k_codes × d_sub floats — a few KB at any sane config.
    Persist it BESIDE the code artifact: codes are meaningless without
    the codebooks that produced them."""
    import json

    return json.dumps(
        {
            "format": "pq-codebooks-v1",
            "m": len(codebooks),
            "k_codes": len(codebooks[0]),
            "d_sub": len(codebooks[0][0]),
            "codebooks": codebooks,
        }
    )


def pq_codebooks_from_json(payload: str) -> list[list[list[float]]]:
    import json

    obj = json.loads(payload)
    if obj.get("format") != "pq-codebooks-v1":
        raise ValueError(f"not a PQ codebook payload: {obj.get('format')!r}")
    return [[[float(x) for x in cw] for cw in book] for book in obj["codebooks"]]


def write_ivfpq_index(
    candidates: DataFrame,
    table: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    n_assign: int = 1,
    m: int = 8,
    k_codes: int = 16,
    n_iters: int = 3,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    path: str | None = None,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Materialize the IVF-PQ candidate index as a CELL-PARTITIONED
    catalog table — persist(build(candidates)), the build `ivfpq_topk`
    runs inline on every call: one cached unit frame, collected once
    for both fits (`_train_ivfpq`), then the `_ivfpq_index` rows.

    Each row is (neighbor_id, codes, cell): the m-byte PQ code plus the
    coarse cell, written `partitionBy("cell")` so a query's nprobe cells
    prune to nprobe/n_cells of the FILES at scan time (static partition
    pruning — `ivfpq_topk_pretrained` knows its cells driver-side). The
    float vectors are NOT in the index; the exact re-rank fetches the
    shortlist's units from the corpus with a broadcast semi-join. Train
    artifacts (centroids + codebooks) are returned for persistence via
    `centroids_to_json` / `pq_codebooks_to_json` — codes are meaningless
    without them.

    100 TB shape: the index is rows × (8 + 4·m) bytes — ~2.5 TB per
    trillion vectors at m=16 — written once, after which every query
    batch scans only its probed cells' files and never touches vector
    parquet until the refine·k·|Q| re-rank fetch. Mirrors the reference's
    write-once parquet artifacts (cmd/merge/transactions.go:214-231) at
    index granularity."""
    c = _candidate_units(candidates, id_col, emb_col).cache()
    try:
        centroids, codebooks = _train_ivfpq(
            c, centroids, codebooks, n_cells, m, k_codes, n_iters, dim
        )
        _pq_shape(codebooks, dim)
        _overwrite_index_table(
            _ivfpq_index(c, centroids, codebooks, n_assign), table,
            path=path, partition_by="cell",
        )
    finally:
        c.unpersist()
    return centroids, codebooks


def _overwrite_index_table(
    df: DataFrame,
    table: str,
    path: str | None = None,
    partition_by: str | None = None,
) -> None:
    """Shared write-once half of every persisted-index lifecycle (IVF-PQ
    cells, SQ8 codes, BQ sign words): drop + location-clean + overwrite
    saveAsTable. Overwrite must win over ORPHANED locations too: a
    previous session's table directory can survive in the warehouse
    while the new session's metastore has never heard of the table
    (observed in the r10 sweep — fresh in-memory catalog, persistent
    disk), and saveAsTable then refuses with LOCATION_ALREADY_EXISTS.
    Drop the catalog entry if any, then delete the target location
    through the Hadoop FS API (works for any scheme, not just local
    disk)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        jvm = spark._jvm
        if path is not None:
            loc = path
        else:
            # managed-table location is <warehouse>/<db>.db/<name>, with
            # the `.db` level omitted only for the default database — a
            # qualified name or a non-default current database must
            # resolve the same way saveAsTable will, or this cleanup
            # deletes the wrong (nonexistent) directory and the
            # LOCATION_ALREADY_EXISTS failure survives
            parts = table.split(".")
            name = parts[-1].lower()
            db = (
                parts[-2] if len(parts) >= 2
                else spark.catalog.currentDatabase()
            ).lower()
            wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
            loc = f"{wh}/{name}" if db == "default" else f"{wh}/{db}.db/{name}"
        jpath = jvm.org.apache.hadoop.fs.Path(loc)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:
        pass  # nothing to clean, or non-JVM-reachable path: let the write speak
    w = df.write.mode("overwrite")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def append_ivfpq_index(
    new_candidates: DataFrame,
    table: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_assign: int = 1,
) -> None:
    """Append newly-arrived vectors to an existing `write_ivfpq_index`
    table — the index-growth half of the lifecycle (a corpus that gains
    documents daily must not re-encode the historical corpus). New rows
    are encoded with the SAME persisted centroids + codebooks (codes are
    only comparable within one codebook generation — retraining means
    rebuilding, exactly as in FAISS), keyed to their cells, and appended
    partition-wise: untouched cells' files are never rewritten, and
    `ivfpq_topk_pretrained` serves the union with no change. Mirrors the
    corpus-signature upsert contract (ml.prep) at index granularity."""
    _pq_shape(codebooks, dim)
    c_index = _ivfpq_index(
        _candidate_units(new_candidates, id_col, emb_col), centroids,
        codebooks, n_assign,
    )
    # append matches columns BY NAME (saveAsTable semantics), so the
    # (neighbor_id, codes, cell) order stays aligned with the write path
    c_index.write.mode("append").partitionBy("cell").format(
        "parquet"
    ).saveAsTable(table)
    # same-session readers see the append immediately; this refresh is
    # for THIS session's cached relation (cross-session readers refresh
    # on their side — ivfpq_topk_pretrained does it on entry)
    new_candidates.sparkSession.catalog.refreshTable(table)


def ivfpq_topk_pretrained(
    spark: SparkSession,
    index_table: str,
    candidates: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    nprobe: int = 4,
    refine: int = 4,
) -> DataFrame:
    """Serve IVF-PQ top-k from a `write_ivfpq_index` table:
    serve(spark.table(index_table)) through `_ivfpq_serve`, the serve
    step `ivfpq_topk` runs on its inline index rows, so both return the
    same rows under the same artifacts. The probed cells prune the
    cell-partitioned scan to nprobe/n_cells of the files, and the
    re-rank touches vector parquet only for refine·k·|Q| rows."""
    _pq_shape(codebooks, dim)
    # refresh the index relation: appends land from OTHER sessions (the
    # streaming gate's cloned session, another writer process), and a
    # cached file listing would silently serve the pre-append index
    spark.catalog.refreshTable(index_table)
    return _ivfpq_serve(
        spark.table(index_table), candidates, queries, centroids, codebooks,
        k, id_col, emb_col, nprobe, refine,
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization — the uniform-quantizer rung of the ANN ladder
# (FAISS IndexScalarQuantizer QT_8bit; Guo et al. 2020 discuss the regime
# where per-dimension scalar codes beat PQ: low-dim, anisotropic ranges)
# ---------------------------------------------------------------------------


def _code_serve(
    coded: DataFrame,
    candidates: DataFrame,
    queries: DataFrame,
    score_exprs: Callable[[list], list[Column]],
    k: int,
    refine: int,
    id_col: str,
    emb_col: str,
    ascending: bool,
) -> DataFrame:
    """Serve step of the pure-codegen quantized rungs (SQ8, BQ) over
    code rows, inline or persisted: `score_exprs(q_rows)` gives one
    prescore expression per query over the code columns (an SQ8
    similarity or a BQ Hamming distance, hence `ascending`); they are
    posexploded over the code scan into (query_id, neighbor_id, approx)
    rows — whole-stage codegen, no Python round-trip — and handed to
    `_shortlist_rerank`."""

    def serve(q: DataFrame, q_rows: list) -> DataFrame:
        q_id_arr = F.array(*[F.lit(r["query_id"]) for r in q_rows])
        scored = (
            coded.select(
                "neighbor_id",
                F.posexplode(F.array(*score_exprs(q_rows))).alias("qi", "approx"),
            )
            .select(
                F.element_at(q_id_arr, F.col("qi") + 1).alias("query_id"),
                "neighbor_id",
                "approx",
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
        )
        return _shortlist_rerank(
            scored, candidates, q, k, refine, id_col, emb_col, ascending
        )

    return _serve_queries(queries, id_col, emb_col, serve)


def train_sq8_bounds(
    candidates: DataFrame,
    emb_col: str = "embedding",
    dim: int = 64,
    unit_df: DataFrame | None = None,
) -> list[list[float]]:
    """Per-dimension [lo, hi] over the corpus's UNIT vectors — the entire
    trained state of the SQ8 quantizer (2·dim floats; PQ needs m·k_codes·
    d_sub). min/max are exact order-free folds, so unlike k-means there is
    no iteration and no tie-break discipline needed: any partitioning of
    any cluster trains bit-identical bounds in one aggregation pass.
    Returns [lo_list, hi_list]. ``unit_df``: a caller-owned frame whose
    `unit` column holds the already-normalized (typically cached)
    vectors — `_sq8_build` passes its candidate unit frame instead of a
    second normalize pass; min/max are order-free, so bounds are
    bit-identical either way. When given, the caller owns the cache."""
    c = _training_units(candidates, emb_col, unit_df)
    u = F.col("unit")
    aggs = []
    for d in range(dim):
        aggs.append(F.min(F.element_at(u, d + 1)).alias(f"__lo{d}"))
        aggs.append(F.max(F.element_at(u, d + 1)).alias(f"__hi{d}"))
    row = c.agg(*aggs).collect()[0]
    lo = [float(row[f"__lo{d}"]) for d in range(dim)]
    hi = [float(row[f"__hi{d}"]) for d in range(dim)]
    return [lo, hi]


def sq8_bounds_to_json(bounds: list[list[float]]) -> str:
    """Serialize trained SQ8 bounds — same exact-float JSON contract as
    `pq_codebooks_to_json` (shortest-repr doubles round-trip bit-for-bit,
    so codes encoded on one cluster decode identically on another).
    Persist BESIDE the code artifact."""
    import json

    lo, hi = bounds
    if len(lo) != len(hi):
        raise ValueError(f"lo/hi length mismatch: {len(lo)} vs {len(hi)}")
    return json.dumps(
        {"format": "sq8-bounds-v1", "dim": len(lo), "lo": lo, "hi": hi}
    )


def sq8_bounds_from_json(payload: str) -> list[list[float]]:
    import json

    obj = json.loads(payload)
    if obj.get("format") != "sq8-bounds-v1":
        raise ValueError(f"not an SQ8 bounds payload: {obj.get('format')!r}")
    lo = [float(x) for x in obj["lo"]]
    hi = [float(x) for x in obj["hi"]]
    if len(lo) != obj.get("dim") or len(hi) != obj.get("dim"):
        raise ValueError("SQ8 payload dim does not match lo/hi length")
    # Inverted bounds (hi < lo) would silently zero delta/inv in sq8_topk,
    # collapsing every code in that dimension to 0 and degrading prescore
    # recall instead of failing — loud-failure convention like the other
    # artifact loaders (pq_codebooks_from_json's shape checks).
    bad = [d for d, (l, h) in enumerate(zip(lo, hi)) if h < l]
    if bad:
        raise ValueError(
            f"SQ8 bounds inverted (hi < lo) at dims {bad[:8]}"
            f"{'...' if len(bad) > 8 else ''}"
        )
    return [lo, hi]


def sq8_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    refine: int = 4,
    bounds: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via 8-bit scalar quantization + exact re-rank —
    the third compression rung of the ANN ladder (LSH buckets, PQ
    codebooks, SQ8 uniform grid). Each unit vector encodes to dim uint8
    codes (code_d = floor((x_d − lo_d)·255/(hi_d − lo_d)), clamped); the
    scan scores sim(q, c) asymmetrically — the query stays full
    precision: approx = Σ_d q_d·(lo_d + code_d·Δ_d), folded as
    bias_q + Σ_d w_q[d]·code_d with w_q[d] = q_d·Δ_d precomputed per
    query.

    Unlike `pq_topk`'s Arrow ADC pass, BOTH the encode and the scoring
    scan here are pure Catalyst expressions (transform / zip_with /
    aggregate) — the hot path never leaves whole-stage codegen, no
    Python round-trip at all. Scale shape matches PQ: the scoring scan
    touches only the dim-byte code artifact, |Q| is a small batched set
    by contract (per-query weight arrays are plan literals), and the
    refine·k shortlist re-ranks by exact cosine so the final (sim, rank)
    are bit-identical to what `cosine_topk` would emit for those pairs.
    Degenerate dimensions (hi == lo) encode to code 0 and decode exactly
    to lo, contributing the exact constant q_d·lo_d via the bias term.
    serve(build(candidates)), the same two steps as
    `sq8_topk_pretrained` over the persisted codes."""
    coded, bounds = _sq8_build(candidates, id_col, emb_col, dim, bounds)
    return _code_serve(
        coded, candidates, queries,
        lambda q_rows: _sq8_score_exprs(q_rows, bounds, dim),
        k, refine, id_col, emb_col, ascending=False,
    )


def _sq8_check_bounds(bounds: list[list[float]], dim: int) -> None:
    lo, hi = bounds
    if len(lo) != dim or len(hi) != dim:
        raise ValueError(
            f"bounds dim {len(lo)}/{len(hi)} does not match dim={dim}"
        )


def _sq8_build(
    candidates: DataFrame,
    id_col: str,
    emb_col: str,
    dim: int,
    bounds: list[list[float]] | None,
) -> tuple[DataFrame, list[list[float]]]:
    """SQ8 build: the code rows (neighbor_id, codes) that `sq8_topk`
    serves, `write_sq8_index` persists and `append_sq8_index` appends,
    and the bounds they were encoded under — trained from the same unit
    frame when not supplied (one _spread probe per build; min/max are
    order-free, so the bounds are bit-identical either way). The encode
    is one pure-Catalyst expression: code_d = clamp(floor((x_d − lo_d)·
    255/(hi_d − lo_d)), 0, 255)."""
    c = _candidate_units(candidates, id_col, emb_col)
    if bounds is None:
        bounds = train_sq8_bounds(
            candidates, emb_col, dim,
            unit_df=c.select(F.col("c_unit").alias("unit")),
        )
    _sq8_check_bounds(bounds, dim)
    lo, hi = bounds
    inv = [255.0 / (h - l) if h > l else 0.0 for l, h in zip(lo, hi)]
    lo_arr = F.array(*[F.lit(v) for v in lo])
    inv_arr = F.array(*[F.lit(v) for v in inv])
    codes = F.zip_with(
        F.zip_with(F.col("c_unit"), lo_arr, lambda x, l: x - l),
        inv_arr,
        lambda x, s: F.least(
            F.greatest(F.floor(x * s), F.lit(0)), F.lit(255)
        ).cast("int"),
    )
    return c.select("neighbor_id", codes.alias("codes")), bounds


def _sq8_score_exprs(
    q_rows: list, bounds: list[list[float]], dim: int
) -> list[Column]:
    """Per-query asymmetric-distance score expressions over a `codes`
    column: approx = bias_q + Σ_d q_d·Δ_d·code_d (query full precision,
    candidate decoded from its uint8 grid point)."""
    lo, hi = bounds
    delta = [(h - l) / 255.0 if h > l else 0.0 for l, h in zip(lo, hi)]
    score_exprs: list[Column] = []
    for r in q_rows:
        u = r["q_unit"]
        bias = sum(u[d] * lo[d] for d in range(dim))
        w = [u[d] * delta[d] for d in range(dim)]
        w_arr = F.array(*[F.lit(x) for x in w])
        score_exprs.append(
            F.lit(bias)
            + F.aggregate(
                F.zip_with(
                    F.col("codes"), w_arr, lambda cd, wv: cd.cast("double") * wv
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    return score_exprs


def write_sq8_index(
    candidates: DataFrame,
    table: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    bounds: list[list[float]] | None = None,
    path: str | None = None,
) -> list[list[float]]:
    """Materialize the SQ8 code artifact as a catalog table — the
    train-once/serve-many half of the SQ8 rung (r11 verdict #8; mirrors
    `write_ivfpq_index` one rung down the ladder). Each row is
    (neighbor_id, codes): dim uint8 grid codes under the per-dimension
    [lo, hi] bounds, which are the ENTIRE trained state (2·dim floats —
    persist via `sq8_bounds_to_json`; codes are meaningless without
    them). No cell partitioning: the SQ8 prescore is a full pure-
    Catalyst scan of the code table by design — at 100 TB the index is
    rows × ~dim bytes (~6 TB per 100 G vectors at dim 64, a 64×
    reduction over float64 parquet), and the scan stays inside
    whole-stage codegen with zero Python round-trip. Returns the bounds
    actually used (trained here when not supplied)."""
    coded, bounds = _sq8_build(candidates, id_col, emb_col, dim, bounds)
    _overwrite_index_table(coded, table, path=path)
    return bounds


def append_sq8_index(
    new_candidates: DataFrame,
    table: str,
    bounds: list[list[float]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Append newly-arrived vectors to a `write_sq8_index` table with
    the SAME persisted bounds (codes are only comparable within one
    bounds generation — retraining means rebuilding, exactly as with PQ
    codebooks). Append-only: existing files are never rewritten."""
    coded, _ = _sq8_build(new_candidates, id_col, emb_col, dim, bounds)
    coded.write.mode("append").format("parquet").saveAsTable(table)
    new_candidates.sparkSession.catalog.refreshTable(table)


def sq8_topk_pretrained(
    spark: SparkSession,
    index_table: str,
    candidates: DataFrame,
    queries: DataFrame,
    bounds: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    refine: int = 4,
) -> DataFrame:
    """Serve SQ8 top-k from a `write_sq8_index` table: the prescore scan
    reads ONLY the persisted dim-byte codes (pure Catalyst, whole-stage
    codegen — no encode work per query batch), and the refine·k
    shortlist re-ranks by exact cosine against the corpus. The serve
    step is `sq8_topk`'s, so the result is bit-identical to
    `sq8_topk(candidates, queries, bounds=bounds)`."""
    _sq8_check_bounds(bounds, dim)
    # appends land from other sessions; a cached file listing would
    # silently serve the pre-append index (same as ivfpq_topk_pretrained)
    spark.catalog.refreshTable(index_table)
    # Guard the dim contract against the persisted codes (r12 advice):
    # a caller passing e.g. dim=64 against a 128-dim table would
    # otherwise silently score a word prefix and return wrong
    # neighbors. Codes length isn't in the schema (array<int>), so
    # probe one row — a LIMIT 1 scan, negligible on the serving path.
    head = spark.table(index_table).select(F.size("codes").alias("n")).head(1)
    if head and head[0]["n"] != dim:
        raise ValueError(
            f"dim={dim} but {index_table} holds {head[0]['n']}-byte codes "
            f"— the table was built at a different dim"
        )
    return _code_serve(
        spark.table(index_table), candidates, queries,
        lambda q_rows: _sq8_score_exprs(q_rows, bounds, dim),
        k, refine, id_col, emb_col, ascending=False,
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization — the 1-bit floor of the ANN ladder
# (the "binary quantization" tier of modern vector stores; Charikar 2002
# sign-random-projection is the theory ancestor — here the projection is
# the identity basis, so the code IS the sign pattern)
# ---------------------------------------------------------------------------


def bq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    refine: int = 32,
) -> DataFrame:
    """Approximate top-k via 1-bit sign codes + exact re-rank — the
    cheapest rung of the ANN ladder (LSH / IVF / PQ / IVFPQ / SQ8 / BQ):
    each unit vector compresses to ceil(dim/64) BIGINT words holding its
    per-dimension sign bits (dim=64 → literally ONE 8-byte word per
    vector, a 64× compression over float64), and the prescore is
    Hamming distance — one XOR + popcount per word, the cheapest
    possible scan Spark can run. There is NO trained state at all: the
    code is a pure function of the vector, so streams/appends never
    need retraining and two engines can never disagree on the artifact.

    The price of 1-bit codes is resolution, paid back with OVERSAMPLING
    (exactly how production binary quantization is operated): the
    refine·k shortlist re-ranks by exact cosine, and `refine` defaults
    to 32 — far higher than PQ/SQ8's 4-8 — because the Hamming
    prescore is ~free while the re-rank touches only refine·k·|Q|
    vectors. Measured recall@3 on the driver's isotropic sf0.01
    embeddings: 0.667 / 0.833 / 0.933 at refine 8 / 16 / 32.

    Everything JVM-side: encode is a zip_with/bitwiseOR fold (OR of
    distinct powers of two — no additive overflow, ANSI-safe), the
    prescore is bit_count(code XOR lit) — whole-stage codegen
    end-to-end, like sq8_topk and unlike the Arrow-batched PQ rungs.
    serve(build(candidates)), the same two steps as `bq_topk_pretrained`
    over the persisted words."""
    return _code_serve(
        _bq_build(candidates, id_col, emb_col, dim), candidates, queries,
        lambda q_rows: _bq_ham_exprs(q_rows, dim),
        k, refine, id_col, emb_col, ascending=True,
    )


def _bq_build(
    candidates: DataFrame, id_col: str, emb_col: str, dim: int
) -> DataFrame:
    """BQ build: the code rows (neighbor_id, w0..w{n-1}) that `bq_topk`
    serves, `write_bq_index` persists and `append_bq_index` appends.
    Each BIGINT word ORs together its dimensions' sign bits as one
    pure-Catalyst fold (OR of distinct powers of two — no additive
    overflow, ANSI-safe)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    n_words = (dim + 63) // 64
    unit_col = F.col("c_unit")

    def word_expr(w: int) -> Column:
        lo, hi = w * 64, min((w + 1) * 64, dim)
        pow2 = F.array(
            *[F.shiftleft(F.lit(1).cast("long"), d - lo) for d in range(lo, hi)]
        )
        return F.aggregate(
            F.zip_with(
                F.slice(unit_col, lo + 1, hi - lo),
                pow2,
                lambda x, p: F.when(x > 0, p).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc.bitwiseOR(v),
        )

    return _candidate_units(candidates, id_col, emb_col).select(
        "neighbor_id", *[word_expr(w).alias(f"w{w}") for w in range(n_words)]
    )


def _bq_check_table(spark: SparkSession, table: str, dim: int) -> None:
    """The dim contract of a persisted BQ table (r12 advice): Hamming
    over a word prefix of a wider table is silently wrong, not slow."""
    n_words = (dim + 63) // 64
    existing = len(spark.table(table).columns) - 1
    if existing != n_words:
        raise ValueError(
            f"dim={dim} implies {n_words} sign words but {table} has "
            f"{existing} — the table was built at a different dim"
        )


def _bq_ham_exprs(q_rows: list, dim: int) -> list[Column]:
    """Per-query Hamming-distance expressions over the persisted word
    columns: Σ_w bit_count(w XOR q_word_w)."""
    n_words = (dim + 63) // 64

    def py_words(u: list[float]) -> list[int]:
        words = []
        for w in range(n_words):
            v = 0
            for d in range(w * 64, min((w + 1) * 64, dim)):
                if u[d] > 0:
                    v |= 1 << (d - w * 64)
            words.append(v - (1 << 64) if v >= (1 << 63) else v)  # two's complement
        return words

    ham_exprs: list[Column] = []
    for r in q_rows:
        words = py_words(r["q_unit"])
        ham = None
        for w in range(n_words):
            term = F.bit_count(
                F.col(f"w{w}").bitwiseXOR(F.lit(words[w]).cast("long"))
            )
            ham = term if ham is None else ham + term
        ham_exprs.append(ham)
    return ham_exprs


def write_bq_index(
    candidates: DataFrame,
    table: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    path: str | None = None,
) -> None:
    """Materialize the BQ sign-word artifact as a catalog table — the
    serve-many half of the 1-bit rung (r11 verdict #8). Each row is
    (neighbor_id, w0..w{n-1}): ceil(dim/64) BIGINT words, dim=64 → one
    8-byte word per vector, a 64× compression over float64. There is NO
    trained state (the code is a pure function of the vector), so there
    is no artifact JSON beyond the dim contract, appends never retrain,
    and a rebuilt table is bit-identical by construction. 100 TB shape:
    the Hamming prescore scans only this table (bit_count(XOR), whole-
    stage codegen); vector parquet is touched only for the refine·k·|Q|
    exact re-rank."""
    _overwrite_index_table(
        _bq_build(candidates, id_col, emb_col, dim), table, path=path
    )


def append_bq_index(
    new_candidates: DataFrame,
    table: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Append newly-arrived vectors to a `write_bq_index` table. No
    trained state, so append is always valid (the only contract is the
    dim, checked against the table's word count)."""
    spark = new_candidates.sparkSession
    _bq_check_table(spark, table, dim)
    coded = _bq_build(new_candidates, id_col, emb_col, dim)
    coded.write.mode("append").format("parquet").saveAsTable(table)
    spark.catalog.refreshTable(table)


def bq_topk_pretrained(
    spark: SparkSession,
    index_table: str,
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    refine: int = 32,
) -> DataFrame:
    """Serve BQ top-k from a `write_bq_index` table: the Hamming
    prescore scans only the persisted sign words, the refine·k
    shortlist re-ranks by exact cosine against the corpus — bit-
    identical to `bq_topk(candidates, queries)` because the serve step
    is the same."""
    spark.catalog.refreshTable(index_table)
    _bq_check_table(spark, index_table, dim)
    return _code_serve(
        spark.table(index_table), candidates, queries,
        lambda q_rows: _bq_ham_exprs(q_rows, dim),
        k, refine, id_col, emb_col, ascending=True,
    )
