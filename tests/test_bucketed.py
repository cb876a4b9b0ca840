"""Bucketed-table plan guards (sources/bucketed.py): the co-located join
must compile WITHOUT an Exchange on either side, and a point lookup must
prune to a single bucket. These are plan properties, not value properties —
the exact shape that decides whether a fact-fact hash join is a one-time
write cost or a per-query 100 TB shuffle."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from mempool_dumpster_spark.sources.bucketed import (
    cobucketed_join,
    read_bucketed,
    write_bucketed,
)

N_BUCKETS = 4


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    txs = spark.range(0, 400).select(
        F.concat(F.lit("0x"), F.md5(F.col("id").cast("string"))).alias("hash"),
        (F.col("id") * 1000).alias("timestamp_ms"),
        (F.col("id") % 7).alias("tx_type"),
    )
    # sourcelog: 1-3 receipts per hash, different column set
    sl = (
        spark.range(0, 400)
        .select(
            F.concat(F.lit("0x"), F.md5(F.col("id").cast("string"))).alias("hash"),
            F.explode(
                F.slice(
                    F.array(F.lit("alchemy"), F.lit("infura"), F.lit("blx")),
                    1,
                    (F.col("id") % 3 + 1).cast("int"),
                )
            ).alias("source"),
        )
    )
    write_bucketed(
        txs, "txs_b", "hash", N_BUCKETS, path=str(base / "txs"), sort_cols=["hash"]
    )
    write_bucketed(
        sl, "sl_b", "hash", N_BUCKETS, path=str(base / "sl"), sort_cols=["hash"]
    )
    yield "txs_b", "sl_b"
    spark.sql("DROP TABLE IF EXISTS txs_b")
    spark.sql("DROP TABLE IF EXISTS sl_b")


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_cobucketed_join_has_no_exchange(spark, bucketed_tables):
    """Matching bucket specs on both sides → sort-merge join with zero
    shuffles; broadcast is disabled so the guard exercises the plan a
    non-broadcastable fact-fact join takes at scale."""
    lt, rt = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cobucketed_join(spark, lt, rt, on="hash")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # value check against the plain (shuffled) join
        expect = (
            spark.table(lt)
            .join(spark.table(rt), "hash")
            .groupBy()
            .agg(F.count("*").alias("n"), F.sum(F.crc32(F.col("source"))).alias("h"))
            .collect()[0]
        )
        got = (
            joined.groupBy()
            .agg(F.count("*").alias("n"), F.sum(F.crc32(F.col("source"))).alias("h"))
            .collect()[0]
        )
        # 400 hashes × (1 + id%3) receipts = 134·1 + 133·2 + 133·3 = 799
        assert (got["n"], got["h"]) == (expect["n"], expect["h"]) and got["n"] == 799
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    """Aggregation on the bucket key also rides the bucket layout — the
    sourcelog collapse (J1's build side) needs no shuffle off a bucketed
    sourcelog."""
    _, rt = bucketed_tables
    agg = read_bucketed(spark, rt).groupBy("hash").agg(F.count("*").alias("n"))
    plan = _plan(agg)
    assert "Exchange" not in plan, plan
    assert agg.count() == 400


def test_bucket_pruning_point_lookup(spark, bucketed_tables):
    """hash = literal scans one bucket, not the table (SelectedBucketsCount)."""
    lt, _ = bucketed_tables
    one = spark.table(lt).limit(1).collect()[0]["hash"]
    # autoBucketedScan turns the bucketed layout OFF for queries with no
    # join/agg on the key (it prefers splittable scans); pin it on so the
    # point lookup takes the pruned path a production lookup service would
    # configure.
    old = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        df = spark.table(lt).filter(F.col("hash") == one)
        plan = _plan(df)
        assert f"SelectedBucketsCount: 1 out of {N_BUCKETS}" in plan, plan
        assert df.count() == 1
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", old
        )


def test_non_catalog_read_loses_bucketing_documented(spark, bucketed_tables, tmp_path):
    """Negative control for the read_bucketed docstring: reading the same
    parquet files WITHOUT the catalog reintroduces the Exchange."""
    lt, rt = bucketed_tables
    lpath = spark.sql(f"DESCRIBE FORMATTED {lt}").filter(
        F.col("col_name") == "Location"
    ).collect()[0]["data_type"]
    rpath = spark.sql(f"DESCRIBE FORMATTED {rt}").filter(
        F.col("col_name") == "Location"
    ).collect()[0]["data_type"]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        raw = spark.read.parquet(lpath).join(spark.read.parquet(rpath), "hash")
        assert "Exchange" in _plan(raw)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_backfill_from_merge_outputs(spark, tmp_path):
    """End-to-end: a merged day re-materialized via write_backfill_bucketed
    joins transactions x sourcelog (the J4 analyzer shape) with zero
    Exchange, and the values survive the round-trip."""
    from mempool_dumpster_spark.sources.bucketed import write_backfill_bucketed

    txs = spark.range(0, 50).select(
        F.concat(F.lit("0x"), F.md5(F.col("id").cast("string"))).alias("hash"),
        (F.col("id") * 1000).alias("timestamp"),
    )
    sl = spark.range(0, 50).select(
        F.concat(F.lit("0x"), F.md5(F.col("id").cast("string"))).alias("hash"),
        F.lit("alchemy").alias("source"),
        (F.col("id") * 1000).alias("timestamp_ms"),
    )
    t_tbl, s_tbl = write_backfill_bucketed(
        txs, sl, str(tmp_path / "day"), prefix="bf_test", n_buckets=N_BUCKETS
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cobucketed_join(spark, t_tbl, s_tbl, on="hash")
        assert "Exchange" not in _plan(joined)
        assert joined.count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {t_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {s_tbl}")


def test_range_clustered_write_file_disjointness(spark, tmp_path):
    """write_range_clustered: output files hold disjoint cluster-key ranges
    (the mechanism behind footer min/max file skipping), rows are sorted
    within files, and values round-trip."""
    import glob

    import pyarrow.parquet as pq

    from mempool_dumpster_spark.sources.clustered import write_range_clustered

    path = str(tmp_path / "clustered")
    df = spark.range(0, 10_000).select(
        (F.xxhash64(F.col("id")) % 1_000_000).alias("ts"), F.col("id")
    )
    write_range_clustered(df, path, cluster_cols=["ts"], n_files=8)

    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "ts"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) >= 2
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {hi1} > {lo2}"

    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))


def test_zorder_key_interleaves_and_bounds(spark):
    """zorder_key: hand-checkable interleave — with 2 cols at 2 bits each
    over value range [0,3], bucket == value, and the Morton code of
    (x, y) is the classic bit-interleave. Also validates arg bounds."""
    import pytest as _pytest

    from mempool_dumpster_spark.sources.clustered import zorder_key

    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], ["x", "y"]
    )
    out = {
        (r["x"], r["y"]): r["__zkey"]
        for r in zorder_key(df, ["x", "y"], bits_per_col=2).collect()
    }

    def morton(x, y):
        z = 0
        for b in range(2):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    assert out == {(x, y): morton(x, y) for x in range(4) for y in range(4)}
    with _pytest.raises(ValueError):
        zorder_key(df, ["x", "y"], bits_per_col=0)
    with _pytest.raises(ValueError):
        zorder_key(df, ["x"] * 8, bits_per_col=8)


def test_zorder_write_tightens_both_dimensions(spark, tmp_path):
    """write_zorder_clustered: every output file covers a small
    hyper-rectangle on BOTH cluster columns — per-file min/max span on
    each dimension is a fraction of the global span (that is the pruning
    mechanism). A range-clustered write on (a, b) would leave b's
    per-file span ~equal to the global span."""
    import glob

    import pyarrow.parquet as pq

    from mempool_dumpster_spark.sources.clustered import write_zorder_clustered

    # two independent uniform dimensions
    df = spark.range(0, 20_000).select(
        (F.xxhash64(F.col("id")) % 10_000).alias("a"),
        (F.xxhash64(F.col("id") + 7) % 10_000).alias("b"),
        F.col("id"),
    )
    path = str(tmp_path / "z")
    write_zorder_clustered(df, path, ["a", "b"], n_files=16)

    def file_spans(colname):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = [
                i
                for i in range(md.row_group(0).num_columns)
                if md.row_group(0).column(i).path_in_schema == colname
            ][0]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans.append(max(maxs) - min(mins))
        return spans

    for col in ("a", "b"):
        spans = file_spans(col)
        assert len(spans) >= 8
        # global span ~20_000 (values in [-10k, 10k)); a z-ordered file
        # should cover well under half of it on EACH dimension on average
        avg = sum(spans) / len(spans)
        assert avg < 10_000, f"{col}: avg per-file span {avg} not tightened"

    back = spark.read.parquet(path)
    assert back.count() == 20_000
    assert set(back.columns) == {"a", "b", "id"}


def test_bloom_filter_option_writes_bloom_bytes(spark, tmp_path):
    """write_range_clustered(bloom_cols=...): the parquet files carry bloom
    filter bytes for the requested column (observable as a deterministic
    file-size increase — pyarrow 16 does not expose bloom offsets), and the
    data round-trips identically. Point-lookup reads consume the blooms
    transparently in parquet-mr."""
    import glob

    from mempool_dumpster_spark.sources.clustered import write_range_clustered

    df = spark.range(0, 5_000).selectExpr(
        "id AS ts", "md5(cast(id as string)) AS hash"
    )

    def total_size(path):
        return sum(
            __import__("os").path.getsize(f)
            for f in glob.glob(f"{path}/*.parquet")
        )

    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    write_range_clustered(df, plain, ["ts"], n_files=2)
    write_range_clustered(
        df, bloomed, ["ts"], n_files=2, bloom_cols={"hash": 5_000}
    )
    # a 5k-ndv bloom is ~1 KiB/chunk; require a clear margin over noise
    assert total_size(bloomed) > total_size(plain) + 1024

    back = spark.read.parquet(bloomed)
    assert back.count() == 5_000
    probe = back.filter(
        back.hash == df.selectExpr("md5('123') h").collect()[0]["h"]
    )
    assert probe.count() in (0, 1)


def test_prep_bucketed_output_joins_without_exchange(spark, tmp_path):
    """write_prep_bucketed lands the prepped corpus doc_id-bucketed under
    split= partitions; a doc_id equi-join against a co-bucketed features
    table and a doc_id aggregation (the shape of every downstream dedup /
    decontam / enrichment re-run) both plan with ZERO Exchange on the
    corpus side — the prep hash shuffle is paid once at write time."""
    from mempool_dumpster_spark.ml.prep import (
        PrepConfig,
        prep_corpus,
        write_prep_bucketed,
    )

    docs = spark.createDataFrame(
        [(f"doc{i:03d}", f"unique text body number {i} with plenty of "
          f"words to satisfy quality gates {i}") for i in range(60)],
        "doc_id string, text string",
    )
    prepped = prep_corpus(
        docs, config=PrepConfig(gopher=False, near_dup=False)
    )
    write_prep_bucketed(
        prepped, "prep_b", path=str(tmp_path / "corpus"), n_buckets=N_BUCKETS
    )
    feats = docs.select("doc_id", F.length("text").alias("n_chars"))
    write_bucketed(
        feats, "feats_b", "doc_id", N_BUCKETS,
        path=str(tmp_path / "feats"), sort_cols=["doc_id"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("prep_b").join(spark.table("feats_b"), "doc_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 60  # every doc kept and enriched

        agg = (
            spark.table("prep_b")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n"))
        )
        assert "Exchange" not in _plan(agg), _plan(agg)
        assert agg.count() == 60

        # split partition pruning composes with the bucket layout
        pruned = spark.table("prep_b").filter(F.col("split") == "train")
        assert "PartitionFilters" in _plan(pruned)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS prep_b")
        spark.sql("DROP TABLE IF EXISTS feats_b")


def test_manifest_commit_atomic_versions(spark, tmp_path):
    """sources/manifest.py: readers only ever see fully-committed versions
    — a staged-but-uncommitted write is invisible; commits advance the
    version atomically; vacuum retains the live version."""
    import os

    import pytest as _pytest

    from mempool_dumpster_spark.sources.manifest import (
        commit_write,
        current_version,
        read_committed,
        vacuum,
    )

    path = str(tmp_path / "ds")
    with _pytest.raises(FileNotFoundError):
        read_committed(spark, path)

    m1 = commit_write(spark.range(0, 10).toDF("v"), path)
    assert m1["version"] == 1
    assert read_committed(spark, path).count() == 10

    # simulate a crash mid-commit: a staged version dir WITHOUT the
    # manifest swap must leave readers on v1 — and must NOT brick future
    # commits (the next commit numbers PAST the orphan, never reusing it)
    os.makedirs(os.path.join(path, "_versions", "v000099"))
    assert current_version(path)["version"] == 1
    assert read_committed(spark, path).count() == 10

    m2 = commit_write(spark.range(0, 25).toDF("v"), path)
    assert m2["version"] == 100  # 99-orphan skipped, commit still lands
    assert read_committed(spark, path).count() == 25

    m3 = commit_write(spark.range(0, 3).toDF("v"), path)
    assert m3["version"] == 101
    removed = vacuum(path, keep=1)
    # everything below the live version goes, the orphan included
    assert {"v000001", "v000099", "v000100"} <= set(removed)
    assert os.path.basename(m3["data_dir"]) not in removed
    assert read_committed(spark, path).count() == 3

    # plain partition-discovery readers never see the machinery
    with _pytest.raises(Exception):
        spark.read.parquet(path).count()


def test_manifest_vacuum_orphans_dont_shorten_retention(spark, tmp_path):
    """Advisory regression: the keep window counts PUBLISHED versions only.
    An orphan dir ABOVE the live version (an in-flight or crashed commit)
    must neither consume a keep slot — which would delete a published
    version a reader may still hold — nor be deleted itself (it may be a
    commit in progress). With no manifest at all, vacuum deletes nothing."""
    import os

    from mempool_dumpster_spark.sources.manifest import commit_write, vacuum

    path = str(tmp_path / "ds")
    # no manifest yet: an in-flight first commit's dir must survive
    os.makedirs(os.path.join(path, "_versions", "v000001"))
    assert vacuum(path, keep=1) == []
    assert os.path.isdir(os.path.join(path, "_versions", "v000001"))
    os.rmdir(os.path.join(path, "_versions", "v000001"))

    commit_write(spark.range(0, 4).toDF("v"), path)  # v1 published
    commit_write(spark.range(0, 5).toDF("v"), path)  # v2 published, live
    os.makedirs(os.path.join(path, "_versions", "v000009"))  # above live
    removed = vacuum(path, keep=2)
    assert removed == []  # v1 retained: the orphan took no keep slot
    assert os.path.isdir(os.path.join(path, "_versions", "v000001"))
    assert os.path.isdir(os.path.join(path, "_versions", "v000009"))

    # once a real commit passes the orphan, it is swept as below-live junk
    commit_write(spark.range(0, 6).toDF("v"), path)  # v10 published, live
    removed = vacuum(path, keep=2)
    assert "v000009" in removed and "v000001" in removed
    assert os.path.isdir(os.path.join(path, "_versions", "v000002"))


def test_manifest_vacuum_legacy_manifest_honors_keep(spark, tmp_path):
    """Review regression: a legacy manifest WITHOUT the 'published' field
    must not classify its older versions as orphans — every dir at-or-
    below the live version counts as published, so keep=3 retains all
    three instead of deleting past readers' files."""
    import json
    import os

    from mempool_dumpster_spark.sources.manifest import commit_write, vacuum

    path = str(tmp_path / "ds")
    for n in (3, 4, 5):
        commit_write(spark.range(0, n).toDF("v"), path)
    # rewrite the manifest as a pre-'published' version would have
    mpath = os.path.join(path, "_manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["published"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    assert vacuum(path, keep=3) == []
    for v in ("v000001", "v000002", "v000003"):
        assert os.path.isdir(os.path.join(path, "_versions", v))
    assert vacuum(path, keep=1) == ["v000001", "v000002"]


def test_manifest_vacuum_prunes_published_history(spark, tmp_path):
    """Advisory regression: the manifest's `published` list must not grow
    one entry per commit forever — vacuum prunes the versions it removed
    (an --append workload commits twice per batch, so an unpruned list
    makes every later commit rewrite an ever-longer manifest). Surviving
    versions stay listed, diff_versions keeps working on them, and a
    vacuumed version's diff error mentions the vacuum."""
    import pytest as _pytest

    from mempool_dumpster_spark.sources.manifest import (
        commit_write,
        current_version,
        diff_versions,
        vacuum,
    )

    path = str(tmp_path / "ds")
    for n in (3, 4, 5, 6):
        commit_write(spark.range(0, n).toDF("v"), path)
    assert current_version(path)["published"] == [1, 2, 3, 4]
    removed = vacuum(path, keep=2)
    assert removed == ["v000001", "v000002"]
    assert current_version(path)["published"] == [3, 4]
    # surviving pair still diffs (one row added 5->6)
    assert diff_versions(spark, path, 3, 4).count() == 1
    with _pytest.raises(ValueError, match="vacuum"):
        diff_versions(spark, path, 1, 4)
    # idempotent: a second vacuum removes nothing and keeps the history
    assert vacuum(path, keep=2) == []
    assert current_version(path)["published"] == [3, 4]


def test_manifest_upsert_and_diff(spark, tmp_path):
    """upsert: updated keys replaced, new keys appended, untouched rows
    survive — all as one new atomic version; diff_versions labels the
    exact multiset delta between two committed versions."""
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.sources.manifest import (
        diff_versions,
        read_committed,
        upsert,
    )

    path = str(tmp_path / "upsert_ds")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    m1 = upsert(spark, path, base, ["k"])  # first upsert == initial commit
    assert m1["version"] == 1

    updates = spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"])
    m2 = upsert(spark, path, updates, ["k"])
    assert m2["version"] == 2
    got = {r["k"]: r["v"] for r in read_committed(spark, path).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}

    delta = {
        (r["k"], r["v"], r["__change"])
        for r in diff_versions(spark, path, 1, 2).collect()
    }
    assert delta == {(2, "B", "added"), (4, "d", "added"), (2, "b", "removed")}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        upsert(spark, path, updates.withColumnRenamed("v", "x"), ["k"])
    with _pytest.raises(ValueError):
        upsert(spark, path, updates, [])
    # a FIRST upsert missing its declared key must not commit a dataset
    # that every later correctly-keyed upsert would fail against
    fresh = str(tmp_path / "fresh_ds")
    with _pytest.raises(ValueError):
        upsert(spark, fresh, updates.withColumnRenamed("k", "x"), ["k"])
    import os as _os

    assert not _os.path.exists(f"{fresh}/_manifest.json")
    # an orphan version dir from a crashed commit is never diffable data
    _os.makedirs(f"{path}/_versions/v000055")
    with _pytest.raises(ValueError):
        diff_versions(spark, path, 55, 2).collect()


def test_manifest_upsert_idempotent(spark, tmp_path):
    """Re-applying the same updates produces an identical table (new
    version number, same contents) — the retry story for a failed
    downstream consumer that re-runs its upsert."""
    from mempool_dumpster_spark.sources.manifest import (
        current_version,
        read_committed,
        upsert,
    )

    path = str(tmp_path / "idem_ds")
    upsert(spark, path, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"])
    ups = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    upsert(spark, path, ups, ["k"])
    first = sorted(map(tuple, read_committed(spark, path).collect()))
    upsert(spark, path, ups, ["k"])
    second = sorted(map(tuple, read_committed(spark, path).collect()))
    assert first == second == [(1, "a"), (2, "B"), (3, "c")]
    assert current_version(path)["version"] == 3


def test_manifest_upsert_preserves_partition_layout(spark, tmp_path):
    """Review regression: upsert's merged commit must re-commit with the
    dataset's original partition_by — dropping it silently turns every
    partition-pruned read into a full scan after the first upsert."""
    import os

    from pyspark.sql import functions as F

    from mempool_dumpster_spark.sources.manifest import (
        commit_write,
        current_version,
        upsert,
    )

    path = str(tmp_path / "ds")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") % 2 == 0).cast("string").alias("part"),
    )
    commit_write(df, path, partition_by=["part"])
    upsert(
        spark,
        path,
        spark.createDataFrame([(100, "true")], "k long, part string"),
        ["k"],
    )
    m = current_version(path)
    assert m["partition_by"] == ["part"]
    vdir = os.path.join(path, m["data_dir"])
    assert any(d.startswith("part=") for d in os.listdir(vdir))


def test_ivfpq_index_table_serves_without_candidate_exchange(spark, tmp_path):
    """r9 verdict #4: the IVF-PQ candidate index persisted as a
    cell-partitioned catalog table must serve queries with an
    EXCHANGE-FREE candidate side — the probed cells arrive as a static
    partition filter on the index scan and the tiny (query_id, cell)
    side broadcasts, so the code artifact is never shuffled on the cell
    key. Also pins exact parity with the inline ivfpq_topk composition
    at identical parameters (same index, same ordering, same re-rank)."""
    from mempool_dumpster_spark.ml.similarity import (
        ivfpq_topk,
        ivfpq_topk_pretrained,
        write_ivfpq_index,
    )

    rows = []
    for i in range(60):
        axis = i % 3
        vec = [0.05 * ((i * 7 + d) % 5) for d in range(8)]
        vec[axis] += 10.0
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, books = write_ivfpq_index(
        emb,
        "ivfpq_guard_idx",
        dim=8,
        n_cells=4,
        n_assign=2,
        m=4,
        k_codes=8,
        n_iters=2,
        path=str(tmp_path / "idx"),
    )
    q = emb.filter(F.col("vec_id") < 3)
    served = ivfpq_topk_pretrained(
        spark, "ivfpq_guard_idx", emb, q, cents, books,
        k=3, dim=8, nprobe=2, refine=4,
    )
    plan = _plan(served)
    # candidate side: pruned scan streams straight into a broadcast join
    assert "Exchange hashpartitioning(cell" not in plan, plan
    # static partition pruning: the scan's PartitionFilters carry the
    # probed-cell predicate (not a post-scan Filter)
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines and any("cell" in ln for ln in pf_lines), plan

    inline = ivfpq_topk(
        emb, q, k=3, dim=8, nprobe=2, n_assign=2, refine=4,
        centroids=cents, codebooks=books,
    )
    # the inline rung serves through the same broadcast, driver-probed path
    inline_plan = _plan(inline)
    assert "Exchange hashpartitioning(cell" not in inline_plan, inline_plan
    got = sorted(map(tuple, served.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want and got


def test_ivfpq_index_append_grows_without_rewrite(spark, tmp_path):
    """append_ivfpq_index: new vectors encode with the PERSISTED train
    artifacts and append partition-wise — serving the appended table
    equals serving a from-scratch index over the union (same artifacts),
    and the base cells' parquet files are untouched (mtime-stable)."""
    import os as _os

    from mempool_dumpster_spark.ml.similarity import (
        append_ivfpq_index,
        ivfpq_topk_pretrained,
        write_ivfpq_index,
    )

    def mkvecs(lo, hi):
        rows = []
        for i in range(lo, hi):
            axis = i % 3
            vec = [0.05 * ((i * 7 + d) % 5) for d in range(8)]
            vec[axis] += 10.0
            rows.append((i, vec))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    base, newer = mkvecs(0, 40), mkvecs(40, 60)
    idx_path = str(tmp_path / "grow_idx")
    cents, books = write_ivfpq_index(
        base, "ivfpq_grow_idx", dim=8, n_cells=4, n_assign=2, m=4,
        k_codes=8, n_iters=2, path=idx_path,
    )
    before = {
        p: _os.path.getmtime(_os.path.join(r, p))
        for r, _d, fs in _os.walk(idx_path)
        for p in fs
        if p.endswith(".parquet")
    }
    append_ivfpq_index(
        newer, "ivfpq_grow_idx", cents, books, dim=8, n_assign=2
    )
    after = {
        p: _os.path.getmtime(_os.path.join(r, p))
        for r, _d, fs in _os.walk(idx_path)
        for p in fs
        if p.endswith(".parquet")
    }
    assert set(before) <= set(after) and len(after) > len(before)
    assert all(after[p] == t for p, t in before.items())  # no rewrite

    q = base.filter(F.col("vec_id") < 3)
    union = base.union(newer)
    grown = ivfpq_topk_pretrained(
        spark, "ivfpq_grow_idx", union, q, cents, books,
        k=3, dim=8, nprobe=2, refine=4,
    )
    write_ivfpq_index(
        union, "ivfpq_grow_scratch", dim=8, n_cells=4, n_assign=2,
        centroids=cents, codebooks=books,
        path=str(tmp_path / "scratch_idx"),
    )
    scratch = ivfpq_topk_pretrained(
        spark, "ivfpq_grow_scratch", union, q, cents, books,
        k=3, dim=8, nprobe=2, refine=4,
    )
    got = sorted(map(tuple, grown.collect()))
    want = sorted(map(tuple, scratch.collect()))
    assert got == want and got


def test_ivfpq_index_overwrites_orphaned_location(spark, tmp_path):
    """r10 sweep regression: a PREVIOUS session's managed-table directory
    can survive in the warehouse while the new session's metastore has
    never registered the table — saveAsTable then refused with
    LOCATION_ALREADY_EXISTS. write_ivfpq_index must treat overwrite as
    overwrite: drop any catalog entry AND clear the orphaned location."""
    import os as _os

    from mempool_dumpster_spark.ml.similarity import write_ivfpq_index

    emb = spark.createDataFrame(
        [(i, [float(i + d) for d in range(8)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    # orphaned managed location (no catalog entry)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh_path = wh.replace("file:", "")
    orphan = _os.path.join(wh_path, "ivfpq_orphan_idx")
    _os.makedirs(orphan, exist_ok=True)
    with open(_os.path.join(orphan, "leftover.parquet"), "w") as f:
        f.write("stale")
    spark.sql("DROP TABLE IF EXISTS ivfpq_orphan_idx")
    write_ivfpq_index(
        emb, "ivfpq_orphan_idx", dim=8, n_cells=2, m=4, k_codes=4, n_iters=1
    )
    assert spark.table("ivfpq_orphan_idx").count() == 12
    # and an orphaned EXTERNAL location as well
    ext = str(tmp_path / "ext_idx")
    _os.makedirs(ext, exist_ok=True)
    with open(_os.path.join(ext, "leftover"), "w") as f:
        f.write("stale")
    write_ivfpq_index(
        emb, "ivfpq_orphan_ext", dim=8, n_cells=2, m=4, k_codes=4,
        n_iters=1, path=ext,
    )
    assert spark.table("ivfpq_orphan_ext").count() == 12
