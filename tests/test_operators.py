"""Operator unit tests vs hand-computed expectations (SURVEY.md §5.2 #1):
dedup A1-A3, sources-array J1/O2, anti-join J2, inclusion enrich J3,
analyzer aggregates, property-style idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mempool_dumpster_spark.operators.analyzer import analyze
from mempool_dumpster_spark.operators.dedup import (
    dedup_keep_earliest,
    dedup_keep_earliest_row,
    dedup_min_timestamp,
)
from mempool_dumpster_spark.operators.joins import (
    anti_join_blacklist,
    attach_sources,
    inclusion_enrich,
    sources_by_first_seen,
    was_included_before_received,
)


def test_dedup_keep_earliest(spark):
    df = spark.createDataFrame(
        [("h1", 100, "a"), ("h1", 90, "b"), ("h2", 50, "c")],
        "hash string, timestamp_ms long, payload string",
    )
    out = {r["hash"]: r for r in dedup_keep_earliest(df).collect()}
    assert out["h1"]["timestamp_ms"] == 90
    assert out["h1"]["payload"] == "b"  # payload travels with the min-ts row
    assert out["h2"]["timestamp_ms"] == 50


def test_dedup_idempotent(spark):
    """Property: dedup of its own output is a no-op (SURVEY.md §5.2 #5)."""
    df = spark.createDataFrame(
        [("h1", 100, "a"), ("h1", 90, "b"), ("h2", 50, "c")],
        "hash string, timestamp_ms long, payload string",
    )
    once = dedup_keep_earliest(df)
    twice = dedup_keep_earliest(once)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_dedup_keep_earliest_row(spark):
    df = spark.createDataFrame(
        [("h1", "s1", 100, "x"), ("h1", "s1", 100, "y"), ("h1", "s2", 90, "z")],
        "hash string, source string, ts long, note string",
    )
    out = dedup_keep_earliest_row(df, key=["hash", "source"], order=["ts", "note"])
    got = {(r["hash"], r["source"]): r["note"] for r in out.collect()}
    assert got == {("h1", "s1"): "x", ("h1", "s2"): "z"}


def test_dedup_keep_earliest_row_matches_window(spark):
    """The shipped row_number()==1 window form must keep exactly the rows a
    min_by(struct(payload), struct(order)) aggregate would keep — including
    NULL ordering fields (struct comparison = ASC NULLS FIRST, same as the
    window's orderBy default) and payload columns that never appear in the
    order list. Documents the r16 measurement that chose the window form:
    min_by's variable-width struct buffer plans as a non-codegen
    SortAggregate and benched SLOWER (operators/dedup.py docstring), but
    the two are the same function — this pins that equivalence so either
    implementation can be swapped in if a future Spark makes the aggregate
    form cheap. Also pins that the shipped plan still gets the map-side
    WindowGroupLimit prune (the property that makes the window form
    shuffle-minimal on Spark 3.5+)."""
    from pyspark.sql import functions as F

    rows = [
        ("h1", "s1", 100, 7, "x"),
        ("h1", "s1", 100, 3, "y"),   # tiebreak on the 2nd order col
        ("h1", "s2", 90, 1, "z"),
        ("h2", "s1", None, 5, "n"),  # NULL ts sorts first (NULLS FIRST)
        ("h2", "s1", 10, 2, "m"),
        ("h3", "s3", 50, None, "q"),  # NULL tiebreak field
        ("h3", "s3", 50, 4, "r"),
    ]
    schema = "hash string, source string, ts long, seq long, note string"
    df = spark.createDataFrame(rows, schema)
    out = dedup_keep_earliest_row(df, key=["hash", "source"], order=["ts", "seq"])
    got = sorted(map(tuple, out.collect()))
    payload = [c for c in df.columns if c not in ("hash", "source")]
    agg = (
        df.groupBy("hash", "source")
        .agg(F.min_by(F.struct(*payload), F.struct("ts", "seq")).alias("__r"))
        .select("hash", "source", *[F.col("__r")[c].alias(c) for c in payload])
        .select(df.columns)
    )
    assert got == sorted(map(tuple, agg.collect()))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_sourcelog_dedup_min(spark):
    df = spark.createDataFrame(
        [(100, "h1", "a"), (90, "h1", "a"), (95, "h1", "b")],
        "timestamp_ms long, hash string, source string",
    )
    out = {
        (r["hash"], r["source"]): r["timestamp_ms"]
        for r in dedup_min_timestamp(df).collect()
    }
    assert out == {("h1", "a"): 90, ("h1", "b"): 95}


def test_sourcelog_dedup_min_tolerates_extra_columns(spark):
    """A sourcelog read back from the collector's date=/hour= partitioned
    archive carries the partition dirs as extra columns — the dedup must
    drop them (no defined value after min()) instead of raising
    UNRESOLVED_COLUMN as the old select(*df.columns) did."""
    df = spark.createDataFrame(
        [(100, "h1", "a", "2023-09-04", 1), (90, "h1", "a", "2023-09-04", 2)],
        "timestamp_ms long, hash string, source string, date string, hour int",
    )
    out = dedup_min_timestamp(df)
    assert out.columns == ["timestamp_ms", "hash", "source"]
    assert out.collect()[0]["timestamp_ms"] == 90


def test_sources_ordered_by_first_seen(spark):
    sl = spark.createDataFrame(
        [(100, "h1", "late"), (50, "h1", "early"), (75, "h1", "mid"),
         (60, "h1", "early"), (10, "h2", "only")],
        "timestamp_ms long, hash string, source string",
    )
    out = {r["hash"]: r["sources"] for r in sources_by_first_seen(sl).collect()}
    assert out["h1"] == ["early", "mid", "late"]
    assert out["h2"] == ["only"]


def test_attach_sources_left_outer(spark):
    txs = spark.createDataFrame([("h1",), ("h3",)], "hash string")
    sl = spark.createDataFrame(
        [(50, "h1", "a")], "timestamp_ms long, hash string, source string"
    )
    out = {r["hash"]: r["sources"] for r in attach_sources(txs, sl).collect()}
    assert out["h1"] == ["a"]
    assert out["h3"] == []  # no sourcelog rows → empty array, not null


def test_anti_join_blacklist(spark):
    df = spark.createDataFrame([("h1",), ("h2",)], "hash string")
    bl = spark.createDataFrame([("H2",)], "hash string")  # case-insensitive
    assert [r["hash"] for r in anti_join_blacklist(df, bl).collect()] == ["h1"]


def test_inclusion_enrich_and_f3(spark):
    txs = spark.createDataFrame(
        [("h1", 1000_000), ("h2", 2000_000), ("h3", 500_000)],
        "hash string, timestamp long",
    )
    blocks = spark.createDataFrame(
        [("h1", 18_000_000, 1010_000),  # included 10s after receipt
         ("h3", 18_000_001, 400_000)],  # included 100s BEFORE receipt → F3
        "hash string, block_number long, block_timestamp_ms long",
    )
    out = {r["hash"]: r for r in inclusion_enrich(txs, blocks).collect()}
    assert out["h1"]["inclusionDelayMs"] == 10_000
    assert out["h2"]["includedAtBlockHeight"] == 0
    assert out["h2"]["inclusionDelayMs"] == 0
    assert out["h3"]["inclusionDelayMs"] == -100_000  # negative is legal
    kept = (
        inclusion_enrich(txs, blocks)
        .filter(~was_included_before_received())
        .collect()
    )
    assert {r["hash"] for r in kept} == {"h1", "h2"}


def test_analyzer_aggregates(spark):
    txs = spark.createDataFrame(
        [
            ("h1", ["a"], 1, 10, 0, 2, None),
            ("h2", ["a", "b"], 0, 20, 0, 2, None),
            ("h3", ["b"], 5, 30, 0, 2, None),
        ],
        "hash string, sources array<string>, includedAtBlockHeight long, "
        "timestamp long, inclusionDelayMs long, txType int, rawTx binary",
    )
    res = analyze(txs)
    inc = {r["included"]: r["n"] for r in res.included}
    assert inc == {True: 2, False: 1}
    per_src = {r["source"]: r["n"] for r in res.by_source}
    assert per_src == {"a": 2, "b": 2}
    excl = {(r["source"], r["included"]): r["n"] for r in res.exclusive}
    assert excl == {("a", True): 1, ("b", True): 1}


def test_salted_topk_hot_key(spark):
    """A key holding 99% of rows produces the same top-k as a global window;
    the salted plan never ranks the hot key in a single partition."""
    from pyspark.sql import Window

    from mempool_dumpster_spark.operators.skew import salted_topk

    hot = [("hot", i, float(i % 997)) for i in range(20_000)]
    cold = [("cold", i, float(i)) for i in range(50)]
    df = spark.createDataFrame(hot + cold, "k string, id long, v double")
    got = {
        (r["k"], r["rank"]): r["id"]
        for r in salted_topk(df, ["k"], "v", k=3, tiebreak="id").collect()
    }
    w = Window.partitionBy("k").orderBy(F.col("v").desc(), "id")
    want = {
        (r["k"], r["rn"]): r["id"]
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .collect()
    }
    assert got == want


def test_asof_join_backward(spark):
    """Backward as-of: latest right row with right_ts <= left_ts per key;
    equal timestamps match (inclusive); keys with no earlier right row get
    nulls (LEFT semantics)."""
    from mempool_dumpster_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 205, "p2"), (2, 50, "p3"), (3, 10, "p4")],
        "user_id long, ts long, probe string",
    )
    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (1, 300, "c"), (2, 60, "d")],
        "user_id long, ts long, tag string",
    )
    out = {
        (r["user_id"], r["ts"]): r
        for r in asof_join(left, right, on=["user_id"]).collect()
    }
    assert out[(1, 100)]["tag_right"] == "a"  # inclusive: equal ts matches
    assert out[(1, 205)]["tag_right"] == "b"  # latest earlier, not "c"
    assert out[(2, 50)]["tag_right"] is None  # right row is later only
    assert out[(3, 10)]["tag_right"] is None  # key absent on the right
    assert out[(1, 205)]["asof_ts_right"] == 200


def test_asof_join_tiebreak_and_tolerance(spark):
    from mempool_dumpster_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "p")],
        "user_id long, ts string, probe string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 7, "early"),
            (1, "2024-01-01 09:00:00", 9, "winner"),  # same ts: max tiebreak
        ],
        "user_id long, ts string, seq long, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = asof_join(
        left, right, on=["user_id"], right_tiebreak="seq",
        right_cols=["tag"],
    ).collect()[0]
    assert row["tag_right"] == "winner"

    # tolerance: a match older than the window is nulled out
    row = asof_join(
        left, right, on=["user_id"], right_tiebreak="seq", right_cols=["tag"],
        tolerance=F.expr("INTERVAL 30 MINUTES"),
    ).collect()[0]
    assert row["tag_right"] is None and row["asof_ts_right"] is None


def test_asof_join_null_payload_atomic(spark):
    """The matched right ROW is attached atomically: a NULL payload column in
    the latest matching row must come through as NULL, not be back-filled from
    an older row (per-column last(ignorenulls) would stitch rows together)."""
    from mempool_dumpster_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 300, "p")], "user_id long, ts long, probe string"
    )
    right = spark.createDataFrame(
        [
            (1, 100, "old_a", "old_b"),
            (1, 200, None, "new_b"),  # the match: col `a` is genuinely NULL
        ],
        "user_id long, ts long, a string, b string",
    )
    row = asof_join(left, right, on=["user_id"]).collect()[0]
    assert row["asof_ts_right"] == 200
    assert row["b_right"] == "new_b"
    assert row["a_right"] is None  # NOT "old_a" stitched from the older row


def test_asof_join_output_collision_raises(spark):
    """If the left side already has `<right_col><suffix>` (or the
    `asof_ts<suffix>` slot), the join must fail fast instead of emitting an
    ambiguous duplicate column."""
    from mempool_dumpster_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "x")], "user_id long, ts long, tag_right string"
    )
    right = spark.createDataFrame([(1, 50, "t")], "user_id long, ts long, tag string")
    with pytest.raises(ValueError, match="tag_right"):
        asof_join(left, right, on=["user_id"])
    # a non-colliding suffix works
    out = asof_join(left, right, on=["user_id"], suffix="_r").collect()[0]
    assert out["tag_r"] == "t"

    left2 = spark.createDataFrame(
        [(1, 100, "x")], "user_id long, ts long, asof_ts_right string"
    )
    with pytest.raises(ValueError, match="asof_ts_right"):
        asof_join(left2, right, on=["user_id"], right_cols=["tag"])


def test_range_join_inner_and_left(spark):
    """Bucketed point-in-interval join: inclusive boundaries, intervals
    spanning multiple buckets, multiple matching intervals per point, and
    the left form backfilling unmatched points with nulls."""
    from mempool_dumpster_spark.operators.range_join import range_join

    pts = spark.createDataFrame(
        [(1, 5), (2, 10), (3, 27), (4, 99)], "pid long, x long"
    )
    iv = spark.createDataFrame(
        [
            (100, 0, 10),    # catches x=5 and x=10 (inclusive end)
            (200, 10, 30),   # catches x=10 (inclusive start) and x=27
            (300, 25, 26),   # catches nothing
        ],
        "iid long, lo long, hi long",
    )
    inner = sorted(
        (r["pid"], r["iid"])
        for r in range_join(pts, iv, "x", "lo", "hi", bucket_width=7).collect()
    )
    assert inner == [(1, 100), (2, 100), (2, 200), (3, 200)]

    # a width much smaller than the intervals must give identical results
    # (more replicas, same matches — each pair still joins in exactly the
    # point's bucket, so no duplicates either)
    inner2 = sorted(
        (r["pid"], r["iid"])
        for r in range_join(pts, iv, "x", "lo", "hi", bucket_width=2).collect()
    )
    assert inner2 == inner

    left = range_join(pts, iv, "x", "lo", "hi", bucket_width=7, how="left")
    rows = sorted((r["pid"], r["iid"]) for r in left.collect())
    assert rows == [(1, 100), (2, 100), (2, 200), (3, 200), (4, None)]

    # LEFT with NULL point columns and duplicate point rows: a matched row
    # with a NULL column must NOT reappear as unmatched (null-unsafe
    # anti-join bug), and exact duplicates keep their multiplicity
    pts2 = spark.createDataFrame(
        [(None, 5), (None, 99), (7, 5), (7, 5)],
        "pid long, x long",
    )
    rows2 = sorted(
        ((r["pid"], r["x"], r["iid"]) for r in
         range_join(pts2, iv, "x", "lo", "hi", bucket_width=7, how="left").collect()),
        key=str,
    )
    assert rows2 == sorted(
        [(None, 5, 100), (None, 99, None), (7, 5, 100), (7, 5, 100)], key=str
    )


def test_range_join_left_no_cache_and_residual_semantics(spark):
    """The LEFT form must (a) leave nothing persisted behind (the old
    id+anti-join design cached an intermediate and leaked it) and (b)
    keep a point whose BUCKET matches an interval replica but whose
    containment fails — the residual must live in the join condition,
    not a post-filter, or such points vanish from a left join."""
    from mempool_dumpster_spark.operators.range_join import range_join

    pts = spark.createDataFrame([(1, 24)], "pid long, x long")
    iv = spark.createDataFrame([(300, 25, 26)], "iid long, lo long, hi long")
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    # x=24 and [25,26] share bucket floor(/7)=3 but 24 is outside the
    # interval: the point must survive null-padded.
    rows = range_join(pts, iv, "x", "lo", "hi", bucket_width=7, how="left").collect()
    assert [(r["pid"], r["iid"]) for r in rows] == [(1, None)]
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(after) == len(before), "left range_join leaked a persisted RDD"


def test_range_join_keys_and_validation(spark):
    from mempool_dumpster_spark.operators.range_join import range_join

    pts = spark.createDataFrame([("a", 5), ("b", 5)], "k string, x long")
    iv = spark.createDataFrame([("a", 0, 10)], "k string, lo long, hi long")
    out = range_join(pts, iv, "x", "lo", "hi", bucket_width=4, on=["k"]).collect()
    assert [(r["k"], r["x"]) for r in out] == [("a", 5)]  # key "b" filtered

    with pytest.raises(ValueError, match="collide|both sides"):
        range_join(
            pts.withColumn("lo", F.lit(1)), iv, "x", "lo", "hi", bucket_width=4
        )
    with pytest.raises(ValueError, match="bucket_width"):
        range_join(pts, iv, "x", "lo", "hi", bucket_width=0)
    with pytest.raises(ValueError, match="how"):
        range_join(pts, iv, "x", "lo", "hi", bucket_width=4, how="outer")


def test_sessionize_gap_boundaries(spark):
    """Hand-computed sessions: gaps > 30 min split; boundaries are inclusive
    of the exact-gap case (gap == threshold stays in-session)."""
    from mempool_dumpster_spark.operators.sessions import session_stats, sessionize

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:29:00"),   # 29 min -> same session
        (1, "2024-01-01 10:59:00"),   # exactly 30 min -> same session
        (1, "2024-01-01 12:00:00"),   # 61 min -> new session
        (2, "2024-01-01 10:00:00"),   # other key: its own numbering
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    s = {
        (r["user_id"], str(r["ts"])): r["session_seq"]
        for r in sessionize(ev, ["user_id"], gap_seconds=1800).collect()
    }
    assert s[(1, "2024-01-01 10:00:00")] == 1
    assert s[(1, "2024-01-01 10:59:00")] == 1
    assert s[(1, "2024-01-01 12:00:00")] == 2
    assert s[(2, "2024-01-01 10:00:00")] == 1

    stats = {
        (r["user_id"], r["session_seq"]): r
        for r in session_stats(ev, ["user_id"], gap_seconds=1800).collect()
    }
    assert stats[(1, 1)]["n_events"] == 3
    assert stats[(1, 1)]["duration_s"] == 3540.0
    assert stats[(1, 2)]["n_events"] == 1
    assert stats[(1, 2)]["duration_s"] == 0.0


def test_session_window_parity(spark, tmp_path):
    """Batch sessionize ≡ session_window() form ≡ the same form executed as
    a Structured Streaming aggregation, on a fixture that includes an
    exact-gap event (the boundary where the two predicates could diverge —
    session_stats_window's +1 µs duration makes them identical)."""
    from mempool_dumpster_spark.operators.sessions import (
        session_stats,
        session_stats_window,
    )

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:29:00"),
        (1, "2024-01-01 10:59:00"),  # exactly 30 min after prev -> merges
        (1, "2024-01-01 12:00:00"),  # 61 min -> new session
        (2, "2024-01-01 10:00:00"),
        (2, "2024-01-01 10:30:00.000001"),  # gap + 1 µs -> new session
        (3, "2024-01-01 23:59:59"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )

    def canon(df):
        return sorted(
            (
                r["user_id"],
                r["n_events"],
                str(r["session_start"]),
                str(r["session_end"]),
                r["duration_s"],
            )
            for r in df.collect()
        )

    batch = canon(session_stats(ev, ["user_id"], gap_seconds=1800).drop("session_seq"))
    assert canon(session_stats_window(ev, ["user_id"], gap_seconds=1800)) == batch
    assert [b[:2] for b in batch if b[0] == 2] == [(2, 1), (2, 1)]  # split key

    src = str(tmp_path / "sess_events")
    ev.write.parquet(src)
    sdf = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        session_stats_window(sdf, ["user_id"], gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("sess_parity_tbl")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert canon(spark.sql("select * from sess_parity_tbl")) == batch


@pytest.fixture()
def ntz_events(spark, tmp_path):
    """events-shaped parquet written by pyarrow as `timestamp[us]` with NO
    timezone — the encoding pandas/DuckDB produce and the one the driver's
    testdata uses. Spark reads it as TIMESTAMP_NTZ, which `unix_micros`
    rejects outright (the round-4 `events_sessions` regression: pytest was
    green on Spark-written TIMESTAMP_LTZ fixtures while the driver's NTZ
    parquet hard-failed). The fixture asserts the type so it can never
    silently degrade back to LTZ."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(minutes=29)),
        (3, 1, t0 + dt.timedelta(minutes=59)),     # exactly 30 min -> merges
        (4, 1, t0 + dt.timedelta(minutes=120)),    # 61 min -> new session
        (5, 2, t0),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        }
    )
    path = str(tmp_path / "ntz_events.parquet")
    pq.write_table(table, path)
    df = spark.read.parquet(path)
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    return df


def test_sessionize_timestamp_ntz(spark, ntz_events):
    """Regression: sessionize/session_stats/session_stats_window must accept
    TIMESTAMP_NTZ input and produce the same sessions as the LTZ form."""
    from mempool_dumpster_spark.operators.sessions import (
        session_stats,
        session_stats_window,
        sessionize,
    )

    s = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(
            ntz_events, ["user_id"], gap_seconds=1800, tiebreak="event_id"
        ).collect()
    }
    assert s == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}

    stats = {
        (r["user_id"], r["session_seq"]): r
        for r in session_stats(ntz_events, ["user_id"], gap_seconds=1800).collect()
    }
    assert stats[(1, 1)]["n_events"] == 3
    assert stats[(1, 1)]["duration_s"] == 3540.0
    assert stats[(1, 2)]["duration_s"] == 0.0

    win = sorted(
        (r["user_id"], r["n_events"], r["duration_s"])
        for r in session_stats_window(
            ntz_events, ["user_id"], gap_seconds=1800
        ).collect()
    )
    assert win == [(1, 1, 0.0), (1, 3, 3540.0), (2, 1, 0.0)]


def test_asof_join_timestamp_ntz(spark, ntz_events, tmp_path):
    """asof_join over NTZ timestamps on both sides, including the interval
    tolerance arithmetic (NTZ supports datetime +/- interval)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mempool_dumpster_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    right = pa.table(
        {
            "user_id": pa.array([1, 1, 2], pa.int64()),
            "ts": pa.array(
                [t0, t0 + dt.timedelta(minutes=90), t0], pa.timestamp("us")
            ),
            "tag": pa.array(["early", "mid", "other"], pa.string()),
        }
    )
    rpath = str(tmp_path / "ntz_right.parquet")
    pq.write_table(right, rpath)
    rdf = spark.read.parquet(rpath)
    assert rdf.schema["ts"].dataType.typeName() == "timestamp_ntz"

    out = {
        r["event_id"]: r["tag_right"]
        for r in asof_join(ntz_events, rdf, on=["user_id"]).collect()
    }
    # user 1 events at 10:00/10:29/10:59 match the 10:30 "mid" row only
    # from 10:30 onward; earlier events match "early" (09:00).
    assert out == {1: "early", 2: "early", 3: "mid", 4: "mid", 5: "other"}

    tol = {
        r["event_id"]: r["tag_right"]
        for r in asof_join(
            ntz_events, rdf, on=["user_id"], tolerance=F.expr("INTERVAL 65 MINUTE")
        ).collect()
    }
    # 65-min tolerance: event 1 (10:00 vs 09:00 match, 60 min old) keeps it;
    # event 2 (10:29, 89 min) loses it.
    assert tol[1] == "early" and tol[2] is None


def test_value_quantiles_approx_tolerance(spark):
    """The sketch-based quantile entry must agree with the exact nearest-rank
    entry within the sketch's rank-error bound on the driver's testdata —
    percentile_approx at accuracy=10000 is rank-exact up to n/10000 per
    group, so each approx quantile must land within 1% relative of exact."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {r["source"]: r for r in qs["value_quantiles"](spark, sf_dir).collect()}
    approx = {
        r["source"]: r for r in qs["value_quantiles_approx"](spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for src, e in exact.items():
        a = approx[src]
        assert a["n"] == e["n"]
        for p in ("p50", "p90", "p99"):
            assert a[p] == pytest.approx(e[p], rel=0.01), (src, p, a[p], e[p])


def test_trash_dedup_whole_row(spark):
    """trash_dedup keeps the EARLIEST whole row per (key, source): the reason
    and notes columns must come from the same row as the winning timestamp."""
    df = spark.createDataFrame(
        [
            # (user, type, ts_micro, event_id, value, props)
            (1, "click", 100, 7, 0.5, "n7"),   # winner: reason signature-error
            (1, "click", 200, 8, 95.0, "n8"),  # later: different reason+notes
            (1, "view", 50, 9, 50.0, "n9"),
        ],
        "user_id long, event_type string, ts long, event_id long, value double, props string",
    )
    import pyspark.sql.functions as F

    from mempool_dumpster_spark.functions.ethtx import (
        REASON_CHAINID_NOT_SET,
        REASON_GASFEE_TOO_BIG,
        REASON_SIGNATURE_ERROR,
    )
    from mempool_dumpster_spark.operators.dedup import dedup_keep_earliest_row

    trash = df.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(F.col("value") < 1, REASON_SIGNATURE_ERROR)
        .when(F.col("value") > 90, REASON_GASFEE_TOO_BIG)
        .otherwise(REASON_CHAINID_NOT_SET)
        .alias("reason"),
        F.col("props").alias("notes"),
    )
    out = {
        (r["user_id"], r["event_type"]): r
        for r in dedup_keep_earliest_row(
            trash, key=["user_id", "event_type"], order=["ts", "event_id"]
        ).collect()
    }
    assert out[(1, "click")]["reason"] == REASON_SIGNATURE_ERROR
    assert out[(1, "click")]["notes"] == "n7"
    assert out[(1, "view")]["reason"] == REASON_CHAINID_NOT_SET


def test_site_index_builder(spark, tmp_path):
    """cmd/website equivalent: root page links the months; month pages list
    files sorted, day-banded even/odd with change anchors, sizes via
    human_bytes — the DummyHTMLData fixture from website/htmldata.go."""
    from mempool_dumpster_spark.plans.site_index import build_site, page_model

    arch = tmp_path / "archive"
    for month, files in {
        "2023-08": [
            ("2023-08-29.csv.zip", 97210118),
            ("2023-08-29.parquet", 90896124),
            ("2023-08-30.parquet", 90896124),
        ],
        "2023-09": [("2023-09-01.parquet", 1024)],
    }.items():
        d = arch / month
        d.mkdir(parents=True)
        for fn, size in files:
            (d / fn).write_bytes(b"\0" * min(size, 4096))
            import os as _os

            _os.truncate(d / fn, size)
        (d / "index.html").write_text("old")  # must be excluded from listing

    out = tmp_path / "site"
    written = build_site(spark, str(arch), str(out))
    assert (out / "index.html").exists()
    root_html = (out / "index.html").read_text()
    assert 'href="ethereum/mainnet/2023-08/index.html"' in root_html
    assert "2023-09" in root_html

    aug = (out / "ethereum" / "mainnet" / "2023-08" / "index.html").read_text()
    assert "../" in aug  # parent link row
    assert "index.html</a>" not in aug.replace("/index.html>", "")  # no self-listing
    assert "92.7 MB" in aug  # 97210118 B
    assert 'class="f-even"' in aug and 'class="f-odd"' in aug  # day banding
    assert aug.index("2023-08-29.csv.zip") < aug.index("2023-08-30.parquet")
    assert len(written) == 3

    from mempool_dumpster_spark.plans.site_index import archive_listing

    model = {
        (r["filename"]): r
        for r in page_model(archive_listing(spark, str(arch))).collect()
    }
    assert model["2023-08-29.csv.zip"]["band"] == "even"
    assert model["2023-08-29.parquet"]["band"] == "even"  # same day, same band
    assert model["2023-08-30.parquet"]["band"] == "odd"  # next day flips
    assert model["2023-08-29.csv.zip"]["day_change"]
    assert not model["2023-08-29.parquet"]["day_change"]


def test_load_tables_nanos_parquet(spark, tmp_path):
    """plans.tables.load_tables must accept parquet TIMESTAMP(NANOS) —
    Spark's vectorized reader rejects it outright, so the loader detects ns
    columns from the footer, reads them as raw INT64 and truncates to
    micros. Earlier driver testdata shipped events.ts as nanos; this pins
    the path against either encoding coming back."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mempool_dumpster_spark.plans.tables import load_tables

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [t0, t0 + dt.timedelta(microseconds=1)], pa.timestamp("ns")
            ),
        }
    )
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    pq.write_table(table, str(sf_dir / "events.parquet"))

    df = load_tables(spark, str(sf_dir), ["events"])["events"]
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    rows = {r["event_id"]: r["ts"] for r in df.collect()}
    assert rows[1] == t0
    assert rows[2] == t0 + dt.timedelta(microseconds=1)


def test_site_index_html_escaping():
    """Parity with the reference's auto-escaping Go html/template
    (cmd/website renders website/templates via html/template): hostile
    filenames/months must come out entity-escaped, never as live markup."""
    from mempool_dumpster_spark.plans.site_index import (
        render_month_page,
        render_root_page,
    )

    root = render_root_page(['2023-08"><script>alert(1)</script>'])
    assert "<script>" not in root
    assert "&lt;script&gt;" in root and "&quot;&gt;" in root

    month = render_month_page(
        "2023-<b>08</b>",
        [
            {
                "filename": '<img src=x onerror=alert(1)>.parquet',
                "day": '<day>',
                "day_change": True,
                "band": "even",
                "size_bytes": 1024,
            }
        ],
        network="<Mainnet>",
    )
    assert "<img" not in month and "<Mainnet>" not in month and "<b>" not in month
    assert "&lt;img src=x onerror=alert(1)&gt;.parquet" in month
    assert "1.0 KB" in month  # size rendering unaffected


def test_distinct_users_approx_tolerance(spark):
    """The HLL++ sketch entry must land within 3×rsd (6%) of the exact
    distinct count per group on the driver's testdata."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        r["event_type"]: r["n_users"]
        for r in qs["events_distinct_users"](spark, sf_dir).collect()
    }
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in qs["events_distinct_users_approx"](spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(1, 0.06 * n), (et, n, approx[et])


def test_asof_join_forward(spark):
    """Forward as-of: EARLIEST right row with right_ts >= left_ts per key;
    equal timestamps match (inclusive); keys with only-earlier right rows
    get nulls; tolerance bounds the look-ahead; greatest tiebreak wins at
    equal (key, ts)."""
    from mempool_dumpster_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 205, "p2"), (2, 70, "p3"), (3, 10, "p4")],
        "user_id long, ts long, probe string",
    )
    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (1, 300, "c"), (2, 60, "d")],
        "user_id long, ts long, tag string",
    )
    out = {
        (r["user_id"], r["ts"]): r
        for r in asof_join(
            left, right, on=["user_id"], direction="forward"
        ).collect()
    }
    assert out[(1, 100)]["tag_right"] == "a"  # inclusive: equal ts matches
    assert out[(1, 205)]["tag_right"] == "c"  # earliest later, not "b"
    assert out[(2, 70)]["tag_right"] is None  # right row is earlier only
    assert out[(3, 10)]["tag_right"] is None  # key absent on the right
    assert out[(1, 205)]["asof_ts_right"] == 300

    # tolerance: (1, 205) -> 300 is 95 away; a 50-tick budget nulls it but
    # keeps (1, 100) -> 100 (0 away)
    tol = {
        (r["user_id"], r["ts"]): r
        for r in asof_join(
            left,
            right,
            on=["user_id"],
            direction="forward",
            tolerance=F.lit(50),
        ).collect()
    }
    assert tol[(1, 205)]["tag_right"] is None
    assert tol[(1, 100)]["tag_right"] == "a"

    # equal-(key, ts) right duplicates: greatest tiebreak wins, both directions
    dup = spark.createDataFrame(
        [(1, 100, "x", 1), (1, 100, "y", 2)],
        "user_id long, ts long, tag string, seq long",
    )
    fwd = asof_join(
        left, dup, on=["user_id"], direction="forward", right_tiebreak="seq"
    ).collect()
    bwd = asof_join(
        left, dup, on=["user_id"], right_tiebreak="seq"
    ).collect()
    f100 = next(r for r in fwd if r["ts"] == 100)
    b100 = next(r for r in bwd if r["ts"] == 100)
    assert f100["tag_right"] == "y" and b100["tag_right"] == "y"

    with pytest.raises(ValueError):
        asof_join(left, right, on=["user_id"], direction="sideways")


def test_asof_join_nearest(spark):
    """Nearest as-of: the closer of backward/forward wins; equidistant ties
    go BACKWARD (pandas merge_asof semantics); tolerance bounds both sides."""
    from mempool_dumpster_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 150, "p1"), (1, 290, "p2"), (1, 201, "p3"), (2, 10, "p4")],
        "user_id long, ts long, probe string",
    )
    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (1, 300, "c")],
        "user_id long, ts long, tag string",
    )
    out = {
        (r["user_id"], r["ts"]): r
        for r in asof_join(
            left, right, on=["user_id"], direction="nearest"
        ).collect()
    }
    assert out[(1, 150)]["tag_right"] == "a"  # equidistant 100/200 -> backward
    assert out[(1, 290)]["tag_right"] == "c"  # 300 (10 away) beats 200 (90)
    assert out[(1, 201)]["tag_right"] == "b"  # 200 (1 away) beats 300 (99)
    assert out[(2, 10)]["tag_right"] is None  # key absent on the right

    tol = {
        (r["user_id"], r["ts"]): r
        for r in asof_join(
            left, right, on=["user_id"], direction="nearest",
            tolerance=F.lit(15),
        ).collect()
    }
    assert tol[(1, 290)]["tag_right"] == "c"  # 10 away: inside tolerance
    assert tol[(1, 150)]["tag_right"] is None  # 50 away: outside


def test_asof_join_nearest_timestamp_type(spark):
    """Nearest distance works on temporal columns (epoch comparison, no
    interval arithmetic in the abs)."""
    import datetime as dt

    from mempool_dumpster_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2023, 9, 4, 0, 0, s)
    left = spark.createDataFrame([(1, t(30))], "user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(1, t(0), "a"), (1, t(40), "b")],
        "user_id long, ts timestamp, tag string",
    )
    rows = asof_join(left, right, on=["user_id"], direction="nearest").collect()
    assert rows[0]["tag_right"] == "b"  # 10s forward beats 30s backward


def test_two_pass_topk_matches_exact_groupby(spark):
    """two_pass_topk == the exact groupBy top-k when capacity covers the
    candidates, including under a skewed distribution and a small capacity
    that forces lossy truncation of the long tail."""
    from mempool_dumpster_spark.operators.skew import two_pass_topk

    # zipf-ish: key i appears ~ 2000//(i+1) times -> clear heavy hitters
    rows = [(f"k{i}",) for i in range(200) for _ in range(2000 // (i + 1))]
    df = spark.createDataFrame(rows, ["key"]).repartition(8)
    exact = (
        df.groupBy("key")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(5)
        .collect()
    )
    got = two_pass_topk(df, "key", k=5, capacity=64).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exact]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        two_pass_topk(df, "key", k=0)
    with _pytest.raises(ValueError):
        two_pass_topk(df, "key", k=10, capacity=5)


def test_two_pass_topk_guarded_no_broadcast_path(spark):
    """When the candidate union exceeds broadcast_limit the semi-join runs
    WITHOUT the broadcast hint (shuffled join) and the result is still the
    exact groupBy top-k — the guard trades plan shape, never answers.
    Driven the way the advisory described: more distinct keys per
    partition than capacity, many partitions, and a limit of 1 row."""
    from mempool_dumpster_spark.operators.skew import two_pass_topk

    rows = [(f"k{i % 500}",) for i in range(5000)] + [("hot",)] * 2000
    df = spark.createDataFrame(rows, ["key"]).repartition(16)
    exact = (
        df.groupBy("key")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(3)
        .collect()
    )
    guarded = two_pass_topk(df, "key", k=3, capacity=600, broadcast_limit=1)
    # the explicit broadcast hint must be absent from the guarded plan
    # (AQE may still broadcast-convert on real size stats — that's fine)
    assert "UnresolvedHint broadcast" not in guarded._jdf.queryExecution().logical().toString()
    assert [tuple(r) for r in guarded.collect()] == [tuple(r) for r in exact]


def test_two_pass_topk_bigint_keys_with_nulls_stay_exact(spark):
    """Review regression: a nullable BIGINT key column must not round
    keys above 2^53 — the old pandas path converted the batch to float64
    when NULLs were present, corrupting 64-bit hash keys; the Arrow path
    keeps int64 end-to-end."""
    from mempool_dumpster_spark.operators.skew import two_pass_topk

    base = (1 << 60) + 1  # adjacent odd ints collapse under float64
    rows = (
        [(base,)] * 8 + [(base + 2,)] * 5 + [(None,)] * 3 + [(base + 4,)] * 1
    )
    df = spark.createDataFrame(rows, "key long").repartition(3)
    got = [tuple(r) for r in two_pass_topk(df, "key", k=3, capacity=8).collect()]
    assert got == [(base, 8), (base + 2, 5), (None, 3)]


def test_two_pass_topk_counts_null_keys(spark):
    """NULL keys form a group exactly like the plain groupBy top-k this
    operator approximates (the advisory flagged silent NULL exclusion)."""
    from mempool_dumpster_spark.operators.skew import two_pass_topk

    rows = [("a",)] * 10 + [(None,)] * 7 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "key string").repartition(4)
    got = [tuple(r) for r in two_pass_topk(df, "key", k=3, capacity=8).collect()]
    assert got == [("a", 10), (None, 7), ("b", 3)]


def test_two_pass_topk_folds_nan_float_keys(spark):
    """Review regression: NaN float keys fold onto ONE accumulator across
    Arrow batches/partitions (NaN != NaN would fragment the count and
    could evict true heavy hitters from the candidate set)."""
    from mempool_dumpster_spark.operators.skew import two_pass_topk

    rows = [(float("nan"),)] * 9 + [(1.5,)] * 5 + [(2.5,)] * 2
    df = spark.createDataFrame(rows, "key double").repartition(4)
    got = [tuple(r) for r in two_pass_topk(df, "key", k=2, capacity=4).collect()]
    assert len(got) == 2
    assert got[0][0] != got[0][0] and got[0][1] == 9  # NaN key, count 9
    assert got[1] == (1.5, 5)
