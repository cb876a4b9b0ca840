"""End-to-end golden pipeline test (SURVEY.md §5.2 #2): synthetic collector
CSVs shaped per FIXTURES.md → merge → parquet + CSVs + summary. Asserts
dedup-keeps-min-ts, blacklist exclusion, sources first-seen ordering, the
already-included filter, global sort, and sink round-trips."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql import functions as F

from mempool_dumpster_spark.operators.analyzer import analyze, render_report
from mempool_dumpster_spark.plans.merge import merge_transactions, write_merge_outputs
from txgen import make_tx, priv_to_address, tx_hash_of

TS = 1693785600_000


@pytest.fixture(scope="module")
def fixture_day(tmp_path_factory):
    """One synthetic collector 'day': 4 txs across 2 CSV files + sourcelog +
    blacklist, with every FIXTURES.md edge case represented."""
    root = tmp_path_factory.mktemp("day")
    tx_a = make_tx(priv=0xA11CE, tx_type=2, nonce=1)  # normal, 2 sources
    tx_b = make_tx(priv=0xB0B, tx_type=0, nonce=2)  # duplicate across files
    tx_c = make_tx(priv=0xCAFE, tx_type=1, nonce=3)  # blacklisted
    tx_d = make_tx(priv=0xD00D, tx_type=3, nonce=4)  # blob; included-before-received
    tx_e = make_tx(priv=0xE66, tx_type=2, nonce=5)  # no sourcelog entries
    tx_f = make_tx(priv=0xF00, tx_type=2, chain_id=0, nonce=6)  # chainId not set
    h = {k: tx_hash_of(v) for k, v in
         {"a": tx_a, "b": tx_b, "c": tx_c, "d": tx_d, "e": tx_e,
          "f": tx_f}.items()}

    f1 = root / "txs_1.csv"
    f1.write_text(
        f"{TS+100},{h['a']},{tx_a}\n"
        f"{TS+200},{h['b']},{tx_b}\n"
        f"{TS+300},{h['c']},{tx_c}\n"
        f"malformed line\n"
        f"{TS+400},{h['d']},{tx_d}\n"
        f"{TS+450},{h['f']},{tx_f}\n"  # decodes, but the merge drops it
    )
    # duplicate of b with SMALLER timestamp in a zip archive + junk rlp row
    f2 = root / "txs_2.csv.zip"
    junk_hash = "0x" + "77" * 32
    with zipfile.ZipFile(f2, "w") as zf:
        zf.writestr(
            "txs_2.csv",
            f"{TS+50},{h['b']},{tx_b}\n"
            f"{TS+500},{h['e']},{tx_e}\n"
            f"{TS+600},{junk_hash},0xdeadbeef\n",  # undecodable RLP → dropped
        )

    sl = root / "sourcelog.csv"
    sl.write_text(
        f"{TS+110},{h['a']},infura\n"
        f"{TS+105},{h['a']},alchemy\n"  # alchemy saw a first
        f"{TS+120},{h['a']},alchemy\n"  # dup receipt, keep min
        f"{TS+50},{h['b']},local\n"
        f"{TS+400},{h['d']},bloxroute\n"
        f"{TS+999},0xshort,bad\n"  # invalid row dropped
    )

    bl = root / "blacklist.csv"
    bl.write_text(f"{TS},{h['c']},old\n")

    return {
        "root": root, "h": h,
        "tx_paths": [str(f1), str(f2)],
        "sl_paths": [str(sl)],
        "bl_paths": [str(bl)],
    }


@pytest.fixture(scope="module")
def merged(spark, fixture_day):
    h = fixture_day["h"]
    blocks = spark.createDataFrame(
        # d was included 100 s before first receipt → F3 drops it
        # a included 12 s after receipt → kept, positive delay
        [(h["d"], 18_000_000, TS + 400 - 100_000),
         (h["a"], 18_000_010, TS + 100 + 12_000)],
        "hash string, block_number long, block_timestamp_ms long",
    )
    return merge_transactions(
        spark,
        tx_paths=fixture_day["tx_paths"],
        sourcelog_paths=fixture_day["sl_paths"],
        blacklist_paths=fixture_day["bl_paths"],
        blocks=blocks,
        collect_stats=True,
    )


def test_merge_row_set(merged, fixture_day):
    h = fixture_day["h"]
    rows = {r["hash"]: r for r in merged.transactions.collect()}
    # c blacklisted, d included-before-received, junk undecodable → a, b, e
    assert set(rows) == {h["a"], h["b"], h["e"]}


def test_dedup_keeps_min_timestamp(merged, fixture_day):
    rows = {r["hash"]: r for r in merged.transactions.collect()}
    assert rows[fixture_day["h"]["b"]]["timestamp"] == TS + 50


def test_sources_ordering_and_empty(merged, fixture_day):
    rows = {r["hash"]: r for r in merged.transactions.collect()}
    assert rows[fixture_day["h"]["a"]]["sources"] == ["alchemy", "infura"]
    assert rows[fixture_day["h"]["b"]]["sources"] == ["local"]
    assert rows[fixture_day["h"]["e"]]["sources"] == []


def test_inclusion_fields(merged, fixture_day):
    rows = {r["hash"]: r for r in merged.transactions.collect()}
    a = rows[fixture_day["h"]["a"]]
    assert a["includedAtBlockHeight"] == 18_000_010
    assert a["inclusionDelayMs"] == 12_000
    e = rows[fixture_day["h"]["e"]]
    assert e["includedAtBlockHeight"] == 0 and e["inclusionDelayMs"] == 0


def test_output_sorted_and_metadata(merged):
    rows = merged.transactions.collect()
    ts = [r["timestamp"] for r in rows]
    assert ts == sorted(ts)
    for r in rows:
        assert r["from"].startswith("0x") and len(r["from"]) == 42
        assert int(r["value"]) >= 0  # uint256 decimal strings


def test_stats(merged):
    assert merged.stats["tx_rows_rejected"] == 1  # the malformed line
    assert merged.stats["parse_failures"] == 1  # 0xdeadbeef
    assert merged.stats["chainid_not_set"] == 1  # f
    assert merged.stats["output_rows"] == 3


def test_sinks_roundtrip(spark, merged, tmp_path):
    out = tmp_path / "out"
    write_merge_outputs(merged, str(out))
    back = spark.read.parquet(str(out / "transactions.parquet"))
    assert back.count() == 3
    assert [f.name for f in back.schema.fields][:2] == ["timestamp", "hash"]
    meta = spark.read.option("header", True).csv(str(out / "transactions.csv"))
    assert meta.columns[-1] == "tx_type"  # reference CSV column order quirk
    assert meta.columns[0] == "timestamp_ms"
    srow = meta.filter(F.col("sources").contains(" ")).collect()
    assert len(srow) == 1  # a's two sources are space-joined
    rawcsv = spark.read.option("header", True).csv(str(out / "transactions_raw.csv"))
    # header line matches the reference (cmd/merge/transactions.go:208)
    assert rawcsv.columns == ["timestamp_ms", "hash", "raw_tx"]
    assert rawcsv.count() == 3
    raw_hex = rawcsv.collect()[0][2]
    assert raw_hex.startswith("0x")


def test_analyzer_report(merged):
    res = analyze(merged.transactions)
    assert res.n_unique == 3
    report = render_report(res)
    assert "Unique transactions: 3" in report
    assert "Included on-chain: 1 (33.3%)" in report
    assert "type 0:" in report and "type 2:" in report


def test_sender_recovery_in_pipeline(merged, fixture_day):
    rows = {r["hash"]: r for r in merged.transactions.collect()}
    assert rows[fixture_day["h"]["a"]]["from"] == priv_to_address(0xA11CE)
    assert rows[fixture_day["h"]["b"]]["from"] == priv_to_address(0xB0B)


def test_sprint_summary_reference_format(merged):
    """Golden-string check of the byte-compatible summary renderer
    (reference Analyzer2.Sprint, common/analyzer.go:156-213): exact header,
    trailing-space-before-newline quirk, %10d widths with thousands
    separators, floor-rounded %5s percentages, tablewriter-style table."""
    from mempool_dumpster_spark.operators.analyzer import sprint_summary

    res = analyze(merged.transactions)
    out = sprint_summary(res)
    lines = out.split("\n")
    assert lines[0] == "[Mempool Dumpster](https://mempool-dumpster.flashbots.net)"
    assert lines[1] == "=========================================================="
    assert lines[2] == ""
    assert lines[3].startswith("Date: ") and lines[3].endswith(" ")
    assert any(l.startswith("- From: ") and l.endswith(" UTC ") for l in lines)
    assert any(l.startswith("- To:   ") and l.endswith(" UTC ") for l in lines)
    # %10d width + %5s floor percent, trailing space
    assert "Unique transactions:          3 \n" in out
    assert "- Included on-chain:          1 (33.3%) \n" in out
    assert "- Not included:               2 (66.6%) \n" in out  # floor(66.66)
    assert "-----------------\nTransaction Stats\n-----------------\n" in out
    # tablewriter markdown: uppercased centered headers, |-bordered rows
    assert "| TX TYPE |" in out
    table_lines = [l for l in lines if l.startswith("|")]
    assert table_lines[1].replace("-", "").replace("|", "") == ""
    assert len({len(l) for l in table_lines}) == 1  # aligned widths


def test_scalar_helpers_p13_p14_aliases(monkeypatch):
    from mempool_dumpster_spark.functions.scalars import (
        auth_token_and_url,
        source_aliases_from_env,
    )

    assert auth_token_and_url("tok123") == ("tok123", "")
    assert auth_token_and_url("tok@wss://x.y/feed") == ("tok", "wss://x.y/feed")
    monkeypatch.setenv("SRC_ALIASES", "blx=bloxroute.com,eden=edennetwork.io,bad")
    assert source_aliases_from_env() == {
        "bloxroute.com": "blx",
        "edennetwork.io": "eden",
    }
    monkeypatch.delenv("SRC_ALIASES")
    assert source_aliases_from_env() == {}


def test_title_source(spark):
    from mempool_dumpster_spark.functions.scalars import title_source

    df = spark.createDataFrame([("bloxroute",), ("eden network",)], ["s"])
    got = [r[0] for r in df.select(title_source("s")).collect()]
    assert got == ["Bloxroute", "Eden Network"]


def test_analyze_plan_invariants(spark, fixture_day, tmp_path):
    """The single-pass analyzer stays single-pass: one aggregate over the
    merge's pre-sort cache (no re-sort above it), at most 3 Spark jobs, and
    no cache of its own. The merge is written first, as in the daily job,
    so the jobs counted are the analyzer's alone."""
    from mempool_dumpster_spark.operators.analyzer import summary_groups

    sc = spark.sparkContext
    result = merge_transactions(
        spark,
        tx_paths=fixture_day["tx_paths"],
        sourcelog_paths=fixture_day["sl_paths"],
        blacklist_paths=fixture_day["bl_paths"],
    )
    try:
        write_merge_outputs(result, str(tmp_path / "out"))

        # logical-plan nodes above the caches (InMemoryRelation is a leaf)
        def names(node):
            kids = node.children()
            return [node.nodeName()] + [
                n for i in range(kids.size()) for n in names(kids.apply(i))
            ]

        plan = summary_groups(result.transactions)._jdf.queryExecution()
        nodes = names(plan.optimizedPlan())
        assert "InMemoryRelation" in nodes
        assert "Sort" not in nodes

        persisted = sc._jsc.getPersistentRDDs().size()
        sc.setJobGroup("analyze_invariants", "analyze over a written merge")
        try:
            res = analyze(result.transactions)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("analyze_invariants")
        assert res.n_unique == 4  # no blocks: d is not dropped
        assert len(jobs) <= 3
        assert sc._jsc.getPersistentRDDs().size() == persisted
    finally:
        result.unpersist()
