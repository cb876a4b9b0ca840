"""The single-pass analyzer against per-statistic SQL oracles.

`analyze()` folds every AnalyzerResult field out of one grouped aggregate;
each oracle below is the plain SQL definition of one statistic (reference
common/analyzer.go:83-149, SURVEY.md A6-A14), run over the same filtered
input. Field values, row order and row field names must match exactly, and
so must the rendered summaries."""

from __future__ import annotations

import random

import pytest

from mempool_dumpster_spark.operators.analyzer import (
    AnalyzerResult,
    analyze,
    render_report,
    sprint_summary,
)

SCHEMA = (
    "hash string, timestamp long, txType int, rawTx binary, "
    "sources array<string>, includedAtBlockHeight long, inclusionDelayMs long"
)

#: the input minus txs included on-chain ≥12 s before first receipt
KEPT = (
    "SELECT * FROM analyzer_in "
    "WHERE NOT (includedAtBlockHeight > 0 AND inclusionDelayMs <= -12000)"
)

ORACLES = {
    "included": """
        SELECT includedAtBlockHeight > 0 AS included, count(*) AS n
        FROM kept GROUP BY 1 ORDER BY 1""",
    "by_txtype": """
        SELECT txType, count(*) AS n,
               sum(coalesce(length(rawTx), 0)) AS bytes
        FROM kept GROUP BY txType ORDER BY txType""",
    "by_source": """
        SELECT source, count(*) AS n
        FROM kept LATERAL VIEW explode(sources) s AS source
        GROUP BY source ORDER BY source""",
    "source_inclusion": """
        SELECT source, includedAtBlockHeight > 0 AS included, count(*) AS n
        FROM kept LATERAL VIEW explode(sources) s AS source
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "exclusive": """
        SELECT element_at(sources, 1) AS source,
               includedAtBlockHeight > 0 AS included, count(*) AS n
        FROM kept WHERE size(sources) = 1
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "span": """
        SELECT min(timestamp) AS first_ts, max(timestamp) AS last_ts,
               max(timestamp) - min(timestamp) AS duration_ms
        FROM kept""",
    "distinct": """
        SELECT sort_array(array_distinct(flatten(collect_set(sources))))
                 AS sources,
               sort_array(collect_set(txType)) AS tx_types
        FROM kept""",
}

#: source lists covering every case the fold must reproduce: null, empty,
#: a null element, single sources, and one set in several first-seen orders
SOURCE_LISTS = [
    None,
    [],
    ["alchemy"],
    ["infura"],
    [None],
    ["alchemy", None],
    ["alchemy", "infura"],
    ["infura", "alchemy"],
    ["local", "alchemy", "infura"],
    ["infura", "local", "alchemy"],
    ["alchemy", "alchemy"],
]


def _rows(seed: int, n: int) -> list[tuple]:
    rnd = random.Random(seed)
    out = []
    for i in range(n):
        included = rnd.choice([0, 0, 18_000_000 + i, None])
        out.append(
            (
                f"h{i}",
                1_693_785_600_000 + rnd.randrange(86_400_000),
                rnd.choice([0, 1, 2, 2, 3, None]),
                rnd.choice([None, bytes(rnd.randrange(1, 200))]),
                rnd.choice(SOURCE_LISTS),
                included,
                # ≤ -12 000 on an included tx → dropped by the filter
                rnd.choice([0, 12_000, -11_999, -12_000, -100_000, None]),
            )
        )
    return out


def _oracle(spark, rows: list[tuple]) -> AnalyzerResult:
    spark.createDataFrame(rows, SCHEMA).createOrReplaceTempView("analyzer_in")
    spark.sql(KEPT).createOrReplaceTempView("kept")
    try:
        return AnalyzerResult(
            n_unique=spark.sql("SELECT count(*) FROM kept").first()[0],
            **{f: spark.sql(q).collect() for f, q in ORACLES.items()},
        )
    finally:
        spark.catalog.dropTempView("kept")
        spark.catalog.dropTempView("analyzer_in")


def _as_dicts(res: AnalyzerResult) -> dict:
    """Every field, rows as dicts so field names are compared too."""
    return {
        f: v if f == "n_unique" else [r.asDict() for r in v]
        for f, v in vars(res).items()
    }


@pytest.mark.parametrize("seed,n", [(0, 0), (1, 5), (2, 60), (3, 400)])
def test_analyze_matches_sql_oracles(spark, seed, n):
    rows = _rows(seed, n)
    got = analyze(spark.createDataFrame(rows, SCHEMA))
    want = _oracle(spark, rows)
    assert _as_dicts(got) == _as_dicts(want)
    assert sprint_summary(got) == sprint_summary(want)
    assert sprint_summary(got, with_sourcelog=False) == sprint_summary(
        want, with_sourcelog=False
    )
    assert render_report(got) == render_report(want)


def test_analyze_empty_input(spark):
    res = analyze(spark.createDataFrame([], SCHEMA))
    assert res.n_unique == 0
    assert [r.asDict() for r in res.span] == [
        {"first_ts": None, "last_ts": None, "duration_ms": None}
    ]
    assert [list(r) for r in res.distinct] == [[[], []]]
    assert res.included == res.by_txtype == res.by_source == []
    assert res.source_inclusion == res.exclusive == []


def test_analyze_edge_rows_covered(spark):
    """The seeded inputs really hit every edge case the fold handles."""
    rows = _rows(3, 400)
    spark.createDataFrame(rows, SCHEMA).createOrReplaceTempView("analyzer_in")
    try:
        kept = spark.sql(KEPT).collect()
    finally:
        spark.catalog.dropTempView("analyzer_in")
    assert 0 < len(kept) < len(rows)
    assert any(r["txType"] is None for r in kept)
    assert any(r["rawTx"] is None for r in kept)
    srcs = [r["sources"] for r in kept]
    assert None in srcs and [] in srcs and [None] in srcs
    assert ["alchemy", "infura"] in srcs and ["infura", "alchemy"] in srcs
    assert ["alchemy"] in srcs
