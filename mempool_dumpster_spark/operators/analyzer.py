"""The analyzer — daily summary report (SURVEY.md §3.2; reference
common/analyzer.go:53-213, cmd/analyze/main.go:46-140).

`analyze()` is the single-pass analyzer: like the reference's one loop over
the day's transactions, it runs ONE grouped aggregate (`summary_groups`)
and folds every A6-A14 statistic out of the few collected rows on the
driver. `render_report()` and `sprint_summary()` turn the result into the
summary text (driver-side, like the reference's Sprint())."""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from mempool_dumpster_spark.functions.scalars import human_bytes
from mempool_dumpster_spark.operators.joins import was_included_before_received


@dataclass
class AnalyzerResult:
    n_unique: int
    included: list
    by_txtype: list
    by_source: list
    source_inclusion: list
    exclusive: list
    span: list
    distinct: list


def summary_groups(txs: DataFrame) -> DataFrame:
    """The analyzer's one aggregate: rows not already included before they
    were received (reference common/analyzer.go:67-74), grouped by
    (included, txType, sorted sources) with count, raw bytes and first/last
    timestamp. The group count is bounded by 2 × tx types × distinct source
    SETS, never by input rows; `sort_array` makes first-seen order
    irrelevant. Every aggregate is order-insensitive, so Catalyst drops a
    sort under it (EliminateSorts) and the merge's pre-sort cache is read
    directly."""
    return (
        txs.filter(~was_included_before_received())
        .groupBy(
            (F.col("includedAtBlockHeight") > 0).alias("included"),
            F.col("txType"),
            F.sort_array("sources").alias("sources"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce(F.length("rawTx"), F.lit(0))).alias("bytes"),
            F.min("timestamp").alias("first_ts"),
            F.max("timestamp").alias("last_ts"),
        )
    )


def _asc(key):
    """Sort key for Spark's ascending order: nulls first."""
    return tuple((v is not None, v) for v in key)


def _rows(counts: Counter, names: tuple[str, ...]) -> list:
    """Counter over key tuples → Rows ordered like `ORDER BY` the keys."""
    return [
        Row(**dict(zip(names, (*k, n))))
        for k, n in sorted(counts.items(), key=lambda kv: _asc(kv[0]))
    ]


def analyze(txs: DataFrame) -> AnalyzerResult:
    """Every AnalyzerResult field from one collected `summary_groups`
    aggregate (reference common/analyzer.go:53-150): unique and included
    counts (A6, A7), per-type counts and bytes (A8, A9), per-source and
    source × included counts (A10, A11), single-source exclusive orderflow
    (A12), the time span (A13) and the sorted distinct sources and types
    (A14). Row field names and orders are those of the per-statistic
    queries the fold replaces; no cache is taken."""
    groups = summary_groups(txs).collect()
    included, by_type, type_bytes = Counter(), Counter(), Counter()
    by_source, source_inc, exclusive = Counter(), Counter(), Counter()
    for g in groups:
        inc, n = g["included"], g["n"]
        included[(inc,)] += n
        by_type[(g["txType"],)] += n
        type_bytes[(g["txType"],)] += g["bytes"]
        srcs = g["sources"] or []
        for s in srcs:
            by_source[(s,)] += n
            source_inc[(s, inc)] += n
        if len(srcs) == 1:
            exclusive[(srcs[0], inc)] += n
    firsts = [g["first_ts"] for g in groups if g["first_ts"] is not None]
    lasts = [g["last_ts"] for g in groups if g["last_ts"] is not None]
    first, last = min(firsts, default=None), max(lasts, default=None)
    by_source_rows = _rows(by_source, ("source", "n"))
    return AnalyzerResult(
        n_unique=sum(included.values()),
        included=_rows(included, ("included", "n")),
        by_txtype=[
            Row(txType=k[0], n=n, bytes=type_bytes[k])
            for k, n in sorted(by_type.items(), key=lambda kv: _asc(kv[0]))
        ],
        by_source=by_source_rows,
        source_inclusion=_rows(source_inc, ("source", "included", "n")),
        exclusive=_rows(exclusive, ("source", "included", "n")),
        span=[
            Row(
                first_ts=first,
                last_ts=last,
                duration_ms=None if first is None else last - first,
            )
        ],
        distinct=[
            Row(
                sources=[r["source"] for r in by_source_rows],
                tx_types=sorted(k[0] for k in by_type if k[0] is not None),
            )
        ],
    )


def _go_pct(a: int, b: int) -> str:
    """Int64DiffPercentFmt(a, b, 1): floor to 1 decimal then %.1f%%
    (reference common/utils.go:97-122 — roundFloat is math.Floor)."""
    import math

    f = (a / b) if b else 0.0
    return f"{math.floor(f * 100 * 10) / 10:.1f}%"


def _go_duration(total_s: int) -> str:
    """FmtDuration (reference common/utils.go:169-176): Go Duration.String()
    rounded to seconds with spaces after h/m — '8h 3m 4s', '3m 4s', '59s'.
    Go includes zero middle units ('1h 0m 5s') but drops leading ones."""
    h, rem = divmod(total_s, 3600)
    m, s = divmod(rem, 60)
    if h:
        return f"{h}h {m}m {s}s"
    if m:
        return f"{m}m {s}s"
    return f"{s}s"


def _md_table(headers: list[str], rows: list[list[str]]) -> str:
    """tablewriter with SetupMarkdownTableWriter (reference
    common/utils.go:178-181): left/right borders, '|' separators, headers
    auto-formatted to upper case and centered; numeric-looking cells
    right-aligned, others left-aligned; one space of padding per side."""
    heads = [h.upper() for h in headers]
    widths = [
        max(len(heads[i]), *(len(r[i]) for r in rows)) if rows else len(heads[i])
        for i in range(len(heads))
    ]
    is_num = lambda s: s.strip().replace(",", "").replace(".", "").isdigit()

    def center(s: str, w: int) -> str:
        pad = w - len(s)
        left = pad // 2
        return " " * left + s + " " * (pad - left)

    out = "|" + "|".join(f" {center(h, w)} " for h, w in zip(heads, widths)) + "|\n"
    out += "|" + "|".join("-" * (w + 2) for w in widths) + "|\n"
    for r in rows:
        cells = [
            f" {c.rjust(w) if is_num(c) else c.ljust(w)} "
            for c, w in zip(r, widths)
        ]
        out += "|" + "|".join(cells) + "|\n"
    return out


def sprint_summary(r: AnalyzerResult, with_sourcelog: bool = True) -> str:
    """Byte-compatible rendering of the reference's daily summary.txt
    (Analyzer2.Sprint, common/analyzer.go:156-213), including:

    - English thousands separators and %10d field widths (Printer.Sprintf);
    - floor-rounded percentages at 1 decimal in a %5s field;
    - the trailing space before every newline that fmt.Sprintf(\"... \\n\")
      leaves behind;
    - the duration line only when != '23h 59m 59s' (a full day);
    - the reference's index-vs-value loop quirk (analyzer.go:203-204 ranges
      over txTypes INDICES, so row labels are 0..len-1 and counts are looked
      up by index — byte-identical only because real data has contiguous
      types 0..3, and reproduced verbatim here for parity).

    The markdown table is rendered per tablewriter's documented behavior
    (_md_table docstring) — the one section not specified by fmt strings
    alone.
    """
    import datetime as dt

    span = r.span[0] if r.span else None
    first_s = int((span["first_ts"] or 0) // 1000) if span else 0
    last_s = int((span["last_ts"] or 0) // 1000) if span else 0
    t_first = dt.datetime.fromtimestamp(first_s, dt.timezone.utc)
    t_last = dt.datetime.fromtimestamp(last_s, dt.timezone.utc)

    out = "[Mempool Dumpster](https://mempool-dumpster.flashbots.net)\n"
    out += "==========================================================\n"
    out += "\n"
    date_str = t_first.strftime("%Y-%m-%d")
    day_last = t_last.strftime("%Y-%m-%d")
    if date_str != day_last:
        date_str += " - " + day_last
    out += f"Date: {date_str} \n"
    out += "\n"
    out += f"- From: {t_first.strftime('%Y-%m-%d %H:%M:%S')} UTC \n"
    out += f"- To:   {t_last.strftime('%Y-%m-%d %H:%M:%S')} UTC \n"
    dur = _go_duration(last_s - first_s)
    if dur != "23h 59m 59s":
        out += f"- ({dur}) \n"
    out += "\n"

    inc = {row["included"]: row["n"] for row in r.included}
    n_inc = inc.get(True, 0)
    n_not = inc.get(False, 0)
    out += f"Unique transactions: {r.n_unique:>10,} \n"
    out += "\n"
    out += f"- Included on-chain: {n_inc:>10,} ({_go_pct(n_inc, r.n_unique):>5}) \n"
    out += f"- Not included:      {n_not:>10,} ({_go_pct(n_not, r.n_unique):>5}) \n"
    if not with_sourcelog:
        return out
    out += "\n"
    out += "-----------------\n"
    out += "Transaction Stats\n"
    out += "-----------------\n"
    out += "\n"
    counts = {row["txType"]: row["n"] for row in r.by_txtype}
    rows = [
        [str(i), f"{counts.get(i, 0):>10,} ({_go_pct(counts.get(i, 0), r.n_unique):>5})"]
        for i in range(len(counts))  # index-loop quirk, see docstring
    ]
    out += _md_table(["Tx Type", "Count"], rows)
    return out


def render_report(r: AnalyzerResult) -> str:
    """Markdown summary in the shape of the reference's published daily
    summary.txt (README.md:144-160)."""
    lines = []
    span = r.span[0] if r.span else None
    if span and span["first_ts"] is not None:
        lines.append(
            f"From: {span['first_ts']}  To: {span['last_ts']}  "
            f"Duration: {span['duration_ms']} ms"
        )
    lines.append("")
    lines.append(f"Unique transactions: {r.n_unique:,}")
    inc = {row["included"]: row["n"] for row in r.included}
    n_inc = inc.get(True, 0)
    if r.n_unique:
        pct = int(n_inc / r.n_unique * 1000) / 10  # floor semantics (P10)
        lines.append(f"Included on-chain: {n_inc:,} ({pct}%)")
    lines.append("")
    lines.append("Transactions by type:")
    for row in r.by_txtype:
        lines.append(
            f"  type {row['txType']}: {row['n']:,} txs, "
            f"{human_bytes(row['bytes'] or 0)}"
        )
    lines.append("")
    lines.append("Transactions by source:")
    for row in r.by_source:
        lines.append(f"  {row['source']}: {row['n']:,}")
    if r.exclusive:
        lines.append("")
        lines.append("Exclusive orderflow (single-source txs):")
        for row in r.exclusive:
            flag = "included" if row["included"] else "not included"
            lines.append(f"  {row['source']} ({flag}): {row['n']:,}")
    return "\n".join(lines) + "\n"
