"""Only `plans/tables.py:load_tables` writes to the session catalog: no
other module names an intermediate frame as a temp view. Dropping a temp
view uncaches its plan, so a named intermediate silently loses its
.cache(); PySpark's `spark.sql(..., name=df)` formatter drops its views
the same way. A plain text scan, no allowlist beyond the base-table
loader."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "mempool_dumpster_spark"
LOADER = PKG / "plans" / "tables.py"

CATALOG_WRITE = re.compile(
    r"\b(?:createOrReplace(?:Global)?TempView|create(?:Global)?TempView"
    r"|drop(?:Global)?TempView|registerTempTable)\b"
)


def test_only_load_tables_writes_the_catalog():
    hits = [
        f"{f.relative_to(ROOT)}:{n} {m.group(0)}"
        for f in sorted(PKG.rglob("*.py"))
        if f != LOADER
        for n, line in enumerate(f.read_text().splitlines(), 1)
        for m in CATALOG_WRITE.finditer(line)
    ]
    assert not hits, hits


def test_no_formatter_views_in_sql_calls():
    """`spark.sql(query, name=df)` registers (and drops) a temp view per
    keyword; only `args=` (parameter markers) is allowed."""
    hits = [
        f"{f.relative_to(ROOT)}:{node.lineno}"
        for f in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "sql"
        and any(k.arg != "args" for k in node.keywords)
    ]
    assert not hits, hits
