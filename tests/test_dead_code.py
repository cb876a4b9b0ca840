"""No dead public functions: every public top-level function in the package
is named somewhere besides its own definition — in the package, the tests,
the tools or bench.py. A plain word scan, no allowlist."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "mempool_dumpster_spark"


def test_no_unreferenced_public_functions():
    files = [
        *PKG.rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        ROOT / "bench.py",
    ]
    words = Counter()
    for f in files:
        words.update(re.findall(r"\w+", f.read_text()))
    dead = [
        f"{f.relative_to(ROOT)}:{node.lineno} {node.name}"
        for f in sorted(PKG.rglob("*.py"))
        for node in ast.parse(f.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
        and words[node.name] <= 1
    ]
    assert not dead, dead
