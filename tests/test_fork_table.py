"""Every fork point has a measured reason in docs/SCALE.md.

Each ``fork(`` call in the package, named by its module and enclosing
top-level function, must have one row in the "Fork points" table of
docs/SCALE.md, and every row must name a live call site: a fork added
without a measured row, or deleted with its row left behind, fails here.
No Spark session is needed.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "doc_parser_spark"
ROW = re.compile(r"^\| `(\w+(?:/\w+)*\.py)::(\w+)` \|")


def _fork_sites() -> Counter:
    sites: Counter = Counter()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for top in ast.parse(path.read_text()).body:
            if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "fork"
                ):
                    sites[f"{rel}::{top.name}"] += 1
    return sites


def _table_rows() -> Counter:
    text = (ROOT / "docs" / "SCALE.md").read_text()
    section = text.split("\n## Fork points", 1)[1].split("\n## ", 1)[0]
    return Counter(
        f"{m.group(1)}::{m.group(2)}"
        for m in map(ROW.match, section.splitlines())
        if m
    )


def test_every_fork_site_has_one_measured_row():
    sites, rows = _fork_sites(), _table_rows()
    assert sites, "no fork( call found: the pattern no longer matches"
    missing = sorted((sites - rows).elements())
    stale = sorted((rows - sites).elements())
    assert missing == [], f"fork sites without a docs/SCALE.md row: {missing}"
    assert stale == [], f"docs/SCALE.md rows naming no fork site: {stale}"
