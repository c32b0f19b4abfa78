"""COVERAGE.md names only code that exists.

Every ``(functions|operators|sources|streaming|plans)/x.py`` path the
coverage matrix names must be a package module, and every
``x.py::name`` must be a top-level definition or assignment in it. A row
that points at deleted code reads as live coverage. No Spark session is
needed.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "doc_parser_spark"
REF = re.compile(
    r"\b((?:functions|operators|sources|streaming|plans)/\w+\.py)"
    r"(?:::(\w+))?"
)


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [
                node.target
            ]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def test_coverage_names_existing_code():
    text = (ROOT / "COVERAGE.md").read_text()
    refs = set(REF.findall(text))
    assert refs, "the pattern no longer matches COVERAGE.md's paths"
    missing = sorted(
        f"{path}::{name}" if name else path
        for path, name in refs
        if not (PKG / path).is_file()
        or (name and name not in _top_level_names(PKG / path))
    )
    assert missing == [], f"COVERAGE.md names missing code: {missing}"
