"""The package surface the frozen benchmark calls still exists.

Parses every ``perfbench/*.py`` with ``ast``. Each ``from doc_parser_spark...
import`` and ``from tools... import``, at module level or inside a
function, must resolve to an existing name, and each call in that file to
a name imported that way must bind to the callee's signature with the
written positional count and keyword names. Calls that splat ``*``/``**``
are skipped. This covers calls that only a traced run reaches (the
incremental curation layers), so a renamed parameter fails here instead of
in the benchmark. No Spark session is needed.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PREFIXES = ("doc_parser_spark", "tools")


def _imports(tree: ast.AST) -> dict[str, object]:
    """Local name -> object for every package/tools ``from`` import."""
    names = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module.split(".")[0] in PREFIXES
        ):
            module = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(module, alias.name), (
                    f"{node.module} has no {alias.name}"
                )
                names[alias.asname or alias.name] = getattr(module, alias.name)
    return names


def _calls(path: Path) -> list[tuple[str, object, ast.Call]]:
    tree = ast.parse(path.read_text(), str(path))
    names = _imports(tree)
    return [
        (node.func.id, names[node.func.id], node)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in names
    ]


FILES = sorted((ROOT / "perfbench").glob("*.py"))


@pytest.mark.parametrize("path", FILES, ids=[p.name for p in FILES])
def test_perfbench_calls_bind(path):
    for name, obj, call in _calls(path):
        if any(isinstance(a, ast.Starred) for a in call.args) or any(
            k.arg is None for k in call.keywords
        ):
            continue
        try:
            inspect.signature(obj).bind(
                *[None] * len(call.args), **{k.arg: None for k in call.keywords}
            )
        except TypeError as e:
            pytest.fail(f"{path.name}:{call.lineno} {name}(...): {e}")


def test_the_traced_curation_calls_are_checked():
    called = {name for name, _, _ in _calls(ROOT / "perfbench/curate_layers.py")}
    assert {"curate_ingest", "_extract_gate", "dedup_incremental_indexed",
            "lsh_candidate_pairs", "chunk_turns"} <= called
