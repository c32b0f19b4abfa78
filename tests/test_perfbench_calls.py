"""The package surface the frozen callers use still exists.

The frozen callers are the scripts that run the package: ``perfbench/*.py``,
``bench.py``, ``__spark_entry__.py`` and ``tools/*.py``, together with the
child programs the soak tools embed in upper-case string constants (their
``{field}`` placeholders filled with a dummy value). Each is parsed with
``ast``. Each ``from doc_parser_spark... import`` and ``from tools...
import``, at module level or inside a function, must resolve to an existing
name, and each call in that file to a name imported that way must bind to
the callee's signature with the written positional count and keyword
names. Calls that splat ``*``/``**`` are skipped. This covers calls that
only a traced run or a soak reaches (the incremental curation layers, the
kill/resume jobs), so a renamed or removed parameter fails here instead of
in the script. No Spark session is needed.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import re
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


def _programs(path: Path) -> list[ast.AST]:
    """The file's tree, plus one per embedded child program."""
    tree = ast.parse(path.read_text(), str(path))
    trees = [tree]
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and all(isinstance(t, ast.Name) and t.id.isupper()
                    for t in node.targets)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
            and "import " in node.value.value
        ):
            code = re.sub(r"\{[^{}]*\}", "0", node.value.value)
            trees.append(ast.parse(code, f"{path}:{node.targets[0].id}"))
    return trees


def _calls(path: Path) -> list[tuple[str, object, ast.Call]]:
    calls = []
    for tree in _programs(path):
        names = _imports(tree)
        calls += [
            (node.func.id, names[node.func.id], node)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in names
        ]
    return calls


def _assert_calls_bind(path: Path) -> None:
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


FILES = sorted((ROOT / "perfbench").glob("*.py"))
SCRIPTS = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
SCRIPTS += sorted((ROOT / "tools").glob("*.py"))


@pytest.mark.parametrize("path", FILES, ids=[p.name for p in FILES])
def test_perfbench_calls_bind(path):
    _assert_calls_bind(path)


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[str(p.relative_to(ROOT)) for p in SCRIPTS]
)
def test_script_calls_bind(path):
    _assert_calls_bind(path)


def test_the_soak_jobs_are_checked():
    def called(tool):
        return {name for name, _, _ in _calls(ROOT / "tools" / tool)}

    assert "run_extraction_job" in called("kill_resume_soak.py")
    assert {"dedup_incremental_stream_indexed", "dedup_index"} <= called(
        "stream_kill_soak.py"
    )


def test_the_traced_curation_calls_are_checked():
    called = {name for name, _, _ in _calls(ROOT / "perfbench/curate_layers.py")}
    assert {"curate_ingest", "_extract_gate", "dedup_incremental_indexed",
            "lsh_candidate_pairs", "chunk_turns"} <= called
