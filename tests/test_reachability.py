"""Every package module, function and class is reached from an entry point.

The entry points are the scripts that run the package:
``__spark_entry__.py``, ``bench.py``, ``tools/*.py`` and ``perfbench/*.py``,
plus the Python-worker daemon that ``session.py`` names in its
``spark.python.daemon.module`` setting (Spark starts it by name; no import
reaches it).

Modules: the ``doc_parser_spark`` imports are walked with ``ast``
(absolute, relative and function-local imports, followed transitively).

Functions and classes: the identifiers (``Name``, ``Attribute`` and import
``alias`` nodes) of the entry points are followed by name through the
bodies of the package's top-level ``def``/``class`` nodes, transitively.
The package's module-level statements (``_REGISTRY``, ``ORACLES``, the
``__main__`` blocks) count as entry points too, since importing a module
runs them. Identifier-shaped words in string constants count as well: the
soak tools embed their child programs in strings. Docstrings do not count.
A kept definition keeps what it names alive. The match is by name alone,
so a reached name keeps every top-level definition of that name alive.

Whatever none of them reaches is code only its own tests keep alive; it
is either deleted or listed in ``KEPT`` (a module, or ``module.name``)
with the reason it stays. No Spark session is needed.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "doc_parser_spark"

KEPT = {
    "doc_parser_spark.sources.files":
        "directory-ingestion entry point (read_documents_dir/convert_files)",
    "doc_parser_spark.functions.export_tree_md":
        "reference-parity markdown export of the office/JATS/USPTO trees",
    "doc_parser_spark.functions.htmldom.parse_html_stdlib":
        "the html.parser reference that test_htmldom_equiv compares against",
    "doc_parser_spark.operators.multimodal.synth_media":
        "test-data generator for the media operators",
    "doc_parser_spark.sources.synth_media.build_bmp":
        "test-data generator for the BMP decoder",
    "doc_parser_spark.plans.pipeline.read_metrics":
        "reader of the committed per-bucket metrics table",
    "doc_parser_spark.streaming.stream.run_stream_to_parquet":
        "the streaming extraction job",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported(path: Path, modname: str | None, mods: dict) -> set[str]:
    """Package modules that ``path`` imports anywhere in its body."""
    if modname is None:
        package = None
    elif path.name == "__init__.py":
        package = modname
    else:
        package = modname.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if package is None:
                    continue
                base = package.split(".")
                base = base[: len(base) - node.level + 1]
                base = ".".join(base + ([node.module] if node.module else []))
            else:
                base = node.module
            # ``from pkg import name`` may name a submodule
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            parts = name.split(".")
            for k in range(1, len(parts) + 1):
                prefix = ".".join(parts[:k])
                if prefix in mods:
                    found.add(prefix)
    return found


def _daemon_modules() -> set[str]:
    """The modules ``session.py`` sets as ``spark.python.daemon.module``."""
    tree = ast.parse((ROOT / PKG / "session.py").read_text())
    return {
        node.args[1].value
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and len(node.args) == 2
        and all(isinstance(a, ast.Constant) for a in node.args)
        and node.args[0].value == "spark.python.daemon.module"
    }


def _entry_scripts() -> list[Path]:
    entries = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    entries += sorted((ROOT / "tools").glob("*.py"))
    entries += sorted((ROOT / "perfbench").glob("*.py"))
    return entries


def _reached(mods: dict) -> set[str]:
    todo = _daemon_modules()
    for path in _entry_scripts():
        todo |= _imported(path, None, mods)
    seen = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo |= _imported(mods[name], name, mods) - seen
    return seen


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants of the module, defs and classes."""
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                ids.add(id(body[0].value))
    return ids


def _identifiers(node: ast.AST, skip: set[int]) -> set[str]:
    """Every name ``node`` uses: names, attributes, import aliases and the
    identifier-shaped words of its (non-docstring) string constants."""
    found = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            found.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            found.add(sub.attr)
        elif isinstance(sub, ast.alias):
            found.add(sub.name.rpartition(".")[2])
            if sub.asname:
                found.add(sub.asname)
        elif (
            isinstance(sub, ast.Constant)
            and isinstance(sub.value, str)
            and id(sub) not in skip
        ):
            found.update(_WORD.findall(sub.value))
    return found


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _kept(qual: str) -> bool:
    """A kept definition, or one in a kept module (or the daemon)."""
    modname = qual.rpartition(".")[0]
    return qual in KEPT or modname in KEPT or modname in _daemon_modules()


def _unreached_definitions() -> set[str]:
    """``module.name`` of every top-level package def/class that no entry
    point reaches by name."""
    mods = _package_modules()
    names = set()
    for path in _entry_scripts():
        tree = ast.parse(path.read_text(), str(path))
        names |= _identifiers(tree, _docstrings(tree))
    defs: dict[str, list[tuple[str, ast.AST, set[int]]]] = {}
    for modname, path in mods.items():
        tree = ast.parse(path.read_text(), str(path))
        skip = _docstrings(tree)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((modname, stmt, skip))
            if not isinstance(stmt, _DEFS) or _kept(f"{modname}.{stmt.name}"):
                names |= _identifiers(stmt, skip)
    todo, seen = set(names), set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node, skip in defs.get(name, ()):
            todo |= _identifiers(node, skip) - seen
    return {
        f"{modname}.{name}"
        for name, entries in defs.items()
        if name not in seen
        for modname, _, _ in entries
    }


def test_every_package_module_is_reached_or_kept():
    mods = _package_modules()
    unreached = sorted(set(mods) - _reached(mods) - set(KEPT))
    assert unreached == [], (
        f"package modules no entry point imports: {unreached}; delete "
        f"them or list them in KEPT with the reason they stay"
    )


def test_every_package_function_is_reached_or_kept():
    unreached = sorted(q for q in _unreached_definitions() if not _kept(q))
    assert unreached == [], (
        f"package functions/classes no entry point reaches: {unreached}; "
        f"delete them or list them in KEPT with the reason they stay"
    )


def test_kept_modules_exist():
    """Every KEPT module, and every KEPT ``module.name`` definition."""
    mods = _package_modules()
    for entry in KEPT:
        if entry in mods:
            continue
        modname, _, name = entry.rpartition(".")
        assert modname in mods, f"KEPT names a missing module: {entry}"
        tree = ast.parse(mods[modname].read_text())
        assert any(
            isinstance(s, _DEFS) and s.name == name for s in tree.body
        ), f"KEPT names a missing definition: {entry}"
