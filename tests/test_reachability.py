"""Every package module is reached from an entry point.

Walks the ``doc_parser_spark`` imports with ``ast`` (absolute, relative
and function-local imports, followed transitively) from the scripts that
run the package: ``__spark_entry__.py``, ``bench.py``, ``tools/*.py`` and
``perfbench/*.py``, plus the Python-worker daemon that ``session.py`` names
in its ``spark.python.daemon.module`` setting (Spark starts it by name; no
import reaches it). A module that none of them reaches is code only its
own tests keep alive; it is either deleted or listed in ``KEPT`` with the
reason it stays. No Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "doc_parser_spark"

KEPT = {
    "doc_parser_spark.sources.files":
        "directory-ingestion entry point (read_documents_dir/convert_files)",
    "doc_parser_spark.functions.export_tree_md":
        "reference-parity markdown export of the office/JATS/USPTO trees",
}


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


def _reached(mods: dict) -> set[str]:
    entries = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    entries += sorted((ROOT / "tools").glob("*.py"))
    entries += sorted((ROOT / "perfbench").glob("*.py"))
    todo = _daemon_modules()
    for path in entries:
        todo |= _imported(path, None, mods)
    seen = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo |= _imported(mods[name], name, mods) - seen
    return seen


def test_every_package_module_is_reached_or_kept():
    mods = _package_modules()
    unreached = sorted(set(mods) - _reached(mods) - set(KEPT))
    assert unreached == [], (
        f"package modules no entry point imports: {unreached}; delete "
        f"them or list them in KEPT with the reason they stay"
    )


def test_kept_modules_exist():
    assert set(KEPT) <= set(_package_modules())
