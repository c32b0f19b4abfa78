"""The soak tools run each phase as a Python program built from a string
template (``GEN``, ``STREAM``, ``JOB``, ``VERIFY``) in a fresh subprocess,
so an error in a template — or a template naming a package function that
no longer exists — shows up only in a multi-minute soak. Here every
template is formatted with dummy arguments and compiled, and every
package name it imports must still resolve. No Spark session is started."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
import string

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")

# tool -> the templates it must define (discovery below must find these)
EXPECTED = {
    "stream_kill_soak": {"GEN", "STREAM", "VERIFY"},
    "kill_resume_soak": {"JOB", "VERIFY"},
}


def _load(tool: str):
    spec = importlib.util.spec_from_file_location(
        f"_soak_{tool}", os.path.join(TOOLS, f"{tool}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _templates(mod) -> dict[str, str]:
    """Module-level upper-case string constants that hold a program."""
    return {
        name: v
        for name, v in vars(mod).items()
        if name.isupper() and isinstance(v, str) and "import " in v
    }


def _format(template: str) -> str:
    """Fill every field: ``{x!r}`` fields are paths, bare ``{x}`` fields
    are counts (``range({n_files})``)."""
    args = {
        field: f"/dummy/{field}" if conv == "r" else 1
        for _, field, _, conv in string.Formatter().parse(template)
        if field
    }
    return template.format(**args)


def _package_imports(code: str) -> list[tuple[str, str]]:
    return [
        (node.module, alias.name)
        for node in ast.walk(ast.parse(code))
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").startswith("doc_parser_spark")
        for alias in node.names
    ]


@pytest.mark.parametrize("tool", sorted(EXPECTED))
def test_templates_compile_and_name_live_functions(tool):
    templates = _templates(_load(tool))
    assert EXPECTED[tool] <= set(templates)
    for name, template in templates.items():
        code = _format(template)
        compile(code, f"{tool}.{name}", "exec")
        imports = _package_imports(code)
        for module, attr in imports:
            assert hasattr(importlib.import_module(module), attr), (
                f"{tool}.{name} imports {module}.{attr}, which is gone"
            )
        if "readStream" in code or "foreachBatch" in code:
            # a streaming entry point must drive a function the streaming
            # module still exports
            assert any(
                m == "doc_parser_spark.streaming.stream" for m, _ in imports
            ), f"{tool}.{name} streams without the streaming module"

