"""The payload operators share one Python crossing.

Every per-row payload kernel (office, media, chunking, directory ingestion,
contract payload builders) is a row function over
``operators/extract.py::map_rows``, one ``mapInArrow`` with no pandas frame.
This test fails when a ``mapInPandas`` crossing reappears in the package
outside the listed exceptions. No Spark session is needed.
"""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "doc_parser_spark"

ALLOWED = {
    "operators/similarity.py":
        "yields numpy column blocks of candidate pairs, not rows",
}


def test_map_in_pandas_only_where_allowed():
    found = sorted(
        path.relative_to(PKG).as_posix()
        for path in PKG.rglob("*.py")
        if ".mapInPandas(" in path.read_text()
    )
    assert [p for p in found if p not in ALLOWED] == [], (
        "per-row payload kernels go through operators/extract.py::map_rows"
    )


def test_allowed_files_still_use_it():
    for rel in ALLOWED:
        assert ".mapInPandas(" in (PKG / rel).read_text(), rel
