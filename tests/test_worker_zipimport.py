"""Lazy zip-cache invalidation in Python workers (``doc_parser_spark/__init__``).

pyspark's worker calls ``importlib.invalidate_caches()`` at every task
start; on CPython < 3.12 every cached zipimporter then re-reads its whole
archive directory. ``install_lazy_zip_invalidation`` installs a
``zipimporter.invalidate_caches`` that re-reads only an archive whose
(mtime, size) changed. The worker daemon calls it before its first fork,
and the package import calls it inside any other worker.
"""

from __future__ import annotations

import importlib
import sys
import types
import zipfile
import zipimport

import pyarrow as pa

import doc_parser_spark


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _install(monkeypatch) -> None:
    """Install the fix as on CPython 3.11; the stock ``invalidate_caches``
    comes back at teardown."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 11, 7))
        doc_parser_spark.install_lazy_zip_invalidation()


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"dps_zipmod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("dps_zipmod_a").VALUE == 1
        _install(monkeypatch)
        assert (
            zipimport.zipimporter.invalidate_caches
            is doc_parser_spark._zip_invalidate_caches
        )

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()  # stamps each importer
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert [p for p in reads if p == str(archive)] == []

        # a rewritten archive is re-read, and its new module imports
        _write_zip(
            archive, {"dps_zipmod_a": "VALUE = 1\n", "dps_zipmod_b": "VALUE = 2\n"}
        )
        importlib.invalidate_caches()
        assert str(archive) in reads
        assert importlib.import_module("dps_zipmod_b").VALUE == 2
    finally:
        sys.modules.pop("dps_zipmod_a", None)
        sys.modules.pop("dps_zipmod_b", None)


def test_package_import_in_a_worker_installs_it(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setitem(
        sys.modules, "pyspark.worker", types.ModuleType("pyspark.worker")
    )
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 11, 7))
        importlib.reload(doc_parser_spark)
    assert (
        zipimport.zipimporter.invalidate_caches
        is doc_parser_spark._zip_invalidate_caches
    )


def test_outside_a_worker_keeps_stock_invalidation(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    importlib.reload(doc_parser_spark)
    assert zipimport.zipimporter.invalidate_caches is stock


def test_python_worker_installs_it(spark):
    def report(batches):
        import sys
        import zipimport

        import doc_parser_spark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "installed": [
                zipimport.zipimporter.invalidate_caches
                is doc_parser_spark._zip_invalidate_caches
            ],
            "lazy_builtin": [sys.version_info >= (3, 12)],
        })

    job = spark.range(1, numPartitions=1).mapInArrow(
        report, schema="installed boolean, lazy_builtin boolean"
    )
    job.collect()  # warm task: the worker has imported the package
    row = job.collect()[0]
    assert row.installed != row.lazy_builtin
