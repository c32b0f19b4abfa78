"""doc_parser_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the extraction semantics of genonai/doc_parser (Docling fork +
GenOS preprocessor) as a columnar, Arrow-batched Spark pipeline over
transcript tables (conv_id, turn_idx, role, text, tool, ts).

Layout:
    functions/   pure-python extraction kernels (run inside Arrow UDF batches)
    sources/     content sniffing + synthetic transcript generation + readers
    operators/   Spark DataFrame operators (extract, chunk, dedup, similarity)
    plans/       end-to-end job assembly, metrics, checkpoint/resume
    streaming/   Structured Streaming variants
"""

import os
import sys
import zipimport

__version__ = "0.1.0"

_read_zip_directory = zipimport.zipimporter.invalidate_caches


def _zip_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive directory
    only when its (mtime, size) changed since this importer last read it.

    pyspark's worker calls ``importlib.invalidate_caches()`` at every task
    start; before CPython 3.12 (which made it lazy) each cached zipimporter
    then re-reads its whole archive — ~16 of them for ``pyspark.zip``, most
    of the ~0.25 s of CPU a trivial Python task costs.
    """
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _read_zip_directory(self)
        self._read_stamp = stamp


def install_lazy_zip_invalidation() -> None:
    """Make every zipimporter re-read its archive only when it changed
    (a no-op from CPython 3.12, whose invalidation is already lazy)."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _zip_invalidate_caches


# a worker forked from ``doc_parser_spark.daemon`` already has the fix; one
# started by another daemon (a session not built by ``session.get_spark``)
# gets it when it first unpickles one of this package's functions
if "pyspark.worker" in sys.modules:
    install_lazy_zip_invalidation()
