"""The Python-worker daemon that ``session.get_spark`` starts on every
executor (``spark.python.daemon.module``).

pyspark forks every Python worker from one daemon process per executor.
This one does the workers' shared start-up work once before the first
fork: it installs the package's lazy zip-cache invalidation, imports
pyarrow, pandas and every package module that ships a function to the
workers, and freezes the garbage collector's view of that heap. Each
forked worker then shares those pages copy-on-write, and no task imports
them again.

The freeze matters because pyspark's daemon runs ``gc.collect()`` after
every task of a reused worker. A collection walks every tracked object and
writes its header, so without the freeze each worker soon holds a private
copy of the whole inherited heap. ``gc.freeze()`` moves the preloaded
objects into the permanent generation, which collections skip.

Run as ``python -m doc_parser_spark.daemon``: the package ``__init__``
runs before ``pyspark.worker`` is imported, so its worker guard does not
fire and the daemon installs the zip fix itself.
"""

import gc
import importlib

import doc_parser_spark

# the package modules whose functions run in Python workers: those that call
# ``map_rows``, ``mapInArrow`` or ``mapInPandas``. ``plans/`` is left out:
# its row functions are pickled by value, and what they name lives elsewhere
PRELOAD = (
    "pyarrow",
    "pandas",
    "doc_parser_spark.operators.chunking",
    "doc_parser_spark.operators.extract",
    "doc_parser_spark.operators.multimodal",
    "doc_parser_spark.operators.office",
    "doc_parser_spark.operators.similarity",
    "doc_parser_spark.sources.files",
)


def main() -> None:
    doc_parser_spark.install_lazy_zip_invalidation()
    for name in PRELOAD:
        importlib.import_module(name)
    from pyspark import daemon  # imports pyspark.worker

    # each cached zipimporter records its archive's (mtime, size) here, so
    # a forked worker's first task re-reads no archive
    importlib.invalidate_caches()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
