"""Directory-of-files ingestion: the reference's primary UX, Spark-first.

The reference converts paths/directories through ``DocumentConverter``
(/root/reference/docling/document_converter.py:221,285 ``convert_all``:
format detection → backend dispatch → per-document status envelope).
Here the same surface is a DataFrame pipeline over Spark's built-in
``binaryFile`` source: each file is one row (path, length, modification
time, content), scan parallelism comes from file splits, and routing +
extraction run in one ``operators/extract.py::map_rows`` crossing (one
``mapInArrow``, sliced Arrow batches) on the scan partitions — file bytes
never ride a shuffle, and ``spark.sql.files.maxPartitionBytes`` bounds
per-task memory exactly like the transcript pipeline.

Routing (content sniff, never extensions — document.py:306-506's
mime-by-content idea):

- ``%PDF``            → the real from-scratch PDF decoder (B4 path)
- ``PK`` zip          → docx / xlsx / pptx / hwpx extractors
- image/audio/video magics → typed media row (kind + decode status; the
  reference routes these to OCR/ASR pipelines, which are NN/out of scope —
  feature extraction is available separately via operators/multimodal)
- anything that decodes as text → the transcript router (html / markdown /
  csv / asciidoc / jats / uspto / plain ...)
- undecodable binary  → ``skipped``

Every failure lands as a status row (the base_pipeline.py:219-232 error
envelope) — a poison file can never kill the job.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doc_parser_spark.datamodel import (
    SPAN_SCHEMA,
    STATUS_FAILURE,
    STATUS_SKIPPED,
    STATUS_SUCCESS,
)
from doc_parser_spark.operators.extract import map_rows

# the binaryFile source's fixed schema — needed explicitly for readStream
# (streaming file sources refuse inference)
BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("modificationTime", T.TimestampType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ]
)

CONVERTED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), True),
        T.StructField("parse_status", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("_proc_us", T.LongType(), False),
    ]
)

_IMAGE_MAGICS = (b"\x89PNG", b"BM", b"\xff\xd8", b"GIF8", b"II*\x00",
                 b"MM\x00*")


def _sniff_binary(payload: bytes) -> str | None:
    """Binary container kind, or None for text-or-unknown."""
    from doc_parser_spark.functions.media_decode import is_mp3, is_webp

    if payload[:5] == b"%PDF-":
        return "pdf"
    if payload[:2] == b"PK":
        return "zip"
    if any(payload[: len(m)] == m for m in _IMAGE_MAGICS) or is_webp(payload):
        return "image"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "video"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "audio"
    if len(payload) >= 8 and payload[4:8] in (b"ftyp", b"moov"):
        return "video"
    if is_mp3(payload):
        return "audio"
    return None


def _convert_one(path: str, payload: bytes) -> tuple:
    """(path, bytes) → one CONVERTED_SCHEMA row (python tuple)."""
    from doc_parser_spark.functions.pdfish_extract import extract_pdfish
    from doc_parser_spark.operators.extract import _extract_one
    from doc_parser_spark.operators.office import extract_office
    from doc_parser_spark.sources.sniff import sniff_text

    t0 = time.perf_counter_ns()

    def row(kind, ct, text, spans, status):
        us = (time.perf_counter_ns() - t0) // 1000
        return (path, kind, ct, text, spans, status, len(payload), us)

    binkind = _sniff_binary(payload)
    if binkind == "pdf":
        try:
            text, spans = extract_pdfish(payload)
            return row("document", "pdf", text, spans, STATUS_SUCCESS)
        except Exception:
            return row("document", "pdf", None, None, STATUS_FAILURE)
    if binkind == "zip":
        kind, text, spans, status = extract_office(payload)
        if kind == "unknown":
            return row("binary", None, None, None, STATUS_SKIPPED)
        return row("document", kind, text, spans, status)
    if binkind in ("image", "audio", "video"):
        # media routes to feature extraction (operators/multimodal), not
        # text extraction — the reference hands these to OCR/ASR models
        return row(binkind, binkind, None, None, STATUS_SKIPPED)

    try:
        text_payload = payload.decode("utf-8")
    except UnicodeDecodeError:
        try:
            text_payload = payload.decode("latin-1")
        except Exception:  # pragma: no cover - latin-1 cannot fail
            return row("binary", None, None, None, STATUS_SKIPPED)
    ct = sniff_text(text_payload)
    text, spans, status = _extract_one(ct, text_payload, "reference")
    return row("document", ct, text, spans, status)


def convert_files(
    files: DataFrame,
    path_col: str = "path",
    content_col: str = "content",
    max_bytes: int = 512 * 1024 * 1024,
    rebalance: int | None = None,
) -> DataFrame:
    """binaryFile rows → converted documents (CONVERTED_SCHEMA).

    Each file is one row of ``map_rows``, which reads the Arrow batch in
    small slices so a directory of large files cannot blow one task's
    memory (R1 batching analog). Files over ``max_bytes`` get a
    ``skipped`` row — the S2 InputDocument size limit (reference
    document.py:116-206: over-limit inputs convert to a failure envelope,
    never an attempt): one multi-GB stray on a 100-TB crawl must cost one
    status row, not an executor OOM.

    ``rebalance``: optional round-robin repartition of the file ROWS before
    the parse. Spark's scan packs files into tasks by BYTES (size-desc
    first-fit), but decode cost is not proportional to bytes — a directory
    where the CPU-heavy format (multi-page PDFs) is also the largest gets
    ALL its expensive files co-located into a few tasks (measured: 300
    80-page PDFs among 18k small files → one 18 s straggler task, wall
    62 s; rebalance=1024 → max task 4.6 s, wall 41 s; docs/SCALE.md
    round 5). The exchange moves raw file bytes once — worth it exactly
    when per-file CPU dominates the byte volume; leave None for
    byte-bound mixes, keeping the zero-exchange plan.

    The size guard is enforced BEFORE the content is read: when the input
    carries the binaryFile ``length`` column, the over-limit branch selects
    only (path, length) — column pruning means the scan never materializes
    those bytes (and a >2 GB file, which the binaryFile source cannot read
    at all, still costs one status row instead of a task failure) — while
    the under-limit branch filters on ``length`` at the scan so the
    predicate pushes down. The in-task payload check stays as a backstop
    for inputs without a trustworthy length column."""

    def skipped_row(path, n_bytes):
        return [(path, "binary", None, None, None, STATUS_SKIPPED, n_bytes, 0)]

    if "length" in files.columns:
        skipped = map_rows(
            files.filter(F.col("length") > max_bytes)
            .select(path_col, "length"),  # content pruned: bytes never read
            skipped_row,
            CONVERTED_SCHEMA,
        )
        converted = convert_files(
            files.filter(F.col("length") <= max_bytes).drop("length"),
            path_col, content_col, max_bytes, rebalance,
        )
        return converted.unionByName(skipped)

    if rebalance:
        files = files.repartition(rebalance)

    def row(path, content):
        payload = content or b""
        if len(payload) > max_bytes:
            return skipped_row(path, len(payload))
        return [_convert_one(path, payload)]

    return map_rows(files.select(path_col, content_col), row, CONVERTED_SCHEMA)


def read_documents_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Directory → binaryFile DataFrame (path, modificationTime, length,
    content). ``glob`` pushes down as pathGlobFilter, so non-matching
    files are pruned at the listing, not read."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.option("recursiveFileLookup", "true").load(path)


def read_documents_stream(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Streaming twin of ``read_documents_dir``: new files arriving under
    ``path`` become micro-batches (the continuous-ingestion shape);
    ``convert_files`` composes unchanged on the result."""
    reader = spark.readStream.format("binaryFile").schema(BINARY_FILE_SCHEMA)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.option("recursiveFileLookup", "true").load(path)


def convert_directory(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """The ``DocumentConverter.convert_all`` analog: one call from a
    directory to a DataFrame of converted documents, one row per listed
    file. Spark splits a file into ``[0, length)`` ranges, so its scan
    yields no row for a zero-length file that its file index lists; those
    files get their (``empty``, ``skipped``) rows from the driver. Their
    lengths and paths come from the listing that index already holds: no
    file-system call, no byte read, and the path is the one the scan's
    ``path`` column would carry."""
    files = read_documents_dir(spark, path, glob)
    converted = convert_files(files)
    listed = files._jdf.queryExecution().analyzed().relation().location()
    empty = [
        _convert_one(s.getPath().toString(), b"")
        for s in spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            listed.allFiles()
        )
        if s.getLen() == 0
    ]
    if not empty:
        return converted
    return converted.unionByName(spark.createDataFrame(empty, CONVERTED_SCHEMA))
