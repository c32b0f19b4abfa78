"""The extraction operator — Arrow-batched mapInArrow over transcript turns.

Spark-first design notes (SURVEY.md §3.4):

- routing: rows repartition on (conv_id, turn_idx) before the heavy parse —
  turn-level salting, so a single whale conversation (10^6 turns) spreads
  across the cluster instead of pinning one task (north-rule skew
  requirement). The content-type sniff runs INSIDE the extraction batch
  (one Python boundary crossing, not two — round 8). Extraction is
  per-turn, so no cross-row state is needed and the stage is
  embarrassingly parallel.
- per-row reliability: the reference's dual-converter fallback
  (/root/reference/genon/preprocessor/facade/intelligent_processor.py:1055-1069)
  becomes a per-row try/except chain inside the batch: primary extractor →
  plain-text fallback (partial_success) → failure row. A poison document
  never kills the task.
- the batch stays in Arrow: one per-row loop (scalar sniff, extraction,
  scoring) fills flat column lists that become one ``pa.RecordBatch`` —
  no pandas frame and no per-element struct conversion on either side.
- metrics: each output row carries ``_proc_us`` (its own extraction and
  scoring time) and ``_n_bytes`` so per-partition metrics (docs, bytes,
  failures, wall) are a pure relational aggregate afterwards — Spark
  accumulators are lossy under task retries (SURVEY.md §1.4).
"""

from __future__ import annotations

import time
from typing import Iterable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from doc_parser_spark.datamodel import (
    CT_ASCIIDOC,
    CT_CSV,
    CT_EMPTY,
    CT_HTML,
    CT_JATS,
    CT_MARKDOWN,
    CT_PDF,
    CT_PLAIN,
    CT_USPTO,
    EXTRACTED_SCHEMA,
    STATUS_FAILURE,
    STATUS_PARTIAL,
    STATUS_SKIPPED,
    STATUS_SUCCESS,
)
from doc_parser_spark.functions.asciidoc_extract import extract_asciidoc
from doc_parser_spark.functions.csv_extract import extract_csv
from doc_parser_spark.functions.html_extract import extract_html
from doc_parser_spark.functions.jats_extract import extract_jats
from doc_parser_spark.functions.uspto_extract import extract_uspto
from doc_parser_spark.functions.md_extract import extract_md
from doc_parser_spark.functions.pdfish_extract import extract_pdfish
from doc_parser_spark.functions.plain_extract import extract_plain
from doc_parser_spark.functions.quality import rate_text_quality
from doc_parser_spark.sources.sniff import sniff_text

# internal metric columns appended to EXTRACTED_SCHEMA by the UDF
EXTRACT_OUTPUT_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields
    + [
        T.StructField("_n_bytes", T.LongType(), False),
        T.StructField("_proc_us", T.LongType(), False),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(EXTRACT_OUTPUT_SCHEMA)
_SPANS_TYPE = _ARROW_SCHEMA.field("spans").type

_EXTRACTORS = {
    CT_ASCIIDOC: extract_asciidoc,
    CT_HTML: extract_html,
    CT_JATS: extract_jats,
    CT_USPTO: extract_uspto,
    CT_PDF: extract_pdfish,
    CT_PLAIN: extract_plain,
    CT_MARKDOWN: extract_md,
    CT_CSV: extract_csv,
}


# size limit (S2 analog, document.py:116-206 limits + R5 time budget): a
# pathological multi-MB turn skips the structural parse (quadratic-ish DOM
# costs) and takes the cheap paragraph path with partial status
MAX_PARSE_BYTES = 4 * 1024 * 1024


import re as _re

# full-document markers (the reference's own HTML probe shape,
# document.py:440-477); an HTML payload WITHOUT one is a routed fragment.
# Tag names are anchored (``[\s>]``) so a fragment starting with <header>
# (a routed block tag) is NOT mistaken for a full document.
_FULLDOC_RE = _re.compile(r"<!doctype\s+html|<html[\s>]|<head[\s>]|<body[\s>]")

# binary-payload probe: C0 control bytes (minus \t\n\r) in the head mean the
# payload is not text — a plain-text fallback on compressed/binary bytes is
# worse than reporting the failure
_BINARY_RE = _re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _extract_one(content_type: str, text: str, boilerplate_mode: str):
    """Per-document extraction with the R4-style fallback chain.

    Returns (extracted_text, spans, status).
    """
    if content_type == CT_EMPTY:
        return "", [], STATUS_SKIPPED
    if (
        len(text) > MAX_PARSE_BYTES
        and content_type != CT_PLAIN
        and content_type != CT_PDF
    ):
        # CT_PDF is exempt: a plain-text "fallback" over binary PDF bytes is
        # garbage, and the real decoder is lazy (xref-driven) with its own
        # glyph/page caps — oversized PDFs parse or fail, never fall back
        extracted, spans = extract_plain(text)
        return extracted, spans, STATUS_PARTIAL
    extractor = _EXTRACTORS.get(content_type, extract_plain)
    try:
        if extractor is extract_html:
            extracted, spans = extract_html(text, boilerplate_mode)
        else:
            extracted, spans = extractor(text)
        if not extracted and text.strip() and extractor is not extract_plain:
            # Non-whitespace input that extracted to nothing is never a
            # plain `success` (round-2 verdict: the HTML-fragment demotion
            # generalized to every backend). Two legitimate empty-success
            # carve-outs remain: a FULL html document whose body is
            # genuinely empty/boilerplate-stripped, and a well-formed
            # %PDF-SIM cell dump whose rows are all page furniture.
            if extractor is extract_html and _FULLDOC_RE.search(
                text[:1024].lower()
            ):
                return extracted, spans, STATUS_SUCCESS
            if content_type == CT_PDF and text.startswith("%PDF-SIM"):
                return extracted, spans, STATUS_SUCCESS
            if _BINARY_RE.search(text[:4096]):
                # binary payload (e.g. real %PDF bytes the decoder could
                # not read): plain fallback would emit compressed garbage
                return None, None, STATUS_FAILURE
            extracted, spans = extract_plain(text)
            return extracted, spans, STATUS_PARTIAL
        return extracted, spans, STATUS_SUCCESS
    except Exception:
        if _BINARY_RE.search(text[:4096]):
            return None, None, STATUS_FAILURE
        try:
            extracted, spans = extract_plain(text)
            return extracted, spans, STATUS_PARTIAL
        except Exception:
            return None, None, STATUS_FAILURE


def _q10(scores: list) -> float:
    """np.quantile(scores, 0.10) with method='linear', bit-exact (numpy's
    _lerp switches formula at t >= 0.5), without the per-row numpy-call
    overhead — _score runs once per document row."""
    s = sorted(scores)
    n = len(s)
    if n == 1:
        return float(s[0])
    vi = 0.10 * (n - 1)
    lo = int(vi)
    t = vi - lo
    if t == 0.0:
        return float(s[lo])
    a, b = s[lo], s[lo + 1]
    d = b - a
    return float(b - d * (1.0 - t)) if t >= 0.5 else float(a + d * t)


def _score(extracted: str | None, spans) -> float | None:
    """Doc parse score = 10th percentile of per-span quality scores
    (page_preprocessing_model.py:78-85 aggregation).

    Fast path: every quality trigger requires '/', '�' or 'GLYPH<' — if the
    WHOLE text has none, every span scores 1.0 and so does the quantile.
    Profiling showed scoring at 44% of per-row extraction cost before this.
    """
    if not extracted or not spans:
        return None
    if (
        "/" not in extracted
        and "�" not in extracted
        and "GLYPH<" not in extracted
    ):
        return 1.0
    scores = [rate_text_quality(extracted[s[0] : s[1]]) for s in spans]
    return _q10(scores)


def extract_batch(batch: pa.RecordBatch, boilerplate_mode: str) -> pa.RecordBatch:
    """One Arrow batch of (conv_id, turn_idx, text) → EXTRACT_OUTPUT_SCHEMA.

    A single per-row loop sniffs, extracts and scores each turn into flat
    column lists; ``spans`` is a ListArray over a StructArray built from
    flat start/end/label/page lists, so no per-span dict, pandas frame or
    per-element struct conversion runs. ``_proc_us`` is the row's own
    ``_extract_one`` + ``_score`` time.
    """
    clock = time.perf_counter
    ctypes, extracted_l, status_l, score_l, stats, n_bytes_l, proc_l = (
        [], [], [], [], [], [], []
    )
    offsets, no_spans, span_cols = [0], [], ([], [], [], [])
    for text in batch.column("text").to_pylist():
        ct = sniff_text(text)
        text = text or ""
        t0 = clock()
        extracted, spans, status = _extract_one(ct, text, boilerplate_mode)
        score = _score(extracted, spans)
        proc_l.append(int((clock() - t0) * 1e6))
        ctypes.append(ct)
        extracted_l.append(extracted)
        status_l.append(status)
        score_l.append(score)
        n_bytes_l.append(len(text))
        stats.append(
            (0, 0, 0) if extracted is None else
            (len(extracted), len(extracted.split()), extracted.count("\n") + 1)
        )
        no_spans.append(spans is None)
        for i, col in enumerate(span_cols):
            col.extend(sp[i] for sp in spans or ())
        offsets.append(len(span_cols[0]))

    fields = list(_SPANS_TYPE.value_type)
    span_values = pa.StructArray.from_arrays(
        [pa.array(col, f.type) for col, f in zip(span_cols, fields)],
        fields=fields,
    )
    n_char, n_word, n_line = zip(*stats)
    return pa.RecordBatch.from_pydict(
        {
            "conv_id": batch.column("conv_id"),
            "turn_idx": batch.column("turn_idx"),
            "content_type": ctypes,
            "extracted_text": extracted_l,
            "spans": pa.ListArray.from_arrays(
                offsets, span_values, type=_SPANS_TYPE, mask=pa.array(no_spans)
            ),
            "parse_status": status_l,
            "parse_score": score_l,
            "n_char": n_char,
            "n_word": n_word,
            "n_line": n_line,
            "_n_bytes": n_bytes_l,
            "_proc_us": proc_l,
        },
        schema=_ARROW_SCHEMA,
    )


def make_extract_udf(boilerplate_mode: str = "reference"):
    """pandas-in/pandas-out adapter over ``extract_batch`` (iterator form),
    the reference for callers that hold pandas frames."""

    def extract_batches(
        batches: Iterable[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                batch = pa.RecordBatch.from_pandas(
                    pdf[["conv_id", "turn_idx", "text"]], preserve_index=False
                )
                yield extract_batch(batch, boilerplate_mode).to_pandas()

    return extract_batches


# rows per slice of an Arrow batch in ``map_rows``: bounds the Python copies
# of one slice's inputs and outputs (binary payloads, per-frame rows)
MAP_ROWS_SLICE = 16


def map_rows(df: DataFrame, fn, schema: T.StructType) -> DataFrame:
    """One ``mapInArrow`` of a per-row function over ``df``'s columns.

    ``fn(*row)`` gets one row's Python values in ``df.columns`` order and
    returns zero or more output tuples in ``schema`` order (a ``list<struct>``
    value is a list of tuples). Each Arrow batch is read in slices of
    ``MAP_ROWS_SLICE`` rows, and each slice's outputs become one
    ``pa.RecordBatch`` — no pandas frame on either side. The row function
    owns the error envelope: it turns a poison input into a status row.
    """
    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for lo in range(0, batch.num_rows, MAP_ROWS_SLICE):
                part = batch.slice(lo, MAP_ROWS_SLICE)
                rows = zip(*(col.to_pylist() for col in part.columns))
                out = [res for row in rows for res in fn(*row)]
                if out:
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(col, field.type)
                            for col, field in zip(zip(*out), arrow_schema)
                        ],
                        schema=arrow_schema,
                    )

    return df.mapInArrow(run, schema=schema)


def extract_turns(
    df: DataFrame,
    boilerplate_mode: str = "reference",
    route_partitions: int | None = None,
    keep_metrics_cols: bool = False,
) -> DataFrame:
    """transcripts → extracted rows (EXTRACTED_SCHEMA).

    Repartitions by (conv_id, turn_idx) — turn-level salting against whale
    conversations — then runs the Arrow-batched extraction, which sniffs
    content type in-batch.

    The sniff runs in the extraction batch, not as a pandas UDF before the
    shuffle: (conv_id, turn_idx) is already unique per row, so adding
    content_type to the routing key changed no distribution, while the
    extra Python node cost every row a second JVM→Python→JVM round trip.
    """
    # explicit projection: Catalyst cannot prune through mapInArrow (the
    # UDF is a black box receiving every child column), so unused transcript
    # columns (role/tool/ts) would otherwise be scanned AND shuffled
    typed = df.select("conv_id", "turn_idx", "text")
    if route_partitions == 0:
        pass  # no routing shuffle (streaming micro-batches are pre-split)
    elif route_partitions:
        typed = typed.repartition(
            route_partitions, F.col("conv_id"), F.col("turn_idx")
        )
    else:
        typed = typed.repartition(F.col("conv_id"), F.col("turn_idx"))

    def extract_batches(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield extract_batch(batch, boilerplate_mode)

    out = typed.mapInArrow(extract_batches, schema=EXTRACT_OUTPUT_SCHEMA)
    if not keep_metrics_cols:
        out = out.drop("_n_bytes", "_proc_us")
    return out


def bucket_id(col: str | Column = "conv_id", n_buckets: int = 64) -> Column:
    """Stable storage-partition id (Iceberg ``bucket(conv_id)`` analog)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(n_buckets)).cast("int")
