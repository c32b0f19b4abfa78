"""Chunk-level Spark operators: extracted turns → token-budget chunks →
GenOSVectorMeta-shaped vector rows.

The chunking itself is row-local (a turn's item list lives in its ``spans``
column), so it is a row function over ``operators/extract.py::map_rows``
with zero shuffle. The vector-meta indices (i_chunk_on_doc /
n_chunk_of_doc / ...) are window functions over (conv_id, turn_idx) — the
one place a shuffle is inherent, and it reuses the extraction output's
bucketing when written bucketed.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doc_parser_spark.operators.extract import map_rows

CHUNK_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("headings", T.ArrayType(T.StringType()), True),
        T.StructField("n_tokens", T.IntegerType(), False),
        T.StructField("i_page", T.IntegerType(), True),
        T.StructField("e_page", T.IntegerType(), True),
        # chunk_bboxes analog (src/preprocessor.py:102): the chunk's OWN
        # spans as a JSON string — "json.dumps because nested properties are
        # awkward at retrieval time", per the reference's own comment
        T.StructField("chunk_spans", T.StringType(), True),
    ]
)


def chunk_turns(extracted: DataFrame, max_tokens: int = 2000) -> DataFrame:
    """extracted rows (with spans) → one row per chunk.

    Items come from the spans column: (label, extracted_text[start:end]).
    """
    from doc_parser_spark.functions.chunking import chunk_items

    def row(conv_id, turn_idx, text, spans):
        if text is None or not spans:
            return []
        items = [(s["label"], text[s["start"] : s["end"]]) for s in spans]
        out = []
        for ci, chunk in enumerate(chunk_items(items, max_tokens)):
            # per-chunk page bounds from the chunk's OWN items
            # (preprocessor.py:294-331), not the whole turn
            own = [spans[j] for j in chunk.item_indices or range(len(spans))]
            pages = [s["page"] for s in own]
            out.append((
                conv_id, turn_idx, ci, chunk.text, chunk.headings,
                chunk.n_tokens, min(pages), max(pages),
                json.dumps(own, separators=(",", ":")),
            ))
        return out

    return map_rows(
        extracted.select("conv_id", "turn_idx", "extracted_text", "spans"),
        row,
        CHUNK_ROWS_SCHEMA,
    )


def compose_vectors(
    chunks: DataFrame,
    reg_date: str | None = None,
    media: DataFrame | None = None,
) -> DataFrame:
    """GenOSVectorMeta projection (src/preprocessor.py:86-103, 266-338 +
    facade/intelligent_processor.py:1222-1304 semantics):
    n_char/n_word/n_line per chunk; i_chunk_on_page resets per turn ("page");
    i_chunk_on_doc runs over the conversation; n_* counts via windows.

    Full metadata field set:
    - ``reg_date``: ingestion timestamp string; the reference stamps
      ``datetime.now().isoformat() + 'Z'`` at job time — non-deterministic,
      so the caller passes it (null when omitted).
    - ``created_date``: YYYYMMDD int parsed from a ``date_text`` column when
      present (parse_created_date, intelligent_processor.py:1088-1136),
      else 0 — the reference's own fallback value.
    - ``authors``: JSON array string parsed from an ``authors_raw`` column
      when present (parse_authors, :1138-1189), else '[]'.
    - ``chunk_bboxes``: the chunk's own spans as JSON (``chunk_spans`` from
      chunk_turns; src/preprocessor.py:102's json.dumps convention).
    - ``media_files``: JSON from an optional ``media`` side table
      (conv_id, turn_idx, media_files) — the page-image metadata analog
      (src/preprocessor.py:350-357); '[]' when absent, like the reference.
    """
    from doc_parser_spark.functions.metadata import (
        authors_json,
        parse_created_date,
    )

    @F.pandas_udf(T.IntegerType())
    def _created(texts: pd.Series) -> pd.Series:
        return texts.map(parse_created_date).astype("int32")

    @F.pandas_udf(T.StringType())
    def _authors(texts: pd.Series) -> pd.Series:
        return texts.map(authors_json)

    cols = set(chunks.columns)
    created_col = (
        _created(F.col("date_text")).alias("created_date")
        if "date_text" in cols
        else F.lit(0).cast("int").alias("created_date")
    )
    authors_col = (
        _authors(F.col("authors_raw")).alias("authors")
        if "authors_raw" in cols
        else F.lit("[]").alias("authors")
    )
    bboxes_col = (
        F.col("chunk_spans").alias("chunk_bboxes")
        if "chunk_spans" in cols
        else F.lit("[]").alias("chunk_bboxes")
    )

    if media is not None:
        chunks = chunks.join(
            media.select("conv_id", "turn_idx", "media_files"),
            ["conv_id", "turn_idx"],
            "left",
        )
    media_col = (
        F.coalesce(F.col("media_files"), F.lit("[]")).alias("media_files")
        if media is not None
        else F.lit("[]").alias("media_files")
    )

    w_doc = Window.partitionBy("conv_id").orderBy("turn_idx", "chunk_idx")
    w_doc_all = Window.partitionBy("conv_id")
    w_page = Window.partitionBy("conv_id", "turn_idx").orderBy("chunk_idx")
    w_page_all = Window.partitionBy("conv_id", "turn_idx")
    return chunks.select(
        "conv_id",
        "turn_idx",
        "text",
        "headings",
        F.length("text").cast("int").alias("n_char"),
        F.size(F.split(F.col("text"), " ")).cast("int").alias("n_word"),
        F.size(F.split(F.col("text"), "\n")).cast("int").alias("n_line"),
        F.col("i_page"),
        F.col("e_page"),
        (F.row_number().over(w_page) - 1).cast("int").alias("i_chunk_on_page"),
        F.count("*").over(w_page_all).cast("int").alias("n_chunk_of_page"),
        (F.row_number().over(w_doc) - 1).cast("int").alias("i_chunk_on_doc"),
        F.count("*").over(w_doc_all).cast("int").alias("n_chunk_of_doc"),
        F.max("turn_idx").over(w_doc_all).cast("int").alias("n_page"),
        # title = first heading seen in the conversation (the portable part
        # of E4 metadata enrichment: facade/intelligent_processor.py:1253-1257)
        F.first(
            F.when(F.size("headings") > 0, F.element_at("headings", 1)),
            ignorenulls=True,
        ).over(
            Window.partitionBy("conv_id")
            .orderBy("turn_idx", "chunk_idx")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("title"),
        F.lit(reg_date).cast("string").alias("reg_date"),
        created_col,
        authors_col,
        bboxes_col,
        media_col,
    )
