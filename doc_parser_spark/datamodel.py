"""Output schemas and label/status vocabularies.

Mirrors the reference's data model (SURVEY.md §1):
- item labels   ~ DocItemLabel (docling-core; used throughout
  /root/reference/docling/backend/html_backend.py)
- parse status  ~ ConversionStatus (/root/reference/docling/datamodel/base_models.py:36-42)
- flat output   ~ GenOSVectorMeta (/root/reference/genon/preprocessor/src/preprocessor.py:86-103)
- main text + spans ~ the DoclingDocument serializer's text + charspans:
  ``join_spans``, which every extraction backend calls
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Label vocabulary (subset of DocItemLabel relevant to text extraction)
# ---------------------------------------------------------------------------
LABEL_TITLE = "title"
LABEL_SECTION_HEADER = "section_header"
LABEL_TEXT = "text"
LABEL_PARAGRAPH = "paragraph"
LABEL_CODE = "code"
LABEL_LIST_ITEM = "list_item"
LABEL_TABLE = "table"
LABEL_CAPTION = "caption"
LABEL_PICTURE = "picture"
LABEL_PAGE_HEADER = "page_header"
LABEL_PAGE_FOOTER = "page_footer"

# ---------------------------------------------------------------------------
# Parse status (ConversionStatus analog)
# ---------------------------------------------------------------------------
STATUS_SUCCESS = "success"
STATUS_PARTIAL = "partial_success"
STATUS_FAILURE = "failure"
STATUS_SKIPPED = "skipped"

# ---------------------------------------------------------------------------
# Content types (sniffer output)
# ---------------------------------------------------------------------------
CT_HTML = "html"
CT_PLAIN = "plain"
CT_PDF = "pdf"
CT_MARKDOWN = "markdown"
CT_CSV = "csv"
CT_ASCIIDOC = "asciidoc"
CT_JATS = "jats"
CT_USPTO = "uspto"
CT_EMPTY = "empty"

# ---------------------------------------------------------------------------
# Spark schemas
# ---------------------------------------------------------------------------
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
    ]
)


def join_spans(pieces) -> tuple[str, list[tuple[int, int, str, int]]]:
    """(text, label, page) pieces → (main text, spans): the non-empty texts
    joined with a blank line, one ``SPAN_SCHEMA`` span per piece holding its
    char offsets into the joined text. The one serializer every extraction
    backend shares (the reference's DoclingDocument → text + charspan)."""
    parts: list[str] = []
    spans: list[tuple[int, int, str, int]] = []
    offset = 0
    for text, label, page in pieces:
        if not text:
            continue
        if parts:
            offset += 2  # "\n\n" separator
        spans.append((offset, offset + len(text), label, page))
        parts.append(text)
        offset += len(text)
    return "\n\n".join(parts), spans


EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), True),
        T.StructField("parse_status", T.StringType(), False),
        T.StructField("parse_score", T.FloatType(), True),
        T.StructField("n_char", T.IntegerType(), True),
        T.StructField("n_word", T.IntegerType(), True),
        T.StructField("n_line", T.IntegerType(), True),
    ]
)

