"""Binary office-document extraction operator (B8/B9/B10 on the Spark
surface): sniff by zip member magic, dispatch to the stdlib backends, with
the same per-row fallback chain as the text path.

Scale shape: binary payloads NEVER enter a shuffle — extraction is a row
function over ``operators/extract.py::map_rows`` (one Arrow crossing, like
operators/multimodal.py) on the scan partitions, and only the extracted
text + spans flow downstream.
"""

from __future__ import annotations

import zipfile
from io import BytesIO

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from doc_parser_spark.datamodel import (
    SPAN_SCHEMA,
    STATUS_FAILURE,
    STATUS_SKIPPED,
    STATUS_SUCCESS,
)
from doc_parser_spark.functions.docx_extract import extract_docx
from doc_parser_spark.functions.hwpx_extract import extract_hwpx
from doc_parser_spark.functions.pptx_extract import extract_pptx
from doc_parser_spark.functions.xlsx_extract import extract_xlsx
from doc_parser_spark.operators.extract import map_rows

OFFICE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("doc_kind", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), True),
        T.StructField("parse_status", T.StringType(), False),
    ]
)

_MARKERS = [
    ("word/document.xml", "docx", extract_docx),
    ("xl/workbook.xml", "xlsx", extract_xlsx),
    ("ppt/presentation.xml", "pptx", extract_pptx),
    ("Contents/section0.xml", "hwpx", extract_hwpx),
]


def sniff_office(payload: bytes) -> str:
    """docx / xlsx / pptx / unknown, by zip magic + member names (the
    content-equivalent of the reference's format detection for OOXML,
    document.py:306-506's mime-by-content idea)."""
    if not payload or payload[:2] != b"PK":
        return "unknown"
    try:
        names = set(zipfile.ZipFile(BytesIO(payload)).namelist())
    except Exception:
        return "unknown"
    for marker, kind, _ in _MARKERS:
        if marker in names:
            return kind
    return "unknown"


def extract_office(payload: bytes) -> tuple[str, str, list, str]:
    """(kind, text, spans, status) with the R4-style fallback: a poison
    document yields a failure row, never a task error."""
    kind = sniff_office(payload)
    if kind == "unknown":
        return kind, "", [], STATUS_SKIPPED
    extractor = dict((k, f) for _, k, f in _MARKERS)[kind]
    try:
        text, spans = extractor(payload)
        return kind, text, spans, STATUS_SUCCESS
    except Exception:
        return kind, None, None, STATUS_FAILURE


def extract_office_docs(df: DataFrame) -> DataFrame:
    """(doc_id, binary payload) rows → extracted office documents."""

    def row(doc_id, payload):
        return [(doc_id, *extract_office(payload or b""))]

    return map_rows(df.select("doc_id", "payload"), row, OFFICE_SCHEMA)
