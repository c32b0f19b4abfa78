"""Export formats (O7) + lossless JSON roundtrip (B17 analog).

The reference exports DoclingDocument as markdown / lossless JSON
(docling_json_backend.py round-trips it). Our flat extraction rows play
the same roles:

- ``extracted_text`` IS the markdown-equivalent main-text export;
- ``to_doc_json`` serializes a turn's full extraction (text + spans + status)
  to one JSON string; ``from_doc_json`` parses it back into the typed
  columns — a lossless round trip through Spark's to_json/from_json
  (JVM-side, codegen'd).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doc_parser_spark.datamodel import SPAN_SCHEMA

DOC_JSON_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA)),
        T.StructField("parse_status", T.StringType()),
    ]
)

_FIELDS = [f.name for f in DOC_JSON_SCHEMA.fields]


def to_doc_json(extracted: DataFrame) -> DataFrame:
    """One JSON document string per turn (lossless for the typed fields)."""
    return extracted.select(
        "conv_id",
        "turn_idx",
        F.to_json(F.struct(*_FIELDS)).alias("doc_json"),
    )


def from_doc_json(json_df: DataFrame) -> DataFrame:
    """Parse ``doc_json`` back into typed extraction columns (B17 analog)."""
    return json_df.select(
        F.from_json(F.col("doc_json"), DOC_JSON_SCHEMA).alias("d")
    ).select(*[F.col(f"d.{f}").alias(f) for f in _FIELDS])
