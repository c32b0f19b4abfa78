"""Unicode text normalization for the curation layer.

``nfc_normalize_col``: canonical composition (NFC) — the standard first
step of web-corpus cleaning (decomposed sequences like 'e' + U+0301 fold
to 'é', so downstream hashing/dedup/tokenization see one spelling).
Spark SQL has no normalization builtin, so this is the sanctioned slow
path: an Arrow-vectorized pandas UDF over ``unicodedata.normalize`` —
never a row-at-a-time Python UDF. DuckDB's native ``nfc_normalize`` is
the oracle.

Scale: a row-local projection (no shuffle); the pandas UDF rides the
existing Arrow batch pipeline, so throughput is codec-bound, not
Python-loop-bound. Apply BEFORE hashing/dedup so equal content hashes
equal.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


@F.pandas_udf(StringType())
def _nfc_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda v: unicodedata.normalize("NFC", v) if v is not None else None
    )


def nfc_normalize_col(col) -> Column:
    """NFC-normalized copy of a string column (null-safe)."""
    return _nfc_udf(F.col(col) if isinstance(col, str) else col)
