"""Mini-driver: runs every queries() entry on Spark AND its oracle_sql() on
DuckDB at sf0.001, compares row count, column names, and order-insensitive
values — the same gate the real driver applies at sf0.01.
"""

from __future__ import annotations

import hashlib
import json
import math

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return f"{v:.4f}"
        return str(v)

    out = df.map(norm_cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


# sha256 over the sorted (name, oracle SQL) pairs: every oracle string is
# pinned byte-for-byte, so a registry edit cannot silently change one
ORACLES_SHA256 = "17e1caadf5531907b43278c51ac5e5b885cf7218fc4c962200a43121577dd176"


def test_registry_pins_queries_and_oracles():
    from doc_parser_spark.plans.driver_queries import ORACLES, QUERIES

    assert set(QUERIES) == set(ORACLES)
    assert len(QUERIES) == 121
    blob = json.dumps(sorted(ORACLES.items())).encode()
    assert hashlib.sha256(blob).hexdigest() == ORACLES_SHA256


def test_sql_binds_documents_without_leaving_a_view(spark):
    import pyarrow.parquet as pq

    from doc_parser_spark.plans.driver_queries import _sql

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    n_rows = pq.ParquetFile(f"{SF_DIR}/documents.parquet").metadata.num_rows
    got = _sql(spark, SF_DIR, "SELECT count(*) AS n FROM documents")
    assert temp_views() == before
    assert got.collect()[0]["n"] == n_rows


def _entry_names():
    import __spark_entry__ as e

    return sorted(e.queries().keys())


@pytest.mark.parametrize("name", _entry_names())
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as e

    oracle = e.oracle_sql().get(name)
    assert oracle is not None, f"{name}: registered without an oracle"
    got = _normalize(e.queries()[name](spark, SF_DIR).toPandas())
    exp = _normalize(duck.sql(oracle).df())
    # Vacuity guard: a 0-row match only proves both engines agree on an
    # empty frame (round-3 verdict: text_phrase_mining).  Every contract
    # query must exercise real output at every SF.
    assert len(exp) > 0, f"{name}: oracle returned 0 rows — vacuous gate entry"
    assert list(got.columns) == list(exp.columns), (
        f"{name}: columns {list(got.columns)} != {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: {len(got)} rows vs oracle {len(exp)}"
    neq = (got != exp).any(axis=1)
    assert not neq.any(), (
        f"{name}: {neq.sum()} mismatched rows\nspark:\n"
        f"{got[neq].head(3)}\noracle:\n{exp[neq].head(3)}"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    n = df.count()
    assert n == 500
    assert {"conv_id", "turn_idx", "extracted_text", "spans", "parse_status"} <= set(
        df.columns
    )
