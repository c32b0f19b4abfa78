"""The Arrow extraction batch: per-row timing and null payloads.

``extract_turns`` runs ``extract_batch`` under ``mapInArrow``;
``make_extract_udf`` is its pandas adapter. Both must agree row for row.
``map_rows`` is the one per-row crossing of the payload operators; its
output must equal a plain-Python replay of the row function.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doc_parser_spark.datamodel import CT_EMPTY, STATUS_SKIPPED
from doc_parser_spark.operators.extract import (
    MAP_ROWS_SLICE,
    extract_batch,
    extract_turns,
    make_extract_udf,
    map_rows,
)

_INPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def _big_html() -> str:
    rows = "".join(
        f"<tr><td>cell {i}</td><td>{i * 7}</td></tr>" for i in range(300)
    )
    paras = "".join(f"<p>Paragraph {i} with some words.</p>" for i in range(600))
    return (
        "<!DOCTYPE html><html><body><h1>Report</h1>"
        f"{paras}<table>{rows}</table></body></html>"
    )


def test_proc_us_is_per_row():
    batch = pa.RecordBatch.from_pydict(
        {
            "conv_id": ["c", "c", "c"],
            "turn_idx": pa.array([0, 1, 2], pa.int32()),
            "text": ["", _big_html(), "a short plain line"],
        }
    )
    out = extract_batch(batch, "reference").to_pydict()
    assert out["content_type"] == ["empty", "html", "plain"]
    empty_us, html_us, _ = out["_proc_us"]
    assert empty_us < html_us


def test_null_text_on_the_arrow_path(spark):
    rows = [("n", 0, None), ("n", 1, "# Title\n\nbody text"), ("n", 2, "   ")]
    got = (
        extract_turns(
            spark.createDataFrame(rows, _INPUT_SCHEMA),
            route_partitions=0,
            keep_metrics_cols=True,
        )
        .orderBy("turn_idx")
        .collect()
    )
    null_row = got[0]
    assert null_row.content_type == CT_EMPTY
    assert null_row.parse_status == STATUS_SKIPPED
    assert null_row.spans == []
    assert null_row._n_bytes == 0

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    ref = pd.concat(list(make_extract_udf()(iter([pdf])))).drop(columns="_proc_us")
    for r, g in zip(ref.to_dict("records"), got):
        g = g.asDict(recursive=True)
        del g["_proc_us"]
        r["spans"] = None if r["spans"] is None else [dict(s) for s in r["spans"]]
        if pd.isna(r["parse_score"]):
            r["parse_score"] = None
        assert g == r


_MAP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
        T.StructField("word", T.StringType(), True),
        T.StructField(
            "parts",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.IntegerType(), False),
                        T.StructField("label", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        T.StructField("ratio", T.FloatType(), True),
    ]
)


def test_map_rows_equals_python_replay(spark):
    # defined in the test so the workers unpickle it by value
    def _fan_out(i, word):
        """0, 1, 2 or 3 output rows per input; list<struct> from tuples."""
        return [
            (i, k, word,
             None if word is None else [(j, word[j:]) for j in range(k + 1)],
             i / 3.0 + k)
            for k in range(i % 4)
        ]

    rows = [(i, None if i % 7 == 3 else f"w{i:03d}") for i in range(80)]
    df = spark.createDataFrame(rows, "id long, word string").coalesce(2)
    per_part = df.groupBy(F.spark_partition_id()).count().collect()
    assert len(per_part) == 2
    assert all(r["count"] > MAP_ROWS_SLICE for r in per_part)

    out = map_rows(df, _fan_out, _MAP_OUT_SCHEMA)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    assert out.schema == _MAP_OUT_SCHEMA

    def as_tuple(r):
        parts = None if r["parts"] is None else [tuple(p) for p in r["parts"]]
        return (r["id"], r["k"], r["word"], parts, r["ratio"])

    got = sorted(as_tuple(r) for r in out.collect())
    want = sorted(
        (i, k, w, parts, float(np.float32(ratio)))
        for i, w in (tuple(r) for r in df.collect())
        for i, k, w, parts, ratio in _fan_out(i, w)
    )
    assert got == want
    # every fan-out arity, a null input and a null list all occurred
    assert {i % 4 for i, _ in rows} == {0, 1, 2, 3}
    assert any(r[2] is None for r in got) and any(r[3] for r in got)
