"""The Arrow extraction batch: per-row timing and null payloads.

``extract_turns`` runs ``extract_batch`` under ``mapInArrow``;
``make_extract_udf`` is its pandas adapter. Both must agree row for row.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import types as T

from doc_parser_spark.datamodel import CT_EMPTY, STATUS_SKIPPED
from doc_parser_spark.operators.extract import (
    extract_batch,
    extract_turns,
    make_extract_udf,
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
