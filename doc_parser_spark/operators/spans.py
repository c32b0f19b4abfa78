"""Span operators — O3 bbox merge.

Port of merge_overlapping_bboxes (genos_utils.py:114-160): the reference does
a fixpoint union of overlapping same-page boxes. The 1-D char-interval case is
a gaps-and-islands pass in SQL (the ``o3_interval_merge`` contract query);
the 2-D case here runs the exact kernel per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_bboxes_2d(
    df: DataFrame,
    group_cols: list[str],
    x_tolerance: float = 1.0,
    y_tolerance: float = 1.0,
) -> DataFrame:
    """True 2-D fixpoint bbox merge (merge_overlapping_bboxes,
    genos_utils.py:114-160) — the general case a 1-D gaps-and-islands
    pass cannot express, because merged boxes grow and can bridge boxes that
    never overlapped directly.

    df columns: group_cols + (page int, btype string, l, t, r, b double).
    Runs the exact python kernel per group via applyInPandas: a group is one
    document/page neighborhood (bounded box count — layout items per page),
    groups are many, so the stage shuffles once on the group key and is
    embarrassingly parallel; no driver-side collection.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from doc_parser_spark.functions.bbox import merge_overlapping_bboxes

    out_schema = T.StructType(
        [df.schema[c] for c in group_cols]
        + [
            T.StructField("page", T.IntegerType()),
            T.StructField("btype", T.StringType()),
            T.StructField("l", T.DoubleType()),
            T.StructField("t", T.DoubleType()),
            T.StructField("r", T.DoubleType()),
            T.StructField("b", T.DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {c: pdf[c].iloc[0] for c in group_cols}
        boxes = [
            {
                "page": int(row.page),
                "type": row.btype,
                "bbox": {"l": row.l, "t": row.t, "r": row.r, "b": row.b},
            }
            for row in pdf.itertuples()
        ]
        merged = merge_overlapping_bboxes(boxes, x_tolerance, y_tolerance)
        rows = [
            {
                **keys,
                "page": m["page"],
                "btype": m["type"],
                "l": m["bbox"]["l"],
                "t": m["bbox"]["t"],
                "r": m["bbox"]["r"],
                "b": m["bbox"]["b"],
            }
            for m in merged
        ]
        return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.groupBy(*group_cols).applyInPandas(fn, out_schema)
