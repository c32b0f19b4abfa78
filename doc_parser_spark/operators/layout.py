"""Data-layout optimization: multi-dimensional Z-order clustering (the
lakehouse OPTIMIZE ZORDER BY analog — Delta/Iceberg rewrite files so
min/max footer stats prune multi-column predicates).

Why it matters at 100 TB: parquet row-group skipping only prunes on
columns correlated with file order. Sorting by one column destroys
locality on the others; interleaving the bits of several columns (Morton
order) keeps every indexed column's values locally clustered, so a
predicate on ANY of them skips most files. This module computes the
z-value in-plan (pure integer arithmetic — exactly reproducible on any
engine); a writer lays files out by range-partitioning on it.

Scale notes: the per-column min/max is one tiny all-reduce (a 1-row
aggregate broadcast back); the z-value itself is row-local JVM arithmetic
(aggregate HOF over a bit sequence — no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 16
) -> DataFrame:
    """Adds ``zvalue``: the Morton interleave of ``cols`` (each scaled to
    ``bits`` bits over its observed min/max with exact integer math —
    ``(v - min) * (2^bits - 1) div (max - min)``, so engines agree bit for
    bit). Column i contributes bit b at position ``b * len(cols) + i``.
    Inputs must be integral (cast/floor doubles first); a constant column
    scales to 0. Total bits ``bits * len(cols)`` must fit a signed long.
    """
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits overflows a long")
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
        ]
    bounds = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(bounds))
    scale = (1 << bits) - 1
    # materialize each scaled value ONCE (a projection column), then fold
    # its bits — inlining the div expression into every bit term would
    # re-evaluate it bits× per row (the SimHash CSE lesson)
    for c in cols:
        rng = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        out = out.withColumn(
            f"__s_{c}",
            F.when(rng == 0, F.lit(0).cast("long")).otherwise(
                F.expr(
                    f"(({c} - __min_{c}) * {scale}L)"
                    f" div (__max_{c} - __min_{c})"
                )
            ),
        )
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(F.col(f"__s_{c}"), b).bitwiseAND(F.lit(1)),
                b * n + i,
            ).cast("long")
    return out.withColumn("zvalue", z).drop(
        *[f"__min_{c}" for c in cols],
        *[f"__max_{c}" for c in cols],
        *[f"__s_{c}" for c in cols],
    )
