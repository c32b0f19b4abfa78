"""Z-order value (operators/layout.py): bit-exactness vs a python
reference."""

from __future__ import annotations

import pytest

from doc_parser_spark.operators.layout import zorder_value


class TestZValue:
    def test_bit_exact_vs_reference(self, spark):
        df = spark.createDataFrame(
            [(i, (i * 37) % 100, (i * 11) % 50) for i in range(200)],
            ["id", "x", "y"],
        )
        got = {
            r["id"]: r["zvalue"]
            for r in zorder_value(df, ["x", "y"], bits=8).collect()
        }
        xs = [(i * 37) % 100 for i in range(200)]
        ys = [(i * 11) % 50 for i in range(200)]

        def scale(v, lo, hi):
            return (v - lo) * 255 // (hi - lo)

        for i in range(200):
            sx = scale(xs[i], min(xs), max(xs))
            sy = scale(ys[i], min(ys), max(ys))
            want = sum(
                (((sx >> b) & 1) << (2 * b)) + (((sy >> b) & 1) << (2 * b + 1))
                for b in range(8)
            )
            assert got[i] == want

    def test_constant_column_contributes_zero(self, spark):
        df = spark.createDataFrame(
            [(i, i, 7) for i in range(16)], ["id", "x", "y"]
        )
        out = zorder_value(df, ["x", "y"], bits=4).collect()
        # y is constant → scaled 0 → z is x's bits spread to even positions
        for r in out:
            sx = r["x"] * 15 // 15
            want = sum(((sx >> b) & 1) << (2 * b) for b in range(4))
            assert r["zvalue"] == want

    def test_overflow_guard(self, spark):
        df = spark.createDataFrame([(1, 2, 3, 4)], ["a", "b", "c", "d"])
        with pytest.raises(ValueError):
            zorder_value(df, ["a", "b", "c", "d"], bits=16)
