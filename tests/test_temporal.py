"""As-of join and bucketed range join (operators/temporal.py) — hand-built
timelines with known answers, boundary semantics, and plan-shape guards
(single-exchange as-of; no nested-loop range join)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from doc_parser_spark.operators.temporal import asof_join, range_join


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _final_plan(df) -> str:
    """The final adaptive plan of ``df``'s own execution."""
    df.collect()
    return (
        df._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()
    )


def _ts(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


class TestAsofJoin:
    def _sides(self, spark):
        left = _ts(
            spark,
            [(1, "u1", 100), (2, "u1", 205), (3, "u1", 399), (4, "u2", 50),
             (5, "u3", 10)],
            ["id", "key", "t"],
        ).selectExpr("id", "key", "cast(t as timestamp) AS t")
        right = _ts(
            spark,
            [("u1", 100, 1.0), ("u1", 200, 2.0), ("u1", 300, 3.0),
             ("u2", 60, 4.0)],
            ["key", "rt", "v"],
        ).selectExpr("key", "cast(rt as timestamp) AS rt", "v")
        return left, right

    def test_backward(self, spark):
        left, right = self._sides(spark)
        out = {
            r["id"]: (r["rt_matched"], r["v_matched"])
            for r in asof_join(
                left, right, ["key"], "t", "rt", direction="backward"
            ).collect()
        }
        # id 1: exact match at 100; id 2: latest <= 205 is 200; id 3: 300
        assert out[1][1] == 1.0
        assert out[2][1] == 2.0
        assert out[3][1] == 3.0
        assert out[4] == (None, None)  # u2's only right is at 60 > 50
        assert out[5] == (None, None)  # u3 has no right rows at all

    def test_forward(self, spark):
        left, right = self._sides(spark)
        out = {
            r["id"]: r["v_matched"]
            for r in asof_join(
                left, right, ["key"], "t", "rt", direction="forward"
            ).collect()
        }
        assert out[1] == 1.0   # exact match still counts forward
        assert out[2] == 3.0   # earliest >= 205 is 300
        assert out[3] is None  # nothing at/after 399
        assert out[4] == 4.0
        assert out[5] is None

    def test_tolerance(self, spark):
        left, right = self._sides(spark)
        out = {
            r["id"]: r["v_matched"]
            for r in asof_join(
                left, right, ["key"], "t", "rt",
                direction="backward", tolerance=10,
            ).collect()
        }
        assert out[1] == 1.0   # gap 0
        assert out[2] == 2.0   # gap 5
        assert out[3] is None  # gap 99 > 10 → nulled

    def test_single_exchange_plan(self, spark):
        left, right = self._sides(spark)
        plan = _plan(
            asof_join(left, right, ["key"], "t", "rt")
        )
        # the union-tag pattern: exactly one hash exchange (the window on
        # the key), never a join operator at all
        assert plan.count("Arguments: hashpartitioning") == 1
        assert "Join" not in plan


class TestRangeJoin:
    def _sides(self, spark):
        points = _ts(
            spark,
            [(1, "k", 100), (2, "k", 150), (3, "k", 199), (4, "k", 200),
             (5, "k", 1500), (6, "other", 150)],
            ["pid", "key", "p"],
        )
        intervals = _ts(
            spark,
            [(10, "k", 100, 200),     # [100, 200): catches 100,150,199
             (11, "k", 140, 1600),    # spans many buckets: 150,199,1500 + 200
             (12, "other", 0, 1000)],
            ["iid", "key", "s", "e"],
        )
        return points, intervals

    def test_boundaries_and_multi_bucket(self, spark):
        points, intervals = self._sides(spark)
        pairs = {
            (r["pid"], r["iid"])
            for r in range_join(
                points, intervals, ["key"], "p", "s", "e", bucket_width=64
            ).collect()
        }
        assert pairs == {
            (1, 10), (2, 10), (3, 10),         # start incl, end excl (4 out)
            (2, 11), (3, 11), (4, 11), (5, 11),
            (6, 12),                            # key isolation
        }

    def test_exactly_once_per_pair(self, spark):
        # an interval touching many buckets must not duplicate pairs
        points, intervals = self._sides(spark)
        out = range_join(
            points, intervals, ["key"], "p", "s", "e", bucket_width=16
        ).groupBy("pid", "iid").count().where("count > 1")
        assert out.count() == 0

    def test_no_nested_loop_plan(self, spark):
        points, intervals = self._sides(spark)
        plan = _plan(
            range_join(points, intervals, ["key"], "p", "s", "e", 64)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRollup:
    def test_cascade_equals_direct_and_halfway_pinned(self, spark):
        from doc_parser_spark.operators.temporal import rollup_timeseries

        # 8 events in one day across 2 hours; values sum to 307.03 —
        # avg 38.37875 is EXACTLY halfway at 4 dp, the case that exposed
        # float-round divergence (pinned: integer HALF_UP → .3788)
        vals = [0.03, 50.0, 50.0, 50.0, 50.0, 50.0, 50.0, 7.0]
        rows = [
            (i, f"2024-01-18 0{i % 2}:0{i}:00", "signup", v)
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, ["id", "ts", "event_type", "value"]
        ).selectExpr("cast(ts as timestamp) ts", "event_type", "value")
        out = rollup_timeseries(df, "ts", ["event_type"], "value")
        day = [r for r in out.collect() if r["level"] == "day"]
        assert len(day) == 1
        assert day[0]["n_events"] == 8
        assert day[0]["sum_value"] == 307.03
        assert day[0]["min_value"] == 0.03
        assert day[0]["max_value"] == 50.0
        assert day[0]["avg_value"] == 38.3788  # HALF_UP, engine-exact
        # every hour-level count folds up to the day count
        hours = [r for r in out.collect() if r["level"] == "hour"]
        assert sum(r["n_events"] for r in hours) == 8
        assert sum(float(r["sum_value"]) for r in hours) == pytest.approx(
            307.03
        )

    def test_cascade_scans_raw_once(self, spark):
        from doc_parser_spark.operators.temporal import rollup_timeseries

        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", "a", 1.0),
             (2, "2024-01-01 01:10:00", "b", 2.0)],
            ["id", "ts", "event_type", "value"],
        ).selectExpr("cast(ts as timestamp) ts", "event_type", "value")
        out = rollup_timeseries(df, "ts", ["event_type"], "value")
        # the property, read off the plan that ran (not explain() before
        # it): the union's three branches share the finer levels'
        # exchanges, so the raw input is scanned once
        plan = _final_plan(out)
        assert plan.count("Scan ExistingRDD") == 1
        assert "ReusedExchange" in plan


class TestRollingFeatures:
    def test_point_in_time_window(self, spark):
        from doc_parser_spark.operators.temporal import rolling_features

        # one key, events at t = 0, 50, 100, 200; 100-second trailing
        # window (inclusive frame [t-99, t])
        rows = [(1, "k", 0, 10.0), (2, "k", 50, 20.0),
                (3, "k", 100, 30.0), (4, "k", 200, 40.0),
                (5, "other", 60, 99.0)]
        df = spark.createDataFrame(
            rows, ["id", "key", "t", "value"]
        ).selectExpr("id", "key", "cast(t as timestamp) AS ts", "value")
        out = {
            r["id"]: (r["trailing_n"], r["trailing_sum"])
            for r in rolling_features(
                df, "ts", ["key"], "value", window_seconds=100
            ).collect()
        }
        assert out[1] == (1, 10.0)
        assert out[2] == (2, 30.0)   # frame [-49, 50] holds t=0 and t=50
        assert out[3] == (2, 50.0)   # frame [1, 100] EXCLUDES t=0
        assert out[4] == (1, 40.0)   # nothing within [101, 200]
        assert out[5] == (1, 99.0)   # key isolation

    def test_no_future_leakage(self, spark):
        from doc_parser_spark.operators.temporal import rolling_features

        rows = [(1, "k", 100, 1.0), (2, "k", 101, 100.0)]
        df = spark.createDataFrame(
            rows, ["id", "key", "t", "value"]
        ).selectExpr("id", "key", "cast(t as timestamp) AS ts", "value")
        out = {
            r["id"]: r["trailing_sum"]
            for r in rolling_features(
                df, "ts", ["key"], "value", window_seconds=50
            ).collect()
        }
        assert out[1] == 1.0    # the later event must NOT leak backward
        assert out[2] == 101.0


class TestAsofNulls:
    def test_null_timestamps_never_match(self, spark):
        # found by edge sweep: a null-ts right row sorted first and leaked
        # into every left row; a null-ts left row picked up whatever the
        # window had seen. Both must yield NO match instead.
        left = _ts(spark, [(1, "k", 100), (2, "k", None)],
                   ["id", "key", "t"]).selectExpr(
            "id", "key", "cast(t as timestamp) t")
        right = _ts(spark, [("k", 50, 1.0), ("k", None, 9.0)],
                    ["key", "rt", "v"]).selectExpr(
            "key", "cast(rt as timestamp) rt", "v")
        for d, want1 in (("backward", 1.0), ("forward", None)):
            out = {
                r["id"]: r["v_matched"]
                for r in asof_join(
                    left, right, ["key"], "t", "rt", direction=d
                ).collect()
            }
            assert out[1] == want1
            assert out[2] is None


class TestFunnel:
    def _ev(self, spark):
        rows = [
            ("u1", 10, "signup"), ("u1", 20, "click"), ("u1", 30, "purchase"),
            ("u2", 10, "signup"), ("u2", 30, "click"), ("u2", 20, "purchase"),
            ("u2", 40, "purchase"),
            ("u3", 5, "signup"), ("u3", 4, "click"),
            ("u4", 7, "click"), ("u4", 7, "signup"), ("u4", 7, "purchase"),
        ]
        return spark.createDataFrame(rows, ["u", "t", "y"]).selectExpr(
            "u", "cast(t as timestamp) t", "y"
        )

    def test_ordered_chain_semantics(self, spark):
        from doc_parser_spark.operators.temporal import funnel

        out = {
            r["u"]: (r["t_signup"], r["t_click"], r["t_purchase"],
                     r["reached"])
            for r in funnel(
                self._ev(spark), "u", "t", "y",
                ["signup", "click", "purchase"],
            ).collect()
        }
        assert out["u1"] == (10, 20, 30, 3)
        # purchase BEFORE the click doesn't count; the later one does
        assert out["u2"] == (10, 30, 40, 3)
        # click before signup never counts
        assert out["u3"] == (5, None, None, 1)
        # all three at the SAME timestamp complete the chain (>= semantics,
        # enforced by the (t, step-index) fold order at ties)
        assert out["u4"] == (7, 7, 7, 3)

    def test_single_exchange(self, spark):
        from doc_parser_spark.operators.temporal import funnel

        plan = _plan(
            funnel(self._ev(spark), "u", "t", "y",
                   ["signup", "click", "purchase"])
        )
        # one per-user aggregate; never the k-self-join shape
        assert plan.count("Arguments: hashpartitioning") == 1
        assert "Join" not in plan


class TestDifferentialFuzz:
    """Differential testing against independent reference implementations:
    asof_join vs pandas.merge_asof (the semantics it claims), range_join
    vs a brute-force nested loop. Random timelines, fixed seeds."""

    def test_asof_matches_pandas_merge_asof(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(42)
        for trial in range(4):
            nl, nr = int(rng.integers(5, 40)), int(rng.integers(0, 30))
            keys = ["a", "b", "c"]
            lpdf = pd.DataFrame({
                "id": range(nl),
                "key": rng.choice(keys, nl),
                "t": rng.integers(0, 500, nl),
            })
            rpdf = pd.DataFrame({
                "key": rng.choice(keys, nr),
                "rt": rng.integers(0, 500, nr),
                "v": rng.integers(0, 1000, nr).astype(float),
            })
            left = spark.createDataFrame(lpdf).selectExpr(
                "id", "key", "cast(t as timestamp) t")
            right = spark.createDataFrame(rpdf).selectExpr(
                "key", "cast(rt as timestamp) rt", "v"
            ) if nr else spark.createDataFrame(
                [], "key string, rt timestamp, v double")
            for direction in ("backward", "forward"):
                got = {
                    r["id"]: r["v_matched"]
                    for r in asof_join(
                        left, right, ["key"], "t", "rt",
                        direction=direction,
                    ).collect()
                }
                lp = lpdf.assign(t=pd.to_datetime(lpdf.t, unit="s")) \
                         .sort_values("t")
                rp = rpdf.assign(rt=pd.to_datetime(rpdf.rt, unit="s")) \
                         .sort_values("rt")
                if len(rp):
                    exp_df = pd.merge_asof(
                        lp, rp, left_on="t", right_on="rt", by="key",
                        direction=direction,
                    )
                    exp = dict(zip(exp_df["id"],
                                   [None if pd.isna(v) else v
                                    for v in exp_df["v"]]))
                else:
                    exp = {i: None for i in lpdf["id"]}
                assert got == exp, (trial, direction)

    def test_range_join_matches_brute_force(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        for trial in range(3):
            npts, nint = int(rng.integers(5, 50)), int(rng.integers(1, 30))
            keys = ["k1", "k2"]
            pts = [(i, str(rng.choice(keys)), int(rng.integers(0, 1000)))
                   for i in range(npts)]
            ivs = []
            for i in range(nint):
                s = int(rng.integers(0, 1000))
                ivs.append((100 + i, str(rng.choice(keys)), s,
                            s + int(rng.integers(0, 400))))
            points = spark.createDataFrame(pts, ["pid", "key", "p"])
            intervals = spark.createDataFrame(ivs, ["iid", "key", "s", "e"])
            bw = int(rng.choice([7, 64, 500]))
            got = {
                (r["pid"], r["iid"])
                for r in range_join(
                    points, intervals, ["key"], "p", "s", "e", bw
                ).collect()
            }
            brute = {
                (pid, iid)
                for pid, pk, p in pts
                for iid, ik, s, e in ivs
                if pk == ik and s <= p < e
            }
            assert got == brute, (trial, bw)


class TestResampleFfill:
    def test_gap_filling_semantics(self, spark):
        from doc_parser_spark.operators.temporal import resample_ffill

        rows = [("k", 103, 1.0), ("k", 131, 2.0), ("k", 175, 3.0),
                ("q", 50, 9.0)]
        df = spark.createDataFrame(rows, ["key", "t", "v"]).selectExpr(
            "key", "cast(t as timestamp) t", "v")
        out = sorted(
            (r["key"], r["bucket"], r["value_ffill"])
            for r in resample_ffill(df, ["key"], "t", "v", 10).collect()
        )
        assert out == [
            ("k", 100, 1.0), ("k", 110, 1.0), ("k", 120, 1.0),
            ("k", 130, 2.0), ("k", 140, 2.0), ("k", 150, 2.0),
            ("k", 160, 2.0), ("k", 170, 3.0),
            ("q", 50, 9.0),  # single-bucket key: its own value
        ]

    def test_tiebreak_decides_same_second(self, spark):
        from doc_parser_spark.operators.temporal import resample_ffill

        rows = [("k", 100, 5, 1.0), ("k", 100, 9, 2.0)]
        df = spark.createDataFrame(
            rows, ["key", "t", "eid", "v"]
        ).selectExpr("key", "cast(t as timestamp) t", "eid", "v")
        out = resample_ffill(
            df, ["key"], "t", "v", 10, tiebreak_col="eid"
        ).collect()
        assert len(out) == 1
        assert out[0]["value_ffill"] == 2.0  # highest eid wins the second


class TestChooseRollupLevels:
    """Sparse-data guard for rollup_timeseries (round-5 verdict #7): one
    approx-distinct pre-pass drops levels that would not fold rows."""

    def _events(self, spark, step_s, n=3000):
        # one event every step_s seconds from a fixed epoch, one key
        return spark.range(n).selectExpr(
            f"timestamp_seconds(1700000000 + id * {step_s}) AS ts",
            "'signup' AS event_type",
            "cast(id % 7 as double) AS value",
        )

    def test_sparse_prunes_minute_keeps_hour(self, spark):
        from doc_parser_spark.operators.temporal import choose_rollup_levels

        # one event per minute: minute level folds nothing (buckets==rows),
        # hour folds 60×, day 1440×
        df = self._events(spark, step_s=60)
        kept, stats = choose_rollup_levels(df, "ts", ["event_type"])
        assert kept == ("hour", "day")
        assert stats["pruned"] == ("minute",)
        assert stats["rows"] == 3000
        # HLL estimate of the minute level is ~rows (±2.3%)
        assert abs(stats["est_buckets"]["minute"] - 3000) < 300

    def test_dense_keeps_all_levels(self, spark):
        from doc_parser_spark.operators.temporal import choose_rollup_levels

        # 10 events per second: every level folds ≥ 10×
        df = spark.range(3000).selectExpr(
            "timestamp_seconds(1700000000 + cast(id / 600 as int) * 60) AS ts",
            "'signup' AS event_type",
            "cast(id as double) AS value",
        )
        kept, stats = choose_rollup_levels(df, "ts", ["event_type"])
        assert kept == ("minute", "hour", "day")
        assert stats["pruned"] == ()

    def test_everything_sparse_keeps_coarsest(self, spark):
        from doc_parser_spark.operators.temporal import choose_rollup_levels

        # one event per DAY: even the day level folds nothing — the
        # coarsest level is still kept (never returns an empty hierarchy)
        df = self._events(spark, step_s=86400, n=500)
        kept, stats = choose_rollup_levels(df, "ts", ["event_type"])
        assert kept == ("day",)
        assert stats["pruned"] == ("minute", "hour")

    def test_null_keys_count_distinctly(self, spark):
        """NULL key parts must not collide with each other or with real
        values: concat_ws SKIPS nulls, so without the \\x01 coalesce a
        (minute, NULL) bucket would collapse into (minute,) and the
        estimated fold could flip a keep/prune decision (and diverge
        from the DuckDB oracle, which drops NULL keys entirely)."""
        from doc_parser_spark.operators.temporal import choose_rollup_levels

        # 2 events per minute across 300 minutes, half with NULL key:
        # 600 minute-buckets if NULL is its own key (fold 1.0 → prune),
        # but only 300 if NULLs vanish from the key (fold 2.0 → keep)
        df = spark.range(600).selectExpr(
            "timestamp_seconds(1700000000 + (id % 300) * 60) AS ts",
            "CASE WHEN id < 300 THEN 'signup' END AS event_type",
            "cast(id as double) AS value",
        )
        kept, stats = choose_rollup_levels(df, "ts", ["event_type"])
        assert "minute" in stats["pruned"]
        # HLL estimate sees ~600 distinct minute buckets, not ~300
        assert stats["est_buckets"]["minute"] > 450

    def test_composes_with_rollup(self, spark):
        from doc_parser_spark.operators.temporal import (
            choose_rollup_levels,
            rollup_timeseries,
        )

        df = self._events(spark, step_s=60, n=600)
        kept, _ = choose_rollup_levels(df, "ts", ["event_type"])
        out = rollup_timeseries(df, "ts", ["event_type"], "value", levels=kept)
        lvls = {r["level"] for r in out.select("level").distinct().collect()}
        assert lvls == {"hour", "day"}
