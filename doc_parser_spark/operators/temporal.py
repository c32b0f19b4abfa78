"""Temporal join operators Spark's DataFrame API lacks as primitives:
as-of join (latest/next match by time, pandas ``merge_asof`` semantics) and
interval/range join (point-in-interval) — both expressed as compositions of
built-in operators, no UDFs, per the brief's custom-operator ladder.

Scale notes (100 TB):
- ``asof_join`` is the union-tag pattern: tag both sides, union, ONE
  shuffle on the key, per-key time sort, ``last(ignorenulls)`` propagates
  the most recent right payload to each left row. No range explosion, no
  per-row lookup join; the alternative (equi-join then per-left-row max)
  shuffles the full candidate cross product, this shuffles |L| + |R| rows
  exactly once. Hot keys serialize within their partition (a total
  per-key time order is inherent to as-of semantics); AQE skew-split
  handles the rest.
- ``range_join`` buckets the numeric domain: an interval explodes to the
  fixed-width buckets it touches, a point hashes to exactly ONE bucket, so
  the equi-join on (keys, bucket) + residual predicate finds every pair
  exactly once (no dedup pass) and never falls back to
  BroadcastNestedLoopJoin / CartesianProduct. Bucket width is the fanout
  lever: ~ the median interval length is right; intervals explode to
  len/width + 1 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from doc_parser_spark.session import fork


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """Left as-of join: for each left row, the single right row with equal
    ``on`` keys and the latest ``right_ts`` <= ``left_ts`` (direction
    'backward') or the earliest >= (direction 'forward'); exact timestamp
    matches count (pandas ``merge_asof`` ``allow_exact_matches=True``).

    ``tolerance`` (seconds): matches farther than this are nulled, like
    ``merge_asof(tolerance=...)``. Right payload columns come back
    suffixed ``_matched``; unmatched left rows keep nulls (left-outer
    semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"bad direction {direction!r}")
    payload_cols = [c for c in right.columns if c not in on]
    if right_ts not in payload_cols:
        raise ValueError("right_ts must not be a join key")
    # a null timestamp is "no position in time": null-ts RIGHT rows can
    # never be the as-of match (they'd sort first and leak into every
    # left row), and null-ts LEFT rows match nothing (below)
    right = right.where(F.col(right_ts).isNotNull())
    r = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__r"),
        F.lit(0).alias("__side"),
    )
    l = (
        left.withColumn("__ts", F.col(left_ts))
        .withColumn("__r", F.lit(None).cast(dict(r.dtypes)["__r"]))
        .withColumn("__side", F.lit(1))
    )
    both = l.unionByName(r, allowMissingColumns=True)
    ts_order = (
        F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    )
    # at equal timestamps the right row must be visible to the left row:
    # __side 0 (right) sorts first either way
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = both.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    out = matched.where(F.col("__side") == 1).withColumn(
        "__m",
        F.when(F.col(left_ts).isNotNull(), F.col("__m")),
    )
    if tolerance is not None:
        gap = F.abs(
            F.col(left_ts).cast("timestamp").cast("long")
            - F.col("__m")[right_ts].cast("timestamp").cast("long")
        )
        out = out.withColumn(
            "__m", F.when(gap <= tolerance, F.col("__m"))
        )
    return out.select(
        *left.columns,
        *[F.col("__m")[c].alias(c + "_matched") for c in payload_cols],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Inner point-in-interval join: pairs where ``on`` keys match and
    ``start_col <= point_col < end_col`` (end exclusive), over a numeric
    (e.g. epoch-seconds) domain — without a nested-loop plan.

    Each interval explodes to every ``bucket_width``-wide bucket it
    touches; each point lives in exactly one bucket, so the (keys, bucket)
    equi-join plus the residual range predicate yields each qualifying
    pair exactly once.
    """
    pb = points.withColumn(
        "__b", F.floor(F.col(point_col) / bucket_width).cast("long")
    )
    ib = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_width).cast("long"),
                F.floor(F.col(end_col) / bucket_width).cast("long"),
            )
        ),
    )
    return (
        pb.join(ib, on + ["__b"])
        .where(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) < F.col(end_col))
        )
        .drop("__b")
    )


def choose_rollup_levels(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    levels: tuple[str, ...] = ("minute", "hour", "day"),
    min_fold: float = 2.0,
) -> tuple[tuple[str, ...], dict]:
    """Cardinality pre-pass for ``rollup_timeseries`` — the guard for its
    one documented scale-killer (docs/SCALE.md round-4 sparse worst case:
    a timestamp distribution where nearly every (key, minute) is unique
    makes the cascade persist ~2× the input through the fine levels,
    273 s vs 13 s on the same 20M rows).

    ONE map-side-combined aggregate (no full-row shuffle: global agg of
    approx_count_distinct partials) estimates the bucket count of every
    candidate level; levels finer than the first one that actually folds
    rows (``rows / est_buckets ≥ min_fold``) are dropped. Returns
    ``(kept_levels, stats)`` where stats has per-level estimated bucket
    counts, the row count, and what was pruned — callers log it and pass
    ``kept_levels`` to ``rollup_timeseries`` (composition keeps the
    rollup itself bit-exact for oracle checks).

    approx_count_distinct (HyperLogLog++) is ±~2.3% at default rsd;
    ``min_fold`` ≥ 2 leaves ample slack, and a wrong keep/prune near the
    boundary only trades a marginal level's cost, never correctness.
    """
    if not levels:
        raise ValueError("levels must be non-empty")
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for lvl in levels:
        parts = [F.date_trunc(lvl, F.col(ts_col)).cast("string")]
        parts += [F.col(c).cast("string") for c in key_cols]
        # coalesce each part: concat_ws SKIPS nulls (so ('a', NULL) and
        # ('a',) would collide) while SQL || propagates them — a \x01
        # sentinel keeps bucket identity engine-portable AND injective
        parts = [F.coalesce(p, F.lit("\x01")) for p in parts]
        aggs.append(
            F.approx_count_distinct(F.concat_ws("\x00", *parts)).alias(lvl)
        )
    row = df.agg(*aggs).first()
    rows = row["_rows"]
    est = {lvl: row[lvl] for lvl in levels}
    kept = list(levels)
    # prune from the fine end; always keep at least the coarsest level
    while len(kept) > 1 and rows < min_fold * max(est[kept[0]], 1):
        kept.pop(0)
    stats = {
        "rows": rows,
        "est_buckets": est,
        "kept": tuple(kept),
        "pruned": tuple(l for l in levels if l not in kept),
        "min_fold": min_fold,
    }
    return tuple(kept), stats


def rollup_timeseries(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    levels: tuple[str, ...] = ("minute", "hour", "day"),
) -> DataFrame:
    """Multi-resolution continuous aggregate (the hypertable rollup): one
    row per (level, bucket, keys) with count/sum/min/max/avg, where each
    coarser level aggregates the FINER level's partials, never the raw
    table. ``levels`` must be increasing date_trunc granularities.

    Scale (100 TB): only the base level touches raw rows (one map-side-
    combined exchange); each cascade step re-aggregates a table that is
    orders of magnitude smaller (minute→hour folds 60 partials, hour→day
    24), so the refresh cost of the full hierarchy is ~the base aggregate
    alone — the reason continuous aggregates exist. count/sum/min/max are
    the classic mergeable partials; avg derives as sum/count at output.

    Sparse-data guard: when nearly every (key, finest-bucket) is unique
    the cascade's cost tracks OUTPUT bucket count, not input (the round-4
    soak's one scale-killer). Run ``choose_rollup_levels`` first — a
    single cheap cardinality pre-pass that drops levels which wouldn't
    fold rows — and pass its ``kept_levels`` here.

    Sums accumulate in fixed-point ``decimal(18, 2)``: float sums are
    order-dependent, so a cascaded double sum can land on the other side
    of a rounding boundary from a direct sum (it did: 307.03/8 =
    38.37875, exactly halfway at 4 dp) — decimal sums are exact and
    associative, so every level and every engine agrees bit for bit
    before the output rounding.
    """
    cur = df.groupBy(
        F.date_trunc(levels[0], F.col(ts_col)).alias("bucket"), *key_cols
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
    # each level is MATERIALIZED (fork) before the next reads it — in
    # production every level is its own table, which is the whole point of
    # a continuous aggregate; without this, the lazy union re-derives each
    # branch from the raw scan and a 3-level hierarchy scans raw 3×
    # (observed in the physical plan; pinned in tests/test_temporal.py)
    cur = fork(cur)
    parts = [cur.withColumn("level", F.lit(levels[0]))]
    for lvl in levels[1:]:
        cur = fork(cur.groupBy(
            F.date_trunc(lvl, F.col("bucket")).alias("bucket"), *key_cols
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        ))
        parts.append(cur.withColumn("level", F.lit(lvl)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "level",
        "bucket",
        *key_cols,
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("sum_value").cast("double"), 4).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
        # avg rounded to 4 dp in EXACT integer arithmetic — float round()
        # conventions diverge between engines precisely at the halfway
        # values that sum/2^k quotients produce (38.37875 → Spark rounds
        # the shortest decimal string half-up to .3788, engines rounding
        # the binary value give .3787). HALF_UP(a/n) == (2a + n) div (2n)
        # for positive integers, identical everywhere.
        (
            F.expr(
                "(200 * cast(sum_value * 100 as bigint) + n_events)"
                " div (2 * n_events)"
            )
            / F.lit(10000.0)
        ).alias("avg_value"),
    )


def rolling_features(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    window_seconds: int,
) -> DataFrame:
    """Trailing time-range features: for every event, the count/sum/mean of
    the SAME key's events in the preceding ``window_seconds`` (inclusive of
    the current row) — the standard point-in-time feature-engineering shape
    (no leakage: only past rows enter the window).

    Spark's RANGE window frame does this natively over an epoch-seconds
    ordering: ONE shuffle on the key, then a per-key time sort; no
    self-join, no interval explosion. Same caveats as asof_join for hot
    keys. Sum accumulates in decimal(18,2) so the sliding-window partial
    arithmetic is exact (same rationale as rollup_timeseries).
    """
    from pyspark.sql import Window

    sec = F.col(ts_col).cast("timestamp").cast("long")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(sec)
        .rangeBetween(-(window_seconds - 1), 0)
    )
    dec = F.col(value_col).cast("decimal(18,2)")
    out = df.select(
        *df.columns,
        F.count("*").over(w).cast("long").alias("trailing_n"),
        F.sum(dec).over(w).alias("__sum_dec"),
    )
    # mean rounds via integer HALF_UP — same rationale as
    # rollup_timeseries: engines disagree on float round() exactly at the
    # halfway values sum/2^k windows produce (278.09/8 = 34.76125)
    return (
        out.withColumn(
            "trailing_sum", F.round(F.col("__sum_dec").cast("double"), 4)
        )
        .withColumn(
            "trailing_mean",
            F.expr(
                "(200 * cast(__sum_dec * 100 as bigint) + trailing_n)"
                " div (2 * trailing_n)"
            )
            / F.lit(10000.0),
        )
        .drop("__sum_dec")
    )


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered funnel: per user, the FIRST time each step completes given
    every earlier step already completed at an earlier-or-equal time
    (signup → click → purchase). Emits one row per user with the epoch
    second of each completed step (null once the chain breaks) and
    ``reached`` = number of completed steps.

    Scale: ONE shuffle (the per-user aggregate); the step chain folds
    row-locally over the user's time-sorted events with an ``aggregate``
    HOF — the naive alternative is k sequential self-joins, each a full
    shuffle. Per-user state is k timestamps; events per user bound the
    fold cost, not corpus size.
    """
    k = len(steps)
    # same-timestamp events must fold in FUNNEL order (signup before click
    # at an equal ts), so the sort key is (t, step index) — otherwise the
    # chain's >= semantics would depend on event-name alphabetics at ties
    idx = F.lit(k)
    for i, step in enumerate(steps):
        idx = F.when(F.col(type_col) == step, i).otherwise(idx)
    ev = df.select(
        F.col(user_col),
        F.struct(
            F.col(ts_col).cast("timestamp").cast("long").alias("t"),
            idx.cast("int").alias("i"),
            F.col(type_col).alias("y"),
        ).alias("e"),
    )
    per_user = ev.groupBy(user_col).agg(
        F.sort_array(F.collect_list("e")).alias("evs")
    )
    acc0 = "named_struct(" + ", ".join(
        f"'s{i}', CAST(NULL AS BIGINT)" for i in range(k)
    ) + ")"
    set_fields = []
    for i, step in enumerate(steps):
        prev_ok = "true" if i == 0 else f"acc.s{i - 1} IS NOT NULL"
        set_fields.append(
            f"'s{i}', CASE WHEN acc.s{i} IS NULL AND e.y = '{step}' "
            f"AND {prev_ok} THEN e.t ELSE acc.s{i} END"
        )
    fold = (
        f"aggregate(evs, {acc0}, "
        f"(acc, e) -> named_struct({', '.join(set_fields)}))"
    )
    out = per_user.withColumn("__f", F.expr(fold))
    cols = [F.col(user_col)]
    reached = F.lit(0)
    for i, step in enumerate(steps):
        cols.append(F.col(f"__f.s{i}").alias(f"t_{step}"))
        reached = reached + F.when(
            F.col(f"__f.s{i}").isNotNull(), 1
        ).otherwise(0)
    return out.select(*cols, reached.cast("int").alias("reached"))


def resample_ffill(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    step_seconds: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Regularize an irregular series: per key, one row per ``step_seconds``
    bucket spanning that key's [min, max] time range, carrying the LAST
    observed value at-or-before the bucket (forward fill; buckets with an
    observation use its latest value). The standard gap-filling step
    before any fixed-step model/feature consumes event data.

    Scale: the bucket scaffold explodes row-locally from each key's
    1-row (min, max) aggregate — a key emits range/step rows, bounded by
    its own span, never corpus size; the fill is the asof union-tag
    pattern (one shuffle on the key, ``last(ignorenulls)`` over the
    time-sorted union of scaffold + observations).

    ``tiebreak_col``: deterministic order among observations sharing the
    same epoch second for a key (required for engine-exact fills when the
    data can collide at second resolution — it does at sf0.1).
    """
    sec = F.col(ts_col).cast("timestamp").cast("long")
    tb = (
        F.col(tiebreak_col).cast("long")
        if tiebreak_col
        else F.lit(0).cast("long")
    )
    obs = df.select(
        *key_cols,
        (sec - (sec % step_seconds)).alias("bucket"),
        sec.alias("__t"),
        tb.alias("__tb"),
        F.col(value_col).alias("__v"),
        F.lit(0).alias("__side"),
    )
    span = obs.groupBy(*key_cols).agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    scaffold = span.select(
        *key_cols,
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(step_seconds))
        ).alias("bucket"),
    ).select(
        *key_cols,
        "bucket",
        # the scaffold row sits at the END of its bucket so every
        # observation inside the bucket precedes it in the sort
        (F.col("bucket") + step_seconds - 1).alias("__t"),
        F.lit(9223372036854775807).alias("__tb"),
        F.lit(None).cast(dict(obs.dtypes)["__v"]).alias("__v"),
        F.lit(1).alias("__side"),
    )
    both = obs.unionByName(scaffold)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("__t").asc(), F.col("__tb").asc(),
                 F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = both.withColumn("__f", F.last("__v", ignorenulls=True).over(w))
    return filled.where(F.col("__side") == 1).select(
        *key_cols,
        F.col("bucket").cast("long").alias("bucket"),
        F.col("__f").alias("value_ffill"),
    )
