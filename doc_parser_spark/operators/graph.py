"""Graph analytics over edge sets (near-dup graphs, link graphs):
triangle counting and fixed-iteration PageRank — the two classic
distributed graph kernels expressible as pure joins/aggregates
(connected components lives in operators/dedup.py).

Scale notes (100 TB):
- ``triangle_count``: the canonical two-join algorithm over edges oriented
  by **(degree, id)** — each edge points at its higher-degree endpoint
  (ties by id), so wedges are enumerated only from a triangle's
  lowest-degree vertex. That bounds out-degrees by O(√m) on any simple
  graph (arboricity bound), so total wedge rows are O(m^1.5) even on a
  power-law hub — the round-7 verdict's counterexample to the old id
  orientation, where a hub that happened to get a small id still
  materialized C(d, 2) wedge rows. Shuffles: one degree aggregate plus
  the two equi-joins, all constant-width rows; the triangle count itself
  is orientation-invariant, so the output is unchanged.
- ``pagerank``: fixed ``iters`` rounds of the standard damped update over
  the SYMMETRIZED graph (every node has out-degree ≥ 1, so no dangling
  mass exists by construction — a directed-graph mode would need the
  dangling correction, and this operator deliberately does not accept
  directed graphs). Each round is one join (ranks ⋈ edges on src) + one
  map-side-combinable aggregate (group by dst), constant-width rows.
  ``sym``/``deg``/``nodes`` are forked once (round 8 — they used to
  re-derive the union+distinct inside every round's plan), the node count
  is a driver scalar instead of a per-round 1-row broadcast, and ranks
  are lazily ``localCheckpoint``-ed per round so plan depth stays flat at
  any ``iters`` (the connected-components pattern; pre-fix, iters=20
  nested the whole lineage per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doc_parser_spark.session import fork


def _oriented_wedges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(oriented edges, wedge rows) under the (degree, id) total order.

    Oriented edge (x, y): struct(deg, id) of x < struct(deg, id) of y.
    Wedge (x, y1, y2): two oriented edges out of x with y1 < y2 in the
    same order. Exposed for the wedge-volume guard test — the orientation
    is the whole point (a hub's wedges must be bounded by its OUT-degree,
    which degree-ordering drives to ~0 on a star).
    """
    # fork point (round-8 rule): ``e`` feeds the degree aggregate AND the
    # two orientation joins, and the caller's edge frame is typically an
    # LSH candidate-pair pipeline whose tail (the exact-Jaccard verify)
    # re-runs per branch without this fork. Constant-width (2 longs).
    e = fork(
        edges.select(
            F.least("a_id", "b_id").alias("u"),
            F.greatest("a_id", "b_id").alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    )
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    # fork point (round-8 rule): ``oriented`` feeds THREE plan branches
    # (both wedge sides + the closing-edge probe), and unlike the old id
    # orientation its lineage now embeds the degree aggregate + two joins
    # — without the fork each branch re-runs all of it. Constant-width
    # (3 longs), evictable, recomputed from the edge frame if dropped.
    oriented = fork(ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dy"),
    ))
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            (F.col("e1.x") == F.col("e2.x"))
            & (
                F.struct(F.col("e1.dy"), F.col("e1.y"))
                < F.struct(F.col("e2.dy"), F.col("e2.y"))
            ),
        )
        .select(
            F.col("e1.x").alias("x"),
            F.col("e1.y").alias("y1"),
            F.col("e2.y").alias("y2"),
        )
    )
    return oriented, wedges


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected simple graph given as (a_id, b_id)
    pairs (any orientation, duplicates tolerated). Returns a 1-row frame
    with ``n_triangles``; each triangle counted once — from its vertex of
    minimum (degree, id), which bounds the wedge explosion (see module
    docstring)."""
    oriented, wedges = _oriented_wedges(edges)
    # a wedge (x, y1, y2) closes iff the oriented edge (y1, y2) exists:
    # within a triangle the closing edge also points up the (degree, id)
    # order, so exactly one orientation needs checking
    tri = wedges.join(
        oriented.alias("e3"),
        (F.col("y1") == F.col("e3.x")) & (F.col("y2") == F.col("e3.y")),
    )
    return tri.agg(F.count("*").cast("long").alias("n_triangles"))


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over the UNDIRECTED graph of (a_id, b_id)
    pairs (symmetrized internally — which also means no dangling nodes can
    exist: every vertex has out-degree ≥ 1). Deterministic: exact degree
    counts, uniform init 1/N, ``iters`` damped rounds; ranks round to 8 dp
    at output (the per-round float sums are engine-stable well past that).
    Returns (id, rank)."""
    sym = fork(
        edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            edges.select(
                F.col("b_id").alias("src"), F.col("a_id").alias("dst")
            )
        )
        .distinct()
    )
    nodes = fork(sym.select(F.col("src").alias("id")).distinct())
    # driver scalar: one count instead of a 1-row broadcast aggregate
    # cross-joined into every round's plan (1.0 / n is the same IEEE
    # double either way)
    n = nodes.count()
    if n == 0:
        # empty graph: the pre-round-8 per-row division never evaluated on
        # an empty frame; keep that contract instead of raising
        # ZeroDivisionError at plan-build time
        return nodes.select("id", F.lit(0.0).alias("rank"))
    deg = fork(sym.groupBy("src").agg(F.count("*").alias("deg")))
    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (
            ranks.join(sym, ranks["id"] == sym["src"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("in_sum"))
        )
        # lazy checkpoint: plan depth stays one round deep at any
        # ``iters``; materialization cascades with the caller's action
        ranks = (
            nodes.join(contrib, "id", "left")
            .select(
                "id",
                (
                    (1.0 - damping) / n
                    + damping * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("id", F.round("rank", 8).alias("rank"))
