"""Fork-cache ownership (session.py::fork / ForkCache): every persist an
operator leaves behind for its caller's action is registered with the
entered ForkCache, so one ``release()`` empties Spark's CacheManager.

The check reads the CacheManager directly: a persisted Dataset stays
registered there until something unpersists it, whatever happens to the
Python frame, so the assertion needs no garbage-collection wait."""

from __future__ import annotations

import pytest

from doc_parser_spark.operators import curation, dedup, graph, search, temporal
from doc_parser_spark.session import ForkCache, fork

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _docs(spark, seed: int):
    # near-duplicate pairs (one changed word) so the pair operators emit rows
    rows = []
    for i in range(6):
        words = [WORDS[(seed + i + j) % len(WORDS)] for j in range(12)]
        rows.append((2 * i, " ".join(words)))
        rows.append((2 * i + 1, " ".join(words[:-1] + ["omega"])))
    return spark.createDataFrame(rows, ["id", "text"])


def _edges(spark, seed: int):
    n = 5 + seed
    pairs = [(a, b) for a in range(n) for b in range(a + 1, n) if (a + b) % 3]
    return spark.createDataFrame(pairs, ["a_id", "b_id"])


def _events(spark, seed: int):
    rows = [
        (f"2024-01-0{1 + seed} {h:02d}:{m:02d}:00", f"k{m % 2}", float(h + m))
        for h in range(3)
        for m in (0, 15, 30)
    ]
    return spark.createDataFrame(rows, ["ts", "key", "value"]).selectExpr(
        "cast(ts as timestamp) ts", "key", "value"
    )


# operator name -> builder over the seed-th tiny input
BUILDERS = {
    "lsh_candidate_pairs": lambda spark, seed: dedup.lsh_candidate_pairs(
        _docs(spark, seed), "id", "text"
    ),
    "simhash_hamming_pairs": lambda spark, seed: dedup.simhash_hamming_pairs(
        _docs(spark, seed), "id", "text"
    ),
    "duplicated_token_fraction": lambda spark, seed: (
        dedup.duplicated_token_fraction(_docs(spark, seed), "id", "text", k=3)
    ),
    "lm_bigram_score": lambda spark, seed: curation.lm_bigram_score(
        _docs(spark, seed), "id", "text"
    ),
    "triangle_count": lambda spark, seed: graph.triangle_count(
        _edges(spark, seed)
    ),
    "pagerank": lambda spark, seed: graph.pagerank(_edges(spark, seed)),
    "bm25_topk": lambda spark, seed: search.bm25_topk(
        _docs(spark, seed), "id", "text", ["alpha", "omega"], k=3
    ),
    "rollup_timeseries": lambda spark, seed: temporal.rollup_timeseries(
        _events(spark, seed), "ts", ["key"], "value", ("minute", "hour")
    ),
}


# operators whose branches share Spark's exchange reuse instead of a fork:
# they must leave nothing cached, so a persist re-added without an owner
# fails here
LAZY = {"lm_bigram_score", "bm25_topk", "rollup_timeseries"}


@pytest.mark.parametrize("name", BUILDERS)
def test_release_empties_cache_manager(spark, name):
    spark.catalog.clearCache()
    forks = ForkCache()
    try:
        with forks:
            outs = [BUILDERS[name](spark, seed) for seed in range(3)]
        for out in outs:
            out.write.format("noop").mode("overwrite").save()
        if name in LAZY:
            assert forks == [] and _cache_empty(spark)
        else:
            assert forks, f"{name} registered no fork"
            assert not _cache_empty(spark)
    finally:
        forks.release()
    assert _cache_empty(spark)
    assert forks == []


def test_fork_outside_a_scope_only_persists(spark):
    spark.catalog.clearCache()
    df = fork(spark.range(10))
    assert df.is_cached
    with ForkCache() as outer:
        a = fork(spark.range(11))
        with ForkCache() as inner:
            b = fork(spark.range(12))
        c = fork(spark.range(13))
    assert outer == [a, c] and inner == [b]
    outer.release()
    inner.release()
    assert not _cache_empty(spark)  # the unscoped fork is the caller's
    df.unpersist()
    assert _cache_empty(spark)
