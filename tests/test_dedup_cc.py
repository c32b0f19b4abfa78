"""Connected-components duplicate clustering: transitivity, determinism,
canonical selection, convergence bounds, and the scale shape of the plan.

The operator turns near-dup candidate PAIRS (lsh_candidate_pairs output)
into transitive CLUSTERS — the step a real dedup decision needs: A~B and
B~C must co-cluster A,B,C even when A~C itself misses the threshold.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from doc_parser_spark.operators.dedup import (
    cluster_canonical,
    connected_components,
    lsh_candidate_pairs,
)


def _pairs(spark, edges):
    return spark.createDataFrame(
        [Row(a_id=a, b_id=b) for a, b in edges], "a_id LONG, b_id LONG"
    )


def _labels(df) -> dict[int, int]:
    return {r["id"]: r["cluster_id"] for r in df.collect()}


class TestConnectedComponents:
    def test_path_graph_transitivity(self, spark):
        # 1-2, 2-3, 3-4: no direct 1-4 edge, still one cluster
        got = _labels(connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4)])))
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    def test_two_components_and_star(self, spark):
        edges = [(10, 11), (11, 12), (20, 21), (20, 22), (20, 23)]
        got = _labels(connected_components(_pairs(spark, edges)))
        assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 22: 20, 23: 20}

    def test_edge_direction_irrelevant(self, spark):
        # min id on the b side: symmetrisation must propagate both ways
        got = _labels(connected_components(_pairs(spark, [(5, 1), (5, 3)])))
        assert got == {1: 1, 3: 1, 5: 1}

    def test_empty_edges(self, spark):
        assert connected_components(_pairs(spark, [])).count() == 0

    def test_convergence_cap_raises(self, spark):
        # path of length 6 has diameter > 1 round
        edges = [(i, i + 1) for i in range(1, 7)]
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(_pairs(spark, edges), max_iterations=1)
        got = _labels(connected_components(_pairs(spark, edges)))
        assert set(got.values()) == {1}

    def test_from_lsh_pairs_chain_corpus(self, spark):
        # three variants sharing a base: 0~1 and 1~2 are near-dups; the
        # cluster must include all three regardless of whether 0~2 qualifies
        base = (
            "the quick brown fox jumps over the lazy dog while the patient "
            "observer takes careful notes about every single move it makes"
        )
        docs = spark.createDataFrame(
            [
                Row(doc_id=0, payload=base),
                Row(doc_id=1, payload=base + " alpha beta gamma delta"),
                Row(doc_id=2, payload=base + " alpha beta gamma delta eta theta iota kappa"),
                Row(doc_id=7, payload="completely unrelated text about winter weather patterns in the north"),
            ]
        )
        pairs = lsh_candidate_pairs(docs, "doc_id", "payload", threshold=0.2)
        comps = connected_components(pairs)
        got = _labels(comps)
        assert got[0] == got[1] == got[2] == 0
        assert 7 not in got  # no edges -> not in the component table


class TestClusterCanonical:
    def test_longest_wins_singletons_kept(self, spark):
        docs = spark.createDataFrame(
            [
                Row(doc_id=1, payload="short"),
                Row(doc_id=2, payload="the much longer variant text"),
                Row(doc_id=3, payload="mid length"),
                Row(doc_id=9, payload="unpaired doc"),
            ]
        )
        comps = connected_components(_pairs(spark, [(1, 2), (2, 3)]))
        got = {
            r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in cluster_canonical(docs, "doc_id", "payload", comps).collect()
        }
        assert got == {
            1: (1, False),
            2: (1, True),  # longest text
            3: (1, False),
            9: (9, True),  # singleton is its own canonical
        }

    def test_tie_breaks_min_id(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=4, payload="same len"), Row(doc_id=2, payload="same len")]
        )
        comps = connected_components(_pairs(spark, [(2, 4)]))
        got = {
            r["doc_id"]: r["keep"]
            for r in cluster_canonical(docs, "doc_id", "payload", comps).collect()
        }
        assert got == {2: True, 4: False}


class TestPointerJumping:
    def test_long_chain_converges_within_log_rounds(self, spark):
        # a 64-node path has diameter 63: pure neighbour propagation would
        # need >25 rounds (the cap); path halving converges in O(log n)
        edges = _pairs(spark, [(i, i + 1) for i in range(1, 64)])
        got = _labels(connected_components(edges, max_iterations=25))
        assert set(got.values()) == {1}
        assert len(got) == 64


class TestHotBucketCap:
    """max_bucket: the one remaining quadratic LSH shape (round-5 verdict)
    — a near-identical template family survives exact dedup and lands all
    m members in one bucket per band.  Above the cap the bucket emits a
    Jaccard-verified star (m-1 pairs) instead of all pairs (m²/2)."""

    def _family(self, spark, m, extra=()):
        # template family: one distinguishing word per doc, 95% shared text
        base = ("quarterly compliance report for region office covering "
                "revenue expenses headcount attrition and forecast items "
                "prepared according to the standard template sections")
        rows = [(i, f"{base} entity{i}") for i in range(m)]
        rows += list(extra)
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_star_preserves_clusters_and_bounds_pairs(self, spark):
        df = self._family(
            spark, 60,
            extra=[(1000, "a wholly unrelated document about spark "
                          "streaming watermark semantics and state stores "
                          "with nothing shared at all here")],
        )
        full = lsh_candidate_pairs(df, "doc_id", "text", threshold=0.5)
        capped = lsh_candidate_pairs(
            df, "doc_id", "text", threshold=0.5, max_bucket=10
        )
        fp = {(r["a_id"], r["b_id"]) for r in full.collect()}
        cp = {(r["a_id"], r["b_id"]) for r in capped.collect()}
        # quadratic-scale pair count (LSH recall < 1 at this jaccard, so
        # not exactly m(m-1)/2 — but ~20× the star's m-1)
        assert len(fp) > 1000
        # capped output is linear-scale: one star per oversized
        # (band, bucket) — the family can split across buckets per band,
        # so slightly more than m-1, nowhere near m²/2
        assert len(cp) < 300
        assert cp <= fp                        # capped emits no new pairs
        # the property dedup actually consumes: identical clusters.
        # (not all 60 docs appear: with bands=2 the banding itself misses
        # ~12% of members into singleton buckets — identically in BOTH
        # modes; the cap changes nothing about recall)
        lf = _labels(connected_components(full))
        lc = _labels(connected_components(capped))
        assert lf == lc
        assert set(lc.values()) == {0} and len(lc) >= 40

    def test_under_cap_buckets_identical_to_uncapped(self, spark):
        df = self._family(spark, 8)
        full = lsh_candidate_pairs(df, "doc_id", "text", threshold=0.5)
        capped = lsh_candidate_pairs(
            df, "doc_id", "text", threshold=0.5, max_bucket=100
        )
        assert sorted(map(tuple, full.collect())) == sorted(
            map(tuple, capped.collect())
        )

    def test_10k_template_family_linear(self, spark):
        """The verdict's planted scenario: a 10k-doc template family.
        All-pairs would be ~50M candidates per band; the cap keeps the
        physical pair count at m-1 and the run at seconds."""
        import time

        df = self._family(spark, 10_000).repartition(32)
        t0 = time.perf_counter()
        capped = lsh_candidate_pairs(
            df, "doc_id", "text", threshold=0.5, max_bucket=100
        )
        n = capped.count()
        wall = time.perf_counter() - t0
        # linear-scale: ~(m-1) per oversized bucket across 2 bands, vs
        # ~50M all-pairs per band uncapped (banding recall keeps a small
        # fraction of members out — identically in both modes)
        assert 8_000 < n < 25_000
        labels = _labels(connected_components(capped))
        assert set(labels.values()) == {0}
        assert len(labels) > 8_000
        assert wall < 120, f"hot-bucket path took {wall:.0f}s"


class TestHotBucketCapChainBoundary:
    """The cap's documented recall boundary, CONSTRUCTED and measured.

    The star substitution keeps clusters identical for template families
    (mutually near-dup — proven above and on the 322-family corpus), and
    the docstring states recall is lost only for pairs inside an oversized
    bucket that are similar to each other but NOT to the min-id hub.  This
    test builds the worst case for that clause: a similarity CHAIN whose
    members all share one hot (band, bucket) — four 3-gram shingles chosen
    by offline search to have near-minimal md5 under band-0's four salts,
    so band 0 is pinned identically for every member while band 1 stays
    drift-dominated — but where only ADJACENT members clear the Jaccard
    threshold (J_adj ≈ 0.27 vs J_hub ≈ 0.03).  Uncapped, the all-pairs
    bucket join finds every adjacent link and connected components keeps
    ONE chain cluster; capped, the star only verifies hub-adjacent pairs
    and the chain shatters.  Versioned-document streams are the real-world
    shape of this corpus; for them raise max_bucket above the expected
    version-family size (or run uncapped) — the cap is tuned for template
    families, where it is lossless.
    """

    # argmin of md5(f"{salt}|{triple}") over 400k md5-derived triples per
    # band-0 salt (deterministic offline search; see docs/SCALE.md round 7)
    MAGIC = [
        "w6ac202bc w0f6a2092 w2c11dc39",  # md5("0|...") = 000040e72d72...
        "wa6da59c7 w2c7a9b0e wdf030b9e",  # md5("1|...") = 00001455cd4f...
        "wbdd0b38c w58ac6a5c w0e2d9b61",  # md5("2|...") = 000002f87991...
        "wfb17fc59 wbeee78f9 w670bda2e",  # md5("3|...") = 00005ccfd15c...
    ]

    def _chain(self, spark, m=40, L=150, step=90):
        import hashlib

        def word(i):
            return "w" + hashlib.md5(f"chain|{i}".encode()).hexdigest()[:8]

        template = " ".join(self.MAGIC)
        stream = [word(i) for i in range(m * step + L)]
        rows = [
            (i, template + " " + " ".join(stream[i * step : i * step + L]))
            for i in range(m)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_chain_shatters_under_cap_but_not_uncapped(self, spark):
        df = self._chain(spark, m=40)
        full = lsh_candidate_pairs(df, "doc_id", "text", threshold=0.2)
        capped = lsh_candidate_pairs(
            df, "doc_id", "text", threshold=0.2, max_bucket=20
        )
        fp = {(r["a_id"], r["b_id"]) for r in full.collect()}
        cp = {(r["a_id"], r["b_id"]) for r in capped.collect()}
        # the hot band collides every adjacent pair; verification passes
        # exactly the 39 chain links (plus no distant pair: J ~ 0.03)
        assert fp == {(i, i + 1) for i in range(39)}
        # capped: the star verifies only the hub-adjacent link (0,1);
        # band 1 may rescue the odd adjacent pair (P = J^4 ~ 0.5% each)
        assert cp <= fp
        assert len(cp) <= 4
        # cluster-level: ONE 40-member chain uncapped vs a shatter capped
        lf = _labels(connected_components(full))
        lc = _labels(connected_components(capped))
        assert len(set(lf.values())) == 1 and len(lf) == 40
        assert len(set(lc.values())) <= 4  # only surviving links cluster
        assert len(lc) <= 8  # nearly all members drop to singletons


class TestDistributedDriverParity:
    """The round-8 restructure (raw-pair gate, driver-side symmetrize, no
    distinct for the driver path) must keep BOTH paths bit-identical. Force
    the distributed path by shrinking the gate and compare labels on a
    graph with a chain, a clique, duplicates and an isolated edge; the
    distributed path must release its persists."""

    EDGES = (
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)]  # diameter-6 chain
        + [(10, 11), (10, 12), (11, 12)]  # clique
        + [(20, 21)]  # isolated edge
        + [(2, 3), (10, 11)]  # duplicate pairs (callers may pass dups)
    )

    def test_paths_agree(self, spark, monkeypatch):
        from doc_parser_spark.operators import dedup as D

        pairs = _pairs(spark, self.EDGES)
        got_driver = _labels(connected_components(pairs))
        monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", 0)
        spark.catalog.clearCache()
        got_dist = _labels(D.connected_components(pairs))
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        expect = {i: 1 for i in range(1, 8)}
        expect.update({10: 10, 11: 10, 12: 10, 20: 20, 21: 20})
        assert got_driver == expect
        assert got_dist == expect

    def test_distributed_string_ids(self, spark, monkeypatch):
        from doc_parser_spark.operators import dedup as D

        pairs = spark.createDataFrame(
            [Row(a_id=f"u{a}", b_id=f"u{b}") for a, b in [(1, 2), (2, 3)]],
            "a_id STRING, b_id STRING",
        )
        monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", 0)
        got = {r["id"]: r["cluster_id"] for r in D.connected_components(pairs).collect()}
        assert got == {"u1": "u1", "u2": "u1", "u3": "u1"}
