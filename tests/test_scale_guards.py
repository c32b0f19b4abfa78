"""Scale-guard regression tests: the two round-1 'job killer at 10^12 rows'
findings — the LSH empty-shingle hot bucket and the IVF assignment shuffle —
plus the single-shuffle exact-dedup plan.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestLshShortTextSkew:
    @pytest.fixture()
    def skewed(self, spark):
        # heavy short-text tail: 5000 docs with < 3 words (no shingles),
        # plus two genuine near-duplicates
        shorts = [Row(doc_id=i, payload=f"ok {i % 7}") for i in range(5000)]
        base = (
            "the quick brown fox jumps over the lazy dog again and again "
            "while the observer takes careful notes about every single move"
        )
        dups = [
            Row(doc_id=9001, payload=base),
            Row(doc_id=9002, payload=base + " extra tail"),
        ]
        return spark.createDataFrame(shorts + dups)

    def test_short_texts_never_enter_buckets(self, spark, skewed):
        from doc_parser_spark.operators.dedup import lsh_buckets

        buckets = lsh_buckets(skewed, "doc_id", "payload")
        # the 5000 shingle-less docs are filtered before banding: no hot
        # bucket, candidate volume stays linear in the real-document count
        assert buckets.where(F.col("id") < 9000).count() == 0
        max_bucket = (
            buckets.groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
        )
        assert max_bucket <= 2

    def test_pairs_only_real_near_dups(self, spark, skewed):
        from doc_parser_spark.operators.dedup import lsh_candidate_pairs

        pairs = lsh_candidate_pairs(skewed, "doc_id", "payload").collect()
        assert [(p.a_id, p.b_id) for p in pairs] == [(9001, 9002)]


class TestIvfRowLocalAssignment:
    def test_no_hash_shuffle_between_scan_and_assignment(self, spark):
        from doc_parser_spark.operators.similarity import ivf_assignments

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        centroids = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
        assigned = ivf_assignments(emb, "vec_id", "embedding", centroids)
        plan = _plan(assigned)
        # the big table must not shuffle: the only exchanges are the tiny
        # centroid-side SinglePartition agg + its broadcast
        assert "hashpartitioning" not in plan
        assert "BroadcastNestedLoopJoin" in plan

    def test_assignment_matches_bruteforce(self, spark):
        import numpy as np

        from doc_parser_spark.operators.similarity import ivf_assignments

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
        centroids = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
        got = {
            r.vec_id: r.centroid_id
            for r in ivf_assignments(
                emb, "vec_id", "embedding", centroids
            ).collect()
        }
        rows = emb.collect()
        cents = [(r.vec_id, np.array(r.embedding, dtype=np.float64))
                 for r in rows if r.vec_id % 50 == 0]
        for r in rows:
            v = np.array(r.embedding, dtype=np.float64)
            best = min(
                cents,
                key=lambda c: (
                    -round(float(v @ c[1] / (np.linalg.norm(v) * np.linalg.norm(c[1]))), 4),
                    c[0],
                ),
            )
            assert got[r.vec_id] == best[0], r.vec_id


class TestExactDedupPlan:
    def test_single_exchange(self, spark):
        from doc_parser_spark.operators.dedup import exact_dedup

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
        out = exact_dedup(docs, "doc_id", "text")
        plan = _plan(out)
        assert plan.count("Arguments: hashpartitioning") == 1
        # correctness: exactly one keeper per hash
        per_hash = out.groupBy("doc_hash").agg(
            F.sum(F.col("keep").cast("int")).alias("n_keep")
        )
        assert per_hash.where(F.col("n_keep") != 1).count() == 0


class TestCurationLayerPlans:
    """Plan-shape guards for the round-3 corpus-analysis operators: the
    broadcast/no-cartesian/bounded-lineage claims in docs/PLANS.md §11-13
    and docs/SCALE.md, asserted against the actual physical plans."""

    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [Row(doc_id=i, text=f"some shared words plus unique{i} token",
                 lang="en" if i % 2 else "de")
             for i in range(40)]
        )

    def test_lm_vocab_join_is_broadcast(self, docs):
        from doc_parser_spark.operators.curation import lm_quality_score

        plan = _plan(lm_quality_score(docs, "doc_id", "text", vocab_size=8))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_lang_id_model_join_is_broadcast(self, docs):
        from doc_parser_spark.operators.curation import lang_id_ngram

        plan = _plan(
            lang_id_ngram(docs, "doc_id", "text", "lang", ["de", "en"])
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_tfidf_no_cartesian(self, docs):
        from doc_parser_spark.operators.curation import tfidf_top_terms

        plan = _plan(tfidf_top_terms(docs, "doc_id", "text", k=3))
        assert "CartesianProduct" not in plan

    def test_subword_word_join_not_broadcast(self, docs):
        """The occurrence→n_sub join is keyed on DISTINCT WORDS — unbounded
        on a web corpus — so it must be a shuffle join, never a
        BroadcastExchange (the round-3 verdict's one scale-killer).  The
        bounded-model broadcast pattern applies only to closures/models,
        not to this join."""
        from doc_parser_spark.operators.curation import subword_encode_counts

        spark = docs.sparkSession
        # Kill size-based auto-broadcast so any BroadcastExchange left in
        # the plan can only come from an explicit F.broadcast hint.
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(
                subword_encode_counts(docs, "doc_id", "text", vocab_k=8)
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastExchange" not in plan
        assert "CartesianProduct" not in plan

    def test_cc_lineage_stays_bounded(self, spark):
        """The localCheckpoint contract: plan size after a 7-round path-
        graph convergence must stay flat (the pre-fix exponential lineage
        overflowed the driver stack at this very shape)."""
        from doc_parser_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [Row(a_id=i, b_id=i + 1) for i in range(1, 8)],
            "a_id LONG, b_id LONG",
        )
        out = connected_components(edges)
        assert len(_plan(out)) < 20_000
        assert {r["cluster_id"] for r in out.collect()} == {1}


class TestIndexedIncrementalPlan:
    """dedup_incremental_indexed's whole point: the OLD side contributes
    zero text-derived computation — its md5/MinHash/shingles come off the
    materialized index. Pin that in the optimized plan."""

    def _sides(self, spark, tmp_path):
        from doc_parser_spark.operators.dedup import dedup_index

        old = spark.createDataFrame(
            [(i, f"old document number {i} with several words inside here")
             for i in range(50)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(100 + i, f"new arrival {i} with several words inside here")
             for i in range(10)],
            "doc_id long, text string",
        )
        # MATERIALIZED, the production shape — a lazy dedup_index frame
        # would inline its own signature computation into the plan
        dedup_index(old, "doc_id", "text").write.parquet(
            str(tmp_path / "idx")
        )
        return new, old, spark.read.parquet(str(tmp_path / "idx"))

    def test_minhash_runs_only_on_the_new_side(self, spark, tmp_path):
        from doc_parser_spark.operators.dedup import (
            dedup_incremental_indexed,
            lsh_buckets,
        )

        new, _old, idx = self._sides(spark, tmp_path)
        # the minhash kernel's signature expression: array_min(transform(
        sig = "array_min(transform("
        plan_new = _plan(lsh_buckets(new, "doc_id", "text"))
        plan_idx = _plan(dedup_incremental_indexed(new, idx, "doc_id", "text"))
        # the classification carries exactly the new batch's own banding
        # signatures — the old side adds none
        assert plan_idx.count(sig) == plan_new.count(sig) > 0
        # the old side appears ONLY as parquet index scans: every parquet
        # read schema is index-shaped (h/buckets/shingles), never raw text
        scans = [l for l in plan_idx.splitlines() if "ReadSchema" in l]
        assert scans and all(
            "buckets" in l or "shingles" in l or "h:" in l for l in scans
        ), scans

    def test_index_plan_has_no_cartesian(self, spark, tmp_path):
        from doc_parser_spark.operators.dedup import dedup_incremental_indexed

        new, _old, idx = self._sides(spark, tmp_path)
        plan = _plan(dedup_incremental_indexed(new, idx, "doc_id", "text"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
