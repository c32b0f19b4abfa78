"""Round-8 optimization parity pins (guide §4: Python boundary removal).

Two query-path rewrites replaced row-at-a-time Python with JVM
expressions; these tests prove the rewrites are EXACT on the real driver
tables, not just plausible:

- ``_paragraphs`` (feeds b2_paragraphs / o1_compose_vectors /
  c2_chunk_assignment / o1_vector_meta_full): JVM
  split/transform/filter/posexplode vs the reference mapInPandas flush
  loop (``_paragraphs_py`` below) — full-row equality including ordering
  columns.
- ``_quality_col`` (feeds p1_text_quality / o6_confidence_agg): JVM
  CASE/rlike/regexp_count vs ``rate_text_quality`` — exact double
  equality (bitwise: both sides compute 1.0 - 0.1*frag in the same
  order), across every payload branch of PAYLOAD_QUALITY.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _paragraphs_py(spark, sf_dir):
    """Reference implementation: the ``split_paragraphs`` flush loop
    row-at-a-time in Python, the baseline the JVM ``_paragraphs`` must
    match."""
    from doc_parser_spark.functions.plain_extract import split_paragraphs
    from doc_parser_spark.plans.driver_queries import PAYLOAD_PARAS, _docs

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(PAYLOAD_PARAS).alias("payload")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i, para in enumerate(split_paragraphs(payload or ""), 1):
                    rows.append((int(doc_id), i, para))
            yield pd.DataFrame(rows, columns=["doc_id", "para_idx", "para"]).astype(
                {"doc_id": "int64", "para_idx": "int32"}
            )

    return docs.mapInPandas(gen, schema="doc_id long, para_idx int, para string")


class TestParagraphsJvmParity:
    def test_exact_rows_vs_python_flush(self, spark):
        from doc_parser_spark.plans.driver_queries import _paragraphs

        jvm = _rows(_paragraphs(spark, SF_DIR), ["doc_id", "para_idx", "para"])
        py = _rows(_paragraphs_py(spark, SF_DIR), ["doc_id", "para_idx", "para"])
        assert len(jvm) > 500  # non-degenerate corpus
        assert jvm == py

    def test_no_python_node_in_plan(self, spark):
        from doc_parser_spark.plans.driver_queries import QUERIES

        for name in ("b2_paragraphs", "o1_compose_vectors"):
            plan = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().toString()
            assert "EvalPython" not in plan and "MapInPandas" not in plan, name


class TestQualityJvmParity:
    def test_exact_doubles_vs_python(self, spark):
        from doc_parser_spark.functions.quality import rate_text_quality
        from doc_parser_spark.plans.driver_queries import (
            PAYLOAD_QUALITY,
            _docs,
            _quality_col,
        )

        docs = _docs(spark, SF_DIR).select(
            "doc_id", F.expr(PAYLOAD_QUALITY).alias("payload")
        )
        got = docs.select(
            "doc_id", _quality_col(F.col("payload")).alias("q"), "payload"
        ).collect()
        assert len(got) > 100
        seen_branches = set()
        for row in got:
            expected = rate_text_quality(row.payload or "")
            assert row.q == expected, (row.doc_id, row.q, expected)
            seen_branches.add(row.doc_id % 11)
        # every PAYLOAD_QUALITY branch (incl. all four zero-branches and
        # the frag-penalty branch) must actually have been exercised
        assert {0, 1, 2, 3, 4}.issubset(seen_branches)

    def test_adversarial_payloads(self, spark):
        """Edge payloads the sf tables don't contain: boundary frag counts,
        unicode words after slashes, fast-path near-misses."""
        from doc_parser_spark.functions.quality import rate_text_quality
        from doc_parser_spark.plans.driver_queries import _quality_col

        cases = [
            "",
            "plain clean text with no triggers at all",
            "slash / but nothing else",
            "A/bc.de/fg.hi only two A/bc.de/fg.hi",  # frag == 2 -> 1.0
            "x A/bc.de/fg.hi A/bc.de/fg.hi A/bc.de/fg.hi",  # frag == 3
            " ".join(["A/bc.de/fg.hi"] * 11),  # penalty floors at 0.0
            "GLYPH<deadBEEF> rest",
            "GLYPH<> not a match /x",  # GLYPH needs >=1 hex digit
            "/G1/G2 leading run",
            "text /G1/G2 in the middle",
            "/word1 /word2 leading token run",
            "tail only /word1 /word2",  # match() is anchored -> no zero
            "bad � char",
            "/é /û unicode after slash",
            "/a\t/b tab separated",
        ]
        pdf = pd.DataFrame({"payload": cases})
        df = spark.createDataFrame(pdf)
        got = df.select("payload", _quality_col(F.col("payload")).alias("q")).collect()
        for row in got:
            assert row.q == rate_text_quality(row.payload), row.payload


class TestAllpairsCosineParity:
    """allpairs_cosine_pairs (block-GEMM candidates + exact fold verify)
    must emit the bit-identical pair set of the naive cross join."""

    def _old(self, emb, threshold=0.3):
        from doc_parser_spark.operators.similarity import COS_EXPR

        a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
        b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
        return (
            a.join(b, F.col("a_id") < F.col("b_id"))
            .withColumn("cos", F.round(F.expr(COS_EXPR.format(a="va", b="vb")), 4))
            .where(F.col("cos") >= threshold)
            .select("a_id", "b_id", "cos")
        )

    def test_exact_pairs_vs_cross_join(self, spark):
        from doc_parser_spark.operators.similarity import allpairs_cosine_pairs

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        # block_size=64 forces many blocks incl. same-block dedup paths
        new = _rows(
            allpairs_cosine_pairs(emb, "vec_id", "embedding", 0.3, block_size=64),
            ["a_id", "b_id", "cos"],
        )
        old = _rows(self._old(emb), ["a_id", "b_id", "cos"])
        assert len(new) > 50
        assert new == old

    def test_single_block_and_empty(self, spark):
        from doc_parser_spark.operators.similarity import allpairs_cosine_pairs

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        small = emb.where("vec_id < 20")
        new = _rows(
            allpairs_cosine_pairs(small, "vec_id", "embedding", 0.3, block_size=512),
            ["a_id", "b_id", "cos"],
        )
        old = _rows(self._old(small), ["a_id", "b_id", "cos"])
        assert new == old
        empty = emb.where("vec_id < 0")
        assert allpairs_cosine_pairs(empty, "vec_id", "embedding", 0.3).count() == 0

    def test_row_bound_raises_before_pair_work(self, spark, monkeypatch):
        """Past ALLPAIRS_MAX_ROWS the baseline refuses with a message that
        names the bound and the scale paths; the check rides the row count
        the blocking needs anyway, so it runs no job beyond that count."""
        import uuid

        from doc_parser_spark.operators import similarity

        monkeypatch.setattr(similarity, "ALLPAIRS_MAX_ROWS", 10)
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        ).where("vec_id < 30")
        sc = spark.sparkContext

        def n_jobs(fn):
            group = f"allpairs-bound-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        def guarded():
            with pytest.raises(ValueError, match="ALLPAIRS_MAX_ROWS=10") as e:
                similarity.allpairs_cosine_pairs(emb, "vec_id", "embedding")
            assert "lsh_neardup_pairs" in str(e.value)
            assert "ivf_topk" in str(e.value)

        assert n_jobs(guarded) == n_jobs(emb.count)
        # at the bound itself the baseline still builds
        at_bound = emb.where("vec_id < 10")
        assert at_bound.count() == 10
        similarity.allpairs_cosine_pairs(at_bound, "vec_id", "embedding")


class TestSignLiteralParity:
    def test_literal_equals_md5_expression(self, spark):
        """The plan-time ±1 sign literal must equal the per-row md5
        derivation for every (tag, d) the LSH/JL paths use."""
        from doc_parser_spark.operators.similarity import _sign_lit_sql

        for tag in ["0", "5", "jl0", "jl15"]:
            got = spark.sql(
                f"SELECT {_sign_lit_sql(tag, 64)} AS lit, "
                f"transform(sequence(0, 63), d -> "
                f"(conv(substr(md5(concat('{tag}_', d)), 1, 1), 16, 10) % 2)"
                f" * 2 - 1) AS expr"
            ).first()
            assert [int(v) for v in got.expr] == list(got.lit), tag

    def test_bucket_expr_dim_fast_path_identical(self, spark):
        from doc_parser_spark.operators.similarity import lsh_bucket_expr
        from pyspark.sql import functions as F  # noqa: F811

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        both = emb.select(
            F.expr(lsh_bucket_expr("embedding", 6)).alias("slow"),
            F.expr(lsh_bucket_expr("embedding", 6, dim=64)).alias("fast"),
        )
        assert both.where("slow <> fast").count() == 0



class TestJaccardSizePrefilterParity:
    """The size-ratio prefilter in _jaccard_col must drop ONLY pairs the
    caller's own ``jaccard >= threshold`` filter would drop: J ≤
    min/max size as exact rationals, and IEEE round-to-nearest division
    is monotone, so ratio_double ≥ J_double for every pair."""

    def _corpus(self, spark, n_docs=80):
        # md5-derived words (never modular — degenerate-corpus rule),
        # strongly varied lengths so the ratio filter is ACTIVE, plus
        # planted near-dup families so pairs survive
        import hashlib

        rows = []
        for i in range(n_docs):
            ln = 4 + (i * 7) % 37
            words = [
                hashlib.md5(f"{i % 9}|{j}".encode()).hexdigest()[:6]
                for j in range(ln)
            ]
            rows.append((i, " ".join(words)))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_lsh_pairs_identical_with_and_without_prefilter(self, spark):
        from doc_parser_spark.operators.dedup import (
            _jaccard_col,
            lsh_candidate_pairs,
            with_shingles,
        )

        df = self._corpus(spark)
        got = sorted(
            tuple(r)
            for r in lsh_candidate_pairs(
                df, "doc_id", "text", threshold=0.5, k=8, bands=8
            ).collect()
        )
        # reference: same candidate generation, verify WITHOUT prefilter
        sh = with_shingles(df.select("doc_id", "text"), "text", 3).select(
            F.col("doc_id").alias("id"), "shingles"
        )
        a, b = sh.alias("a"), sh.alias("b")
        ref = sorted(
            tuple(r)
            for r in _jaccard_col(
                a.join(b, F.col("a.id") < F.col("b.id")),
                "a.shingles",
                "b.shingles",
                "jaccard",
            )
            .where(F.col("jaccard") >= 0.5)
            .select(
                F.col("a.id").alias("a_id"),
                F.col("b.id").alias("b_id"),
                F.round("jaccard", 4).alias("jaccard"),
            )
            .collect()
        )
        assert len(got) > 3  # families actually produce pairs
        # LSH recall < 1, so got ⊆ ref; every surviving pair identical
        assert set(got) <= set(ref)
        # the prefilter itself: rerun the verify WITH threshold on the
        # SAME joined frame — rows must be identical to the unfiltered
        with_pf = sorted(
            tuple(r)
            for r in _jaccard_col(
                a.join(b, F.col("a.id") < F.col("b.id")),
                "a.shingles",
                "b.shingles",
                "jaccard",
                threshold=0.5,
            )
            .where(F.col("jaccard") >= 0.5)
            .select(
                F.col("a.id").alias("a_id"),
                F.col("b.id").alias("b_id"),
                F.round("jaccard", 4).alias("jaccard"),
            )
            .collect()
        )
        assert with_pf == ref

    def test_boundary_j_exactly_on_threshold_double(self, spark):
        # |A|=7, |B|=10, |A∩B|=7 → J = 7/10, which rounds to EXACTLY the
        # double 0.7 — the worst case for a float prefilter. ratio is
        # also 7/10; both sides must keep the pair.
        from doc_parser_spark.operators.dedup import _jaccard_col

        a = [f"w{i}" for i in range(7)]
        b = a + [f"x{i}" for i in range(3)]
        df = spark.createDataFrame(
            [(a, b)], "sa array<string>, sb array<string>"
        )
        out = (
            _jaccard_col(df, "sa", "sb", "j", threshold=0.7)
            .where(F.col("j") >= 0.7)
            .collect()
        )
        assert len(out) == 1 and abs(out[0]["j"] - 0.7) < 1e-15
        # and a pair strictly below: |A∩B|=6 of 7 vs 10 → J=6/11 < 0.7
        df2 = spark.createDataFrame(
            [(a[:6] + ["y0"], b)], "sa array<string>, sb array<string>"
        )
        out2 = (
            _jaccard_col(df2, "sa", "sb", "j", threshold=0.7)
            .where(F.col("j") >= 0.7)
            .collect()
        )
        assert out2 == []

if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])
