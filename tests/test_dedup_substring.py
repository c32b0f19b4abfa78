"""Substring-level exact dedup (operators/dedup.py::duplicated_substring_spans,
the fixed-k fingerprint form of Lee et al. 2022's duplicated-text removal)
— hand-built corpora with known duplicated spans, plus plan-shape guards.
"""

from __future__ import annotations

import pytest

from doc_parser_spark.operators.dedup import (
    duplicated_substring_spans,
    duplicated_token_fraction,
)


def _mkdocs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


PHRASE = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens


class TestSubstringSpans:
    def test_shared_phrase_marks_both_docs(self, spark):
        # the 10-token phrase appears in both docs at different offsets;
        # every k-gram inside it repeats, so each doc gets ONE merged span
        # covering exactly the phrase
        docs = _mkdocs(
            spark,
            [
                "alpha beta " + PHRASE + " gamma delta epsilon",
                "zeta " + PHRASE + " eta",
            ],
        )
        out = {
            (r["doc_id"]): (r["span_start"], r["span_end"], r["span_tokens"])
            for r in duplicated_substring_spans(
                docs, "doc_id", "text", k=5
            ).collect()
        }
        assert out == {0: (2, 12, 10), 1: (1, 11, 10)}

    def test_within_doc_repeat_counts(self, spark):
        # min_count counts corpus-wide occurrences, including within one
        # doc (Lee et al. semantics): a doc repeating its own 5-gram twice
        # is marked even with no cross-doc match
        docs = _mkdocs(
            spark,
            ["a b c d e x y z a b c d e", "totally unrelated words here now"],
        )
        out = duplicated_substring_spans(docs, "doc_id", "text", k=5).collect()
        assert {r["doc_id"] for r in out} == {0}
        spans = sorted((r["span_start"], r["span_end"]) for r in out)
        assert spans == [(0, 5), (8, 13)]

    def test_adjacent_spans_merge(self, spark):
        # two duplicated 5-gram runs 5 apart merge into one island
        # (end-exclusive intervals [p, p+5) are adjacent when gap == k)
        a = "p q r s t u v w x y"  # 10 tokens, all of it duplicated
        docs = _mkdocs(spark, [a + " one", a + " two"])
        out = duplicated_substring_spans(docs, "doc_id", "text", k=5).collect()
        assert sorted(
            (r["doc_id"], r["span_start"], r["span_end"]) for r in out
        ) == [(0, 0, 10), (1, 0, 10)]

    def test_short_docs_and_no_dups(self, spark):
        docs = _mkdocs(spark, ["a b c", "d e f g h i j", "k l m n o p q"])
        assert (
            duplicated_substring_spans(docs, "doc_id", "text", k=5).count()
            == 0
        )

    def test_fraction(self, spark):
        docs = _mkdocs(
            spark,
            [
                "alpha beta " + PHRASE + " gamma delta epsilon",  # 15 tokens
                "zeta " + PHRASE + " eta",  # 12 tokens
                "no duplicated content in this document at all",  # 8 tokens
            ],
        )
        out = {
            r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
            for r in duplicated_token_fraction(
                docs, "doc_id", "text", k=5
            ).collect()
        }
        assert out[0] == (15, 10, pytest.approx(10 / 15, abs=1e-4))
        assert out[1] == (12, 10, pytest.approx(10 / 12, abs=1e-4))
        assert out[2] == (8, 0, 0.0)

    def test_plan_shape(self, spark):
        # no cartesian product, no Python UDF; the gram build is row-local
        # (the only exchanges are the count aggregate, the hash join on the
        # gram, and the marked-positions window)
        import io
        from contextlib import redirect_stdout

        docs = _mkdocs(spark, ["a b c d e f", "a b c d e g"])
        df = duplicated_substring_spans(docs, "doc_id", "text", k=5)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestIncrementalDedup:
    def test_statuses(self, spark):
        from doc_parser_spark.operators.dedup import (
            dedup_incremental_indexed,
            dedup_index,
        )

        old = _mkdocs(
            spark,
            [
                "the quick brown fox jumps over the lazy dog today",  # 0
                "completely different content about spark engines",    # 1
            ],
        )
        new = spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog today"),
                (11, "the quick brown fox jumps over the lazy dog "
                     "today with extra tail"),
                (12, "utterly unrelated words that match nothing at all"),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: (r["status"], r["matched_old_id"])
            for r in dedup_incremental_indexed(
                new, dedup_index(old, "doc_id", "text"), "doc_id", "text",
                threshold=0.2,
            ).collect()
        }
        assert out[10] == ("exact_dup", 0)
        assert out[11] == ("near_dup", 0)
        assert out[12] == ("novel", None)

    def test_no_old_by_old_work(self, spark):
        # the old side must appear only as its index (hash set, band
        # buckets, shingles for verify) joined against the NEW batch;
        # no old-old self join → no plan node joins two old-derived scans
        # on equality of old ids. Weak but cheap proxy: candidate count is
        # bounded by new×bands, and a pure-old corpus yields no rows.
        from doc_parser_spark.operators.dedup import (
            dedup_incremental_indexed,
            dedup_index,
        )

        old = _mkdocs(spark, ["aa bb cc dd ee ff gg", "hh ii jj kk ll mm"])
        empty_new = spark.createDataFrame([], "doc_id long, text string")
        assert dedup_incremental_indexed(
            empty_new, dedup_index(old, "doc_id", "text"), "doc_id", "text"
        ).count() == 0


class TestSimhashHamming:
    def test_recall_equals_brute_force(self, spark):
        # the pigeonhole guarantee: the banded path must find EXACTLY the
        # pairs a brute-force all-pairs hamming scan finds
        from doc_parser_spark.operators.dedup import (
            simhash,
            simhash_hamming_pairs,
        )

        texts = [
            "alpha beta gamma delta epsilon zeta",
            "alpha beta gamma delta epsilon eta",   # near twin
            "alpha beta gamma delta epsilon zeta",  # exact twin of 0
            "totally different words in this one",
            "more unrelated content over here now",
        ]
        docs = _mkdocs(spark, texts)
        got = {
            (r["a_id"], r["b_id"]): r["hamming"]
            for r in simhash_hamming_pairs(
                docs, "doc_id", "text", bits=32, max_hamming=3, chunks=4
            ).collect()
        }
        fps = {
            r["id"]: r["simhash"]
            for r in simhash(docs, "doc_id", "text", bits=32)
            .withColumnRenamed("doc_id", "id")
            .collect()
        }
        brute = {}
        for a in fps:
            for b in fps:
                if a < b:
                    h = bin(fps[a] ^ fps[b]).count("1")
                    if h <= 3:
                        brute[(a, b)] = h
        assert got == brute
        assert got[(0, 2)] == 0  # exact twins at distance 0

    def test_guard_rails(self, spark):
        from doc_parser_spark.operators.dedup import simhash_hamming_pairs

        docs = _mkdocs(spark, ["a b c"])
        import pytest as _pt

        with _pt.raises(ValueError):
            simhash_hamming_pairs(docs, "doc_id", "text", chunks=3,
                                  max_hamming=3)
        with _pt.raises(ValueError):
            simhash_hamming_pairs(docs, "doc_id", "text", bits=30, chunks=4)
