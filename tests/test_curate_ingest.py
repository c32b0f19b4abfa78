"""Incremental (indexed) curation ingest — plans/curate.py::curate_ingest:
a batch of transcripts against a STANDING dedup index. Covers the
round-6 verdict #3 'done' bar: novelty semantics across two batches with
append-only index maintenance, plus plan guards that corpus text is never
re-read (the O(batch)-not-O(corpus) claim)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pandas as pd
import pytest


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _row(conv, turn, text):
    return {
        "conv_id": conv, "turn_idx": turn, "role": "user",
        "text": text, "tool": None, "ts": pd.Timestamp("2026-01-01"),
    }


ART = (
    "corpus article paragraph "
    + " ".join(f"corpus sentence number {i} carrying real words" for i in range(6))
)
NEAR = ART + " plus one extra tail clause"
NOVEL_1 = "fresh batch paragraph " + " ".join(
    f"novel clause {i} with its own vocabulary" for i in range(6)
)
NOVEL_2 = "second novel text " + " ".join(
    f"another unseen sentence {i} entirely" for i in range(6)
)


def _corpus_df(spark):
    rows = [_row("c0", 0, ART)]
    for i in range(4):
        rows.append(_row("c1", i, f"corpus filler {i}\n\nmore filler {i} " * 3))
    return spark.createDataFrame(pd.DataFrame(rows))


def _index(spark, tmp_path, name="idx"):
    from doc_parser_spark.plans.curate import build_curation_index

    idx = build_curation_index(spark, _corpus_df(spark), hashed=True)
    idx.write.parquet(str(tmp_path / name))
    return spark.read.parquet(str(tmp_path / name))


class TestCurateIngest:
    def test_novelty_semantics_and_stats(self, spark, tmp_path):
        from doc_parser_spark.plans.curate import curate_ingest

        idx = _index(spark, tmp_path)
        batch = spark.createDataFrame(pd.DataFrame([
            _row("b0", 0, ART),          # exact dup of corpus -> dropped
            _row("b1", 0, NEAR),         # near dup of corpus -> dropped
            _row("b2", 0, NOVEL_1),      # novel
            _row("b3", 0, NOVEL_1),      # batch-internal exact dup -> dropped
            _row("b4", 0, NOVEL_2),      # novel
            _row("b5", 0, "   "),        # empty -> quality gate
        ]))
        vectors, novel_index, stats = curate_ingest(
            spark, batch, idx, near_dup_jaccard=0.5, max_tokens=200
        )
        novel_ids = {r["id"] for r in novel_index.collect()}
        assert novel_ids == {"b2#0", "b4#0"}
        assert stats["extracted"] == 6
        assert stats["quality_kept"] == 5
        assert stats["exact_unique"] == 4       # b3 killed in-batch
        # b1 (NEAR) is ALSO an in-batch near dup of b0 (ART) — the batch
        # dedup gets it before the index does (either kill is correct;
        # uid order keeps b0)
        assert stats["near_dup_unique"] == 3
        assert stats["novel"] == 2              # b0 killed vs corpus
        # vectors carry ONLY the novel turns
        convs = {r["conv_id"] for r in vectors.select("conv_id").collect()}
        assert convs == {"b2", "b4"}
        # novel index rows are append-ready: same schema as the standing
        # index, hashed shingles (the at-scale setting)
        assert dict(novel_index.dtypes) == dict(idx.dtypes)
        assert dict(novel_index.dtypes)["shingles"] == "array<bigint>"
        stats.unpersist()

    def test_two_batch_append_only_maintenance(self, spark, tmp_path):
        """A batch-2 copy of a batch-1 NOVEL must be rejected once batch 1's
        novel_index rows are appended — the cross-batch property the
        standing index exists for. Each batch's stats.unpersist() releases
        every fork the batch persisted, the in-batch LSH bucket fork
        included, so a driver looping batches holds no cache between
        them."""
        from doc_parser_spark.plans.curate import curate_ingest

        spark.catalog.clearCache()
        idx = _index(spark, tmp_path)
        b1 = spark.createDataFrame(pd.DataFrame([_row("b2", 0, NOVEL_1)]))
        _v1, novel_index_1, s1 = curate_ingest(
            spark, b1, idx, near_dup_jaccard=0.5
        )
        # append-only maintenance: standing index ∪ batch-1 novels
        novel_index_1.write.mode("append").parquet(str(tmp_path / "idx"))
        idx2 = spark.read.parquet(str(tmp_path / "idx"))

        b2 = spark.createDataFrame(pd.DataFrame([
            _row("x0", 0, NOVEL_1),                       # dup of b1 novel
            _row("x1", 0, NOVEL_1 + " small added tail"),  # near dup of it
            _row("x2", 0, NOVEL_2),                       # novel
        ]))
        _v2, novel_index_2, s2 = curate_ingest(
            spark, b2, idx2, near_dup_jaccard=0.5
        )
        assert {r["id"] for r in novel_index_2.collect()} == {"x2#0"}
        s1.unpersist()
        s2.unpersist()
        cache_manager = spark._jsparkSession.sharedState().cacheManager()
        assert cache_manager.isEmpty()

    def test_corpus_text_is_never_scanned(self, spark, tmp_path):
        """The whole point of the indexed ingest: the plan's only parquet
        scans are index-shaped (h / buckets / shingles) — corpus TEXT
        contributes zero bytes and zero compute to a batch."""
        from doc_parser_spark.plans.curate import curate_ingest

        idx = _index(spark, tmp_path)
        batch = spark.createDataFrame(pd.DataFrame([
            _row("b2", 0, NOVEL_1), _row("b4", 0, NOVEL_2),
        ]))
        vectors, novel_index, stats = curate_ingest(
            spark, batch, idx, near_dup_jaccard=0.5
        )
        for df in (vectors, novel_index):
            scans = [
                line for line in _plan(df).splitlines()
                if "ReadSchema" in line
            ]
            assert scans, "expected parquet index scans in the plan"
            assert all(
                ("buckets" in line or "shingles" in line or "h:" in line)
                and "text" not in line
                for line in scans
            ), scans
        # and no quadratic shapes anywhere in the composition
        plan = _plan(vectors)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        stats.unpersist()

    def test_index_param_mismatch_fails_loudly(self, spark, tmp_path):
        """hashed must match the standing index: an unhashed ingest against
        a hashed index would Jaccard-join string shingles to bigint hashes.
        Spark's analyzer rejects the type mismatch — it must surface, not
        silently classify everything novel."""
        from doc_parser_spark.plans.curate import curate_ingest

        idx = _index(spark, tmp_path)  # hashed=True
        batch = spark.createDataFrame(pd.DataFrame([_row("b2", 0, NOVEL_1)]))
        with pytest.raises(Exception, match="(?i)data type|cannot resolve"):
            vectors, _ni, _s = curate_ingest(
                spark, batch, idx, near_dup_jaccard=0.5, hashed=False
            )
            vectors.collect()
