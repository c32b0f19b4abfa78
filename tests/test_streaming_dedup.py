"""Streaming incremental dedup: continuous ingestion gets exact/near/novel
tagging that equals the SQL classification of the same rows across
micro-batch boundaries, and novel docs from earlier batches are visible as
corpus to later batches (the cross-batch property foreachBatch exists for).
The old side is a materialized ``dedup_index``; the reference is the
contract oracles' DuckDB classification over the TEXT
(``driver_queries._incr_classify_sql``)."""

from __future__ import annotations

import pandas as pd
import pytest


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "completely different reference text about spark streaming joins"),
]

BATCH_1 = [
    (100, "the quick brown fox jumps over the lazy dog again and again"),
    (101, "a genuinely new document that matches nothing in the corpus"),
]

BATCH_2 = [
    # exact dup of batch 1's NOVEL doc — only visible cross-batch
    (200, "a genuinely new document that matches nothing in the corpus"),
    # near dup of corpus doc 1 (one word changed)
    (201, "the quick brown fox jumps over the lazy cat again and again"),
    (202, "yet another novel text with entirely fresh vocabulary inside"),
]


def _write(df_rows, path):
    pd.DataFrame(df_rows, columns=["doc_id", "text"]).astype(
        {"doc_id": "int64"}
    ).to_parquet(path, index=False)


def _sql_classify(new_rows, old_rows):
    """DuckDB classification of ``new_rows`` against ``old_rows`` — the
    SQL the contract oracles use — as sorted (doc_id, status,
    matched_old_id) tuples."""
    import duckdb

    from doc_parser_spark.plans.driver_queries import _incr_classify_sql

    con = duckdb.connect()
    try:
        for name, rows in (("new_t", new_rows), ("old_t", old_rows)):
            frame = pd.DataFrame(rows, columns=["doc_id", "payload"])
            con.register(name, frame.astype({"doc_id": "int64"}))
        rows = con.execute(
            f"WITH {_incr_classify_sql('new_t', 'old_t', 'cls')} "
            "SELECT doc_id, status, matched_old_id FROM cls"
        ).fetchall()
    finally:
        con.close()
    return sorted(rows)


def _tuples(pdf):
    """Spark result rows in ``_sql_classify``'s shape."""
    return sorted(
        (int(d), s, None if pd.isna(m) else int(m))
        for d, s, m in zip(
            pdf["doc_id"], pdf["status"], pdf["matched_old_id"]
        )
    )


def _write_corpus_index(spark, root, **kwargs):
    from doc_parser_spark.operators.dedup import dedup_index

    corpus = spark.read.parquet(str(root / "corpus"))
    dedup_index(corpus, "doc_id", "text", **kwargs).write.parquet(
        str(root / "corpus_index")
    )


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    """Two arrival files drained as two micro-batches through the indexed
    stream (one file per micro-batch)."""
    from doc_parser_spark.streaming.stream import (
        dedup_incremental_stream_indexed,
    )

    root = tmp_path_factory.mktemp("sdedup")
    corpus = root / "corpus"
    incoming = root / "incoming"
    corpus.mkdir()
    incoming.mkdir()
    _write(CORPUS, corpus / "corpus.parquet")
    _write(BATCH_1, incoming / "b1.parquet")
    _write(BATCH_2, incoming / "b2.parquet")
    _write_corpus_index(spark, root)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # one arrival file per micro-batch
        .parquet(str(incoming))
    )
    q = dedup_incremental_stream_indexed(
        stream,
        corpus_index_path=str(root / "corpus_index"),
        accepted_index_path=str(root / "accepted"),
        output_path=str(root / "out"),
        checkpoint_path=str(root / "ckpt"),
    )
    q.awaitTermination(180)
    return root


def test_streaming_matches_sequential_batch_exactly(spark, dirs):
    """The two micro-batches must equal the SQL classification replayed
    as a batch sequence (batch 2's old side = corpus + batch 1 novels) —
    statuses and matched ids identical."""
    out = spark.read.parquet(str(dirs / "out")).toPandas()
    assert len(out) == 5
    # micro-batch boundaries respected: one file per batch
    assert sorted(out["batch_id"].unique().tolist()) == [0, 1]

    r1 = _sql_classify(BATCH_1, CORPUS)
    novel1 = {d for d, s, _ in r1 if s == "novel"}
    r2 = _sql_classify(
        BATCH_2, CORPUS + [r for r in BATCH_1 if r[0] in novel1]
    )
    assert _tuples(out) == sorted(r1 + r2)


def test_cross_batch_statuses(spark, dirs):
    out = (
        spark.read.parquet(str(dirs / "out"))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[100, "status"] == "exact_dup"
    assert out.loc[100, "matched_old_id"] == 1
    assert out.loc[101, "status"] == "novel"
    # the decisive cross-batch case: 200 duplicates batch 1's novel 101
    assert out.loc[200, "status"] == "exact_dup"
    assert out.loc[200, "matched_old_id"] == 101
    assert out.loc[201, "status"] == "near_dup"
    assert out.loc[201, "matched_old_id"] == 1
    assert out.loc[202, "status"] == "novel"


def test_accepted_corpus_contains_exactly_the_novels(spark, dirs):
    # the loop appends INDEX rows, and for exactly the novels
    acc = spark.read.parquet(str(dirs / "accepted")).toPandas()
    assert sorted(acc["id"].tolist()) == [101, 202]
    assert set(acc.columns) >= {"id", "h", "buckets", "shingles", "batch_id"}


# ---------------------------------------------------------------------------
# exactly-once under foreachBatch replay (the kill/restart shape)
# ---------------------------------------------------------------------------

def _processor(root, **kwargs):
    from doc_parser_spark.streaming.stream import indexed_dedup_processor

    return indexed_dedup_processor(
        corpus_index_path=str(root / "corpus_index"),
        accepted_index_path=str(root / "accepted_index"),
        output_path=str(root / "out"),
        **kwargs,
    )


def _fresh_root(spark, tmp_path, **index_kwargs):
    """A corpus and its materialized index under ``tmp_path``."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    _write(CORPUS, corpus / "corpus.parquet")
    _write_corpus_index(spark, tmp_path, **index_kwargs)
    return tmp_path


def _state(spark, root):
    """(output rows, accepted ids) — the full externally-visible state."""
    out = (
        spark.read.parquet(str(root / "out"))
        .toPandas()
        .astype(str)
        .sort_values(["batch_id", "doc_id"])
        .reset_index(drop=True)
    )
    acc = sorted(
        spark.read.parquet(str(root / "accepted_index")).toPandas()["id"]
    )
    return out, acc


def _assert_replay_is_idempotent(spark, tmp_path, **index_kwargs):
    root = _fresh_root(spark, tmp_path, **index_kwargs)
    process = _processor(root, **index_kwargs)
    b1 = spark.createDataFrame(BATCH_1, "doc_id long, text string")
    b2 = spark.createDataFrame(BATCH_2, "doc_id long, text string")
    process(b1, 0)
    process(b2, 1)
    clean_out, clean_acc = _state(spark, root)

    # replay both batches (kill-after-commit shape), oldest first
    process(b1, 0)
    process(b2, 1)
    replay_out, replay_acc = _state(spark, root)

    pd.testing.assert_frame_equal(replay_out, clean_out)
    assert replay_acc == clean_acc == [101, 202]
    # the decisive assertion: batch 0's novel stayed novel on replay
    assert replay_out.set_index("doc_id").loc["101", "status"] == "novel"


def test_replay_of_a_committed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: after a kill between the sink commits
    and the checkpoint commit, the SAME batch_id replays with both sinks
    already written.  The replay must (a) not duplicate rows (partition
    overwrite, not append) and (b) not reclassify the batch's own novels
    as exact_dup of themselves via the accepted index rows the first
    attempt wrote (the batch_id < current replay guard)."""
    _assert_replay_is_idempotent(spark, tmp_path)


def test_replay_heals_partial_commit(spark, tmp_path):
    """Kill between the two sink writes: output partition committed,
    accepted partition missing.  The replay must recompute the identical
    result and leave the same final state as a clean run."""
    import shutil

    root = _fresh_root(spark, tmp_path)
    process = _processor(root)
    b1 = spark.createDataFrame(BATCH_1, "doc_id long, text string")
    b2 = spark.createDataFrame(BATCH_2, "doc_id long, text string")

    process(b1, 0)
    # simulate the crash window: accepted side of batch 0 never committed
    shutil.rmtree(root / "accepted_index" / "batch_id=0")
    process(b1, 0)  # checkpoint retries the batch
    process(b2, 1)

    out, acc = _state(spark, root)
    assert acc == [101, 202]
    statuses = out.set_index("doc_id")["status"]
    assert statuses.loc["101"] == "novel"
    assert statuses.loc["200"] == "exact_dup"  # cross-batch dup still caught
    assert len(out) == 5  # no duplicated rows from the two attempts


def test_failed_batch_releases_its_persists(spark, tmp_path):
    """A micro-batch whose output write fails must raise and leave nothing
    in the driver's CacheManager: a long-lived streaming driver would
    otherwise hold both persisted frames of every failed batch."""
    from doc_parser_spark.streaming.stream import indexed_dedup_processor

    root = _fresh_root(spark, tmp_path)
    blocker = tmp_path / "blocker"
    blocker.write_text("a regular file, so no directory can be made under it")
    process = indexed_dedup_processor(
        corpus_index_path=str(root / "corpus_index"),
        accepted_index_path=str(root / "accepted_index"),
        output_path=str(blocker / "out"),
    )
    spark.catalog.clearCache()
    b1 = spark.createDataFrame(BATCH_1, "doc_id long, text string")
    with pytest.raises(Exception):
        process(b1, 0)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ---------------------------------------------------------------------------
# the materialized index and its classifier
# ---------------------------------------------------------------------------

# old/new rows for the one-shot parity tests: the fixture rows plus a
# shingle-less short doc on each side (the null-buckets path)
OLD_ROWS = CORPUS + [(3, "too short")]
NEW_ROWS = BATCH_1 + BATCH_2 + [
    (300, "too short"),                          # exact dup of 3
    (301, "also tiny"),                          # shingle-less novel
]


class TestIndexedIncremental:
    def test_bit_parity_with_text_based(self, spark):
        """dedup_incremental_indexed(new, dedup_index(old)) must classify
        identically to the SQL classification over the old TEXT —
        including a shingle-less short doc on each side."""
        from doc_parser_spark.operators.dedup import (
            dedup_incremental_indexed,
            dedup_index,
        )

        old = spark.createDataFrame(OLD_ROWS, "doc_id long, text string")
        new = spark.createDataFrame(NEW_ROWS, "doc_id long, text string")
        idx = dedup_index(old, "doc_id", "text")
        got = dedup_incremental_indexed(new, idx, "doc_id", "text").toPandas()
        assert _tuples(got) == _sql_classify(NEW_ROWS, OLD_ROWS)
        # sanity on the interesting rows
        byid = got.set_index("doc_id")["status"]
        assert byid.loc[300] == "exact_dup"
        assert byid.loc[301] == "novel"

    def test_index_shape(self, spark):
        from doc_parser_spark.operators.dedup import dedup_index

        old = spark.createDataFrame(OLD_ROWS, "doc_id long, text string")
        idx = {r["id"]: r for r in dedup_index(old, "doc_id", "text").collect()}
        assert len(idx[1]["buckets"]) > 0          # banded
        assert idx[3]["buckets"] is None           # shingle-less: excluded
        assert idx[3]["shingles"] == []

    def test_indexed_replay_is_idempotent(self, spark, tmp_path):
        """The committed-batch replay over a hashed index: the novel-index
        rows the first attempt appended carry the hashed schema, and the
        replay guard must still exclude them."""
        _assert_replay_is_idempotent(spark, tmp_path, hashed=True)

    def test_hashed_streaming_cross_batch(self, spark, tmp_path):
        """hashed=True through the STREAMING processor: the novel-index
        rows the loop appends must use the same hashed schema as the
        corpus index, or batch 2's unionByName fails and prior novels
        silently vanish from the old side (the cross-batch leak)."""
        root = _fresh_root(spark, tmp_path, hashed=True)
        process = _processor(root, hashed=True)
        b1 = spark.createDataFrame(BATCH_1, "doc_id long, text string")
        b2 = spark.createDataFrame(BATCH_2, "doc_id long, text string")
        process(b1, 0)
        process(b2, 1)
        out = (
            spark.read.parquet(str(root / "out"))
            .toPandas().set_index("doc_id")
        )
        # the decisive cross-batch row: 200 duplicates batch 0's novel 101
        assert out.loc[200, "status"] == "exact_dup"
        assert out.loc[200, "matched_old_id"] == 101
        assert out.loc[201, "status"] == "near_dup"
        # novel index rows carry the HASHED schema
        acc = spark.read.parquet(str(root / "accepted_index"))
        assert dict(acc.dtypes)["shingles"] == "array<bigint>"
        assert sorted(r["id"] for r in acc.collect()) == [101, 202]

    def test_legacy_accepted_state_fails_loudly(self, spark, tmp_path):
        """Accepted state that exists but can't serve the replay guard
        (no batch_id column) must FAIL the batch, not be misread as
        'first batch' — silently dropping the old side is the dedup-leak
        failure mode the try-scope exists to prevent."""
        from pyspark.errors import AnalysisException
        from doc_parser_spark.operators.dedup import dedup_index

        root = _fresh_root(spark, tmp_path)
        # legacy/corrupt accepted index: rows but NO batch_id column
        dedup_index(
            spark.createDataFrame(
                [(101, BATCH_1[1][1])], "doc_id long, text string"
            ),
            "doc_id", "text",
        ).write.parquet(str(root / "accepted_index"))
        process = _processor(root)
        b2 = spark.createDataFrame(BATCH_2, "doc_id long, text string")
        with pytest.raises(AnalysisException):
            process(b2, 1)

    def test_hashed_index_classifies_identically(self, spark):
        """hashed=True stores xxhash64(shingle) arrays (8 bytes/shingle —
        the 100-TB storage lever); classification must equal both the
        raw-shingle index and the SQL classification over the text."""
        from doc_parser_spark.operators.dedup import (
            dedup_incremental_indexed,
            dedup_index,
        )

        new_rows = BATCH_1 + BATCH_2 + [(300, "too short"), (301, "tiny")]
        old = spark.createDataFrame(OLD_ROWS, "doc_id long, text string")
        new = spark.createDataFrame(new_rows, "doc_id long, text string")

        hidx = dedup_index(old, "doc_id", "text", hashed=True)
        assert dict(hidx.dtypes)["shingles"] == "array<bigint>"
        got = dedup_incremental_indexed(
            new, hidx, "doc_id", "text", hashed=True
        ).toPandas()
        raw = dedup_incremental_indexed(
            new, dedup_index(old, "doc_id", "text"), "doc_id", "text"
        ).toPandas()
        assert _tuples(got) == _tuples(raw) == _sql_classify(new_rows, OLD_ROWS)
