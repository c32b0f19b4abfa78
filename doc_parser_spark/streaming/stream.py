"""Structured Streaming variants of the extraction pipeline.

The batch operators compose unchanged onto streaming DataFrames: extraction
is one ``mapInArrow`` that sniffs each turn's content type in-batch and
parses it, a stateless per-row transform, so
``readStream → extract → writeStream`` is the whole job. Checkpointing is
Spark-native here (offsets + sink commit log) — the batch pipeline's manifest
(plans/pipeline.py) covers the batch path.

Streaming dedup is the indexed path: ``dedup_incremental_stream_indexed``
classifies each micro-batch against a corpus index and the index rows of
earlier novels, exactly-once under kill/replay.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc_parser_spark.datamodel import TRANSCRIPT_SCHEMA
from doc_parser_spark.operators.extract import extract_turns


def read_transcript_stream(spark: SparkSession, input_path: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )


def extract_stream(transcripts: DataFrame) -> DataFrame:
    """Streaming extraction: same operator as batch (no repartition — the
    micro-batch is already split by source files; a streaming shuffle would
    only add latency)."""
    return extract_turns(transcripts, route_partitions=0)


def run_stream_to_parquet(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
):
    """readStream → extract → parquet sink; availableNow drains the backlog
    and stops (the batch-parity mode used in tests and backfills)."""
    out = extract_stream(read_transcript_stream(spark, input_path))
    return (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def guarded_accepted(
    accepted_raw: DataFrame, batch_id: int, cols: list[str]
) -> DataFrame:
    """THE replay guard (shared by ``indexed_dedup_processor`` and the
    ``stream_dedup_replay`` contract query): when batch ``batch_id``
    replays after a crash, the accepted state may already contain the
    first attempt's rows under the SAME batch_id — without this filter
    the replay would classify the batch's own novels as exact_dup of
    themselves (a replay divergence, not just a duplicate row)."""
    return accepted_raw.where(
        F.col("batch_id") < F.lit(batch_id)
    ).select(*cols)


def indexed_dedup_processor(
    corpus_index_path: str,
    accepted_index_path: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **dedup_kwargs,
):
    """foreachBatch body for ``dedup_incremental_stream_indexed``, exposed
    so fault-injection tests can replay a ``batch_id`` directly. Each
    micro-batch is classified (``dedup_incremental_indexed``) against the
    corpus index plus the index rows of earlier novels, never corpus
    text; novels append their own ``dedup_index`` rows.

    Exactly-once (foreachBatch itself is only at-least-once): both sinks
    are written ``partitionBy(batch_id)`` with DYNAMIC partition
    overwrite, so a replayed batch REPLACES its own partition — healing a
    partial commit too — and the accepted-index read keeps only
    ``batch_id < current`` (``guarded_accepted``). The operator is
    deterministic (min-id aggregates, content hashes), so after any
    kill/restart sequence the committed state equals a clean run's.
    Proven by tools/stream_kill_soak.py and tests/test_streaming_dedup.py."""
    from doc_parser_spark.operators.dedup import (
        dedup_incremental_indexed,
        dedup_index,
    )

    # 'hashed' MUST be forwarded: the novel rows' index schema has to match
    # the corpus index (array<bigint> vs array<string> shingles) or the
    # next batch's unionByName fails and prior novels silently vanish.
    index_kwargs = {
        kk: v
        for kk, v in dedup_kwargs.items()
        if kk in ("k", "bands", "n", "hashed")
    }

    def process(mb: DataFrame, batch_id: int) -> None:
        spark = mb.sparkSession
        idx = spark.read.parquet(corpus_index_path)
        try:
            # ONLY the path read may be swallowed (first batch: the
            # accepted sink doesn't exist yet). spark.read.parquet
            # resolves the schema eagerly, so a missing path raises HERE.
            accepted_raw = spark.read.parquet(accepted_index_path)
        except AnalysisException:
            # first batch. Any OTHER failure — schema drift, legacy data
            # without batch_id — raises OUTSIDE this try and fails the
            # batch; swallowing it would be a permanent dedup leak.
            accepted_raw = None
        if accepted_raw is not None:
            accepted = guarded_accepted(
                accepted_raw, batch_id,
                [c for c in accepted_raw.columns if c != "batch_id"],
            )
            # a hashed/unhashed mismatch between corpus index and novel
            # index rows must fail loudly here, not vanish the old side
            idx = idx.unionByName(accepted)
        mb = mb.persist()
        res = dedup_incremental_indexed(
            mb, idx, id_col, text_col, **dedup_kwargs
        ).persist()
        (
            res.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(output_path)
        )
        novel = mb.join(
            res.where(F.col("status") == "novel").select(id_col), id_col
        )
        (
            dedup_index(novel, id_col, text_col, **index_kwargs)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(accepted_index_path)
        )
        res.unpersist()
        mb.unpersist()

    return process


def dedup_incremental_stream_indexed(
    stream_df: DataFrame,
    corpus_index_path: str,
    accepted_index_path: str,
    output_path: str,
    checkpoint_path: str,
):
    """Continuous-ingestion dedup of a (doc_id, text) stream: every
    micro-batch is classified exact_dup / near_dup / novel against the
    corpus-so-far, and novel docs JOIN the old side for later batches.
    Corpus text is never read — only its one-time index
    (``dedup_index(corpus).write.parquet(...)``). Sinks are exactly-once
    under kill/replay (``indexed_dedup_processor``); availableNow drains
    the backlog and stops."""
    process = indexed_dedup_processor(
        corpus_index_path, accepted_index_path, output_path
    )
    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
