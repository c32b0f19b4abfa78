"""End-to-end extraction job: read → sniff → route → extract → write,
with per-bucket metrics in a commit manifest, and idempotent resume.

North-rule requirements covered here:
- explicit partitioning on ``hash(conv_id)`` buckets (Iceberg bucket analog;
  ``bucket_id = pmod(xxhash64(conv_id), n_buckets)``);
- checkpointing: every completed bucket gets a manifest row with lineage
  (job_run_id) and metrics (docs parsed, bytes, parse failures, wall);
- idempotent resume: a rerun anti-joins the manifest and only processes
  buckets without a committed manifest row;
- stable (conv_id, turn_idx) ordering within each written bucket.

Scale shape: ONE pass over the input — extraction rows stream from the
routing shuffle through one bucket-clustering shuffle straight into the
parquet writer (no cache of the corpus; caching the output was the first
design and dies at 100 TB). An ``Observation`` on the written frame counts
its rows in the write's own result stage, at no extra Spark job. Every row
carries ``job_run_id`` / ``n_bytes_in`` / ``proc_us`` lineage columns, so
per-bucket metrics aggregate from a column-pruned, explicit-schema scan of
the written files, and ONE commit write appends them to ``_manifest``: the
manifest row is the metrics row. At cluster scale the writes become Iceberg
appends and the manifest an Iceberg snapshot summary.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from doc_parser_spark.operators.extract import bucket_id, extract_turns

DEFAULT_BUCKETS = 64

# the commit row per (bucket, run); read with this explicit schema, a
# manifest needs no schema-inference job, and one a killed commit left with
# only ``_temporary/`` reads as zero rows (nothing committed)
_MANIFEST_SCHEMA = (
    "partition_id INT, docs_parsed BIGINT, bytes_processed BIGINT, "
    "parse_failures BIGINT, wall_ms BIGINT, job_run_id STRING, n_buckets INT"
)


def _manifest_path(output_path: str) -> str:
    return os.path.join(output_path, "_manifest")


def _extracted_path(output_path: str) -> str:
    return os.path.join(output_path, "extracted")


def _read_manifest(spark: SparkSession, output_path: str) -> DataFrame | None:
    """The commit manifest, or None if nothing was ever committed. Only a
    missing path means that: an unreadable manifest raises, since reading
    it as absent would reprocess and duplicate every committed bucket. The
    path is checked, not caught, because a failed read after any
    ``Observation`` in the session logs an ERROR from Spark's listener."""
    path = _manifest_path(output_path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return None
    return spark.read.schema(_MANIFEST_SCHEMA).parquet(path)


def run_extraction_job(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    boilerplate_mode: str = "reference",
    job_run_id: str | None = None,
    resume: bool = True,
    routing: str = "shuffle",
) -> dict:
    """Run the full pipeline; returns a summary dict (rows, wall_s, tps)."""
    job_run_id = job_run_id or uuid.uuid4().hex[:12]
    t0 = time.perf_counter()

    work = transcripts.withColumn("bucket_id", bucket_id("conv_id", n_buckets))

    manifest = _read_manifest(spark, output_path) if resume else None
    if manifest is not None:
        # resume across runs is only sound with a stable bucket function
        prior = manifest.select("n_buckets").first()
        if prior is not None and prior[0] != n_buckets:
            raise ValueError(
                f"output at {output_path} was written with n_buckets={prior[0]}; "
                f"resume with the same value (got {n_buckets})"
            )
        # manifest is tiny (≤ n_buckets rows per run) → broadcast anti-join,
        # no shuffle of the big side
        work = work.join(
            F.broadcast(manifest.select(F.col("partition_id").alias("bucket_id"))),
            on="bucket_id",
            how="left_anti",
        )

    # routing="shuffle": one exchange on (conv_id, turn_idx) before the
    #   parse — whale salting; batches stay content-mixed (extract_turns).
    # routing="none": extract directly on scan partitions — the bucket
    #   write below is then the job's ONLY full exchange. Right when the
    #   source already yields well-sized splits (Iceberg) and payload mix
    #   within a split is acceptable; wrong when input files are few/skewed.
    extracted = (
        extract_turns(
            work,
            boilerplate_mode=boilerplate_mode,
            route_partitions=0 if routing == "none" else None,
            keep_metrics_cols=True,
        )
        .withColumnRenamed("_n_bytes", "n_bytes_in")
        .withColumnRenamed("_proc_us", "proc_us")
        .withColumn("bucket_id", bucket_id("conv_id", n_buckets))
        .withColumn("job_run_id", F.lit(job_run_id))
    )

    # single pass: cluster by storage bucket, stable order, write.
    # the sort MUST lead with bucket_id: the dynamic-partition writer
    # requires ordering by the partition columns and would otherwise insert
    # its own (non-stable) sort, destroying (conv_id, turn_idx) order.
    # the observed node sits after the exchange, in the write's result
    # stage, so each written row is counted exactly once
    obs = Observation()
    (
        extracted.repartition(F.col("bucket_id"))
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .sortWithinPartitions("bucket_id", "conv_id", "turn_idx")
        .write.mode("append")
        .partitionBy("bucket_id")
        .parquet(_extracted_path(output_path))
    )
    out_rows = obs.get["rows"]

    if out_rows > 0:
        # metrics from the written files, THIS run only (job_run_id rows are
        # the run's lineage; the scan takes the written frame's schema, so
        # no inference job). the manifest commit is the LAST step: a bucket
        # is resumable-skipped only after its data is durably written
        lineage = ("n_bytes_in", "proc_us", "parse_status", "job_run_id", "bucket_id")
        (
            spark.read.schema(extracted.select(*lineage).schema)
            .parquet(_extracted_path(output_path))
            .where(F.col("job_run_id") == job_run_id)
            .groupBy(F.col("bucket_id").alias("partition_id"))
            .agg(
                F.count("*").alias("docs_parsed"),
                F.sum("n_bytes_in").alias("bytes_processed"),
                F.sum(
                    F.when(F.col("parse_status") == "failure", 1).otherwise(0)
                ).alias("parse_failures"),
                (F.sum("proc_us") / 1000).cast("long").alias("wall_ms"),
            )
            .withColumn("job_run_id", F.lit(job_run_id))
            .withColumn("n_buckets", F.lit(n_buckets))
            .coalesce(1)
            .write.mode("append")
            .parquet(_manifest_path(output_path))
        )

    wall_s = time.perf_counter() - t0
    return {
        "job_run_id": job_run_id,
        "rows": out_rows,
        "wall_s": wall_s,
        "turns_per_sec": out_rows / wall_s if wall_s > 0 else 0.0,
    }


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    """Committed rows only. Data lands in extracted/ BEFORE the manifest
    commit, so a crash between the two leaves orphan rows that the resumed
    run re-emits under a new job_run_id — reading raw files would double
    those buckets. The manifest's (partition_id, job_run_id) pairs are the
    commit log; a broadcast semi-join filters to them (manifest ≤ a few rows
    per bucket — no shuffle of the big side)."""
    df = spark.read.parquet(_extracted_path(output_path))
    manifest = _read_manifest(spark, output_path)
    if manifest is None:
        # no manifest → nothing was ever committed
        return df.where(F.lit(False))
    committed = manifest.select(
        F.col("partition_id").alias("bucket_id"), "job_run_id"
    )
    return df.join(
        F.broadcast(committed), ["bucket_id", "job_run_id"], "left_semi"
    )


def read_metrics(spark: SparkSession, output_path: str) -> DataFrame:
    """Per-bucket metrics, one row per (partition_id, job_run_id): the
    commit manifest itself."""
    return spark.read.schema(_MANIFEST_SCHEMA).parquet(_manifest_path(output_path))


def main(argv: list[str] | None = None) -> None:
    """spark-submit entry point:

        spark-submit --py-files pipeline.zip -m doc_parser_spark.plans.pipeline \\
            --input /path/or/table --output /out [--buckets 256] \\
            [--boilerplate reference|density] [--routing shuffle|none]
    """
    import argparse

    from doc_parser_spark.session import get_spark
    from doc_parser_spark.sources.iceberg import read_transcripts

    ap = argparse.ArgumentParser(description="transcript extraction job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=DEFAULT_BUCKETS)
    ap.add_argument("--boilerplate", default="reference",
                    choices=["reference", "density"])
    ap.add_argument("--routing", default="shuffle", choices=["shuffle", "none"])
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--job-run-id", default=None)
    args = ap.parse_args(argv)

    spark = get_spark(app_name="doc_parser_spark.extract")
    transcripts = read_transcripts(spark, args.input)
    summary = run_extraction_job(
        spark,
        transcripts,
        args.output,
        n_buckets=args.buckets,
        boilerplate_mode=args.boilerplate,
        job_run_id=args.job_run_id,
        resume=not args.no_resume,
        routing=args.routing,
    )
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
