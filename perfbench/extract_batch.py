"""extract_batch: one batch extraction job per operation.

Each operation runs ``plans.pipeline.run_extraction_job`` over a seeded
transcript corpus (default payload mix, 2% whale conversations) into a
fresh output with 16 buckets and shuffle routing. The operation is the
whole job, so its median latency is also the workload's wall time.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.harness import Bench, Op, fits, median

N_CONVS = 600  # ~18k turns
N_BUCKETS = 16
WARM_JOBS = 2
SAMPLE_ROWS = 96
KERNEL_TYPES = ("html", "plain", "pdf", "markdown", "csv", "asciidoc")
LAYER_REPEATS = 3  # noop writes per layer frame in a traced run
KERNEL_SAMPLE = 120  # turns per content type for the in-process kernel timing
UDF_SAMPLE = 1500  # turns for the in-process timing of the whole UDF


def extract_layers(b: Bench, transcripts, tag: str) -> dict[str, float]:
    """Wall time of each extraction layer, each the median of
    ``LAYER_REPEATS`` noop writes of a frame that adds one layer to the
    previous one: the scan, the routing exchange, the Arrow crossing
    (identity ``mapInPandas`` over the routed projection) and the
    extraction UDF (``extract_turns`` itself). Each layer's time is its
    frame's wall less the previous frame's, so the layers add up to
    ``extract_s``. Also what routing saves against ``route_partitions=0``."""
    from pyspark.sql import functions as F

    from doc_parser_spark.operators.extract import extract_turns

    def identity(batches):
        yield from batches

    def wall(df, name: str) -> float:
        return median(
            [b.noop_s(df, f"{tag}-{name}{i}") for i in range(LAYER_REPEATS)]
        )

    proj = transcripts.select("conv_id", "turn_idx", "text")
    routed = proj.repartition(F.col("conv_id"), F.col("turn_idx"))
    scan_s = wall(proj, "scan")
    routed_s = wall(routed, "routed")
    identity_s = wall(
        routed.mapInPandas(identity, schema=routed.schema), "crossing"
    )
    extract_s = wall(extract_turns(transcripts, keep_metrics_cols=True), "extract")
    unrouted_s = wall(
        extract_turns(transcripts, route_partitions=0, keep_metrics_cols=True),
        "extract0",
    )
    return {
        "sources.scan_s": scan_s,
        "operators.extract.extract_s": extract_s,
        "operators.extract.route_s": routed_s - scan_s,
        "operators.extract.route_gain_s": unrouted_s - extract_s,
        "operators.extract.crossing_s": identity_s - routed_s,
        "operators.extract.kernel_s": extract_s - identity_s,
    }


def _kernel_layers(corpus: pd.DataFrame, seed: int) -> dict:
    """Single-process µs/turn of the sniffer and of each content-type
    kernel, called through the public ``functions`` entry points, and of
    the whole extraction UDF (sniff, kernels, scoring, frame build) on a
    seeded sample."""
    from doc_parser_spark.functions.asciidoc_extract import extract_asciidoc
    from doc_parser_spark.functions.csv_extract import extract_csv
    from doc_parser_spark.functions.html_extract import extract_html
    from doc_parser_spark.functions.md_extract import extract_md
    from doc_parser_spark.functions.pdfish_extract import extract_pdfish
    from doc_parser_spark.functions.plain_extract import extract_plain
    from doc_parser_spark.operators.extract import make_extract_udf
    from doc_parser_spark.sources.sniff import sniff_series

    kernels = {
        "html": lambda t: extract_html(t, "reference"),
        "plain": extract_plain,
        "pdf": extract_pdfish,
        "markdown": extract_md,
        "csv": extract_csv,
        "asciidoc": extract_asciidoc,
    }
    texts = corpus["text"].fillna("")
    t = time.perf_counter()
    types = sniff_series(texts)
    out = {"sources.sniff_us": (time.perf_counter() - t) * 1e6 / len(texts)}
    for ct in KERNEL_TYPES:
        rows = texts[types == ct]
        sample = rows.sample(min(KERNEL_SAMPLE, len(rows)), random_state=seed)
        us = 0.0
        if len(sample):
            t = time.perf_counter()
            for text in sample:
                kernels[ct](text)
            us = (time.perf_counter() - t) * 1e6 / len(sample)
        out[f"functions.kernel_us.{ct}"] = us
        out[f"functions.row_share.{ct}"] = len(rows) / len(texts)

    sample = corpus.sample(UDF_SAMPLE, random_state=seed)[
        ["conv_id", "turn_idx", "text"]
    ]
    udf = make_extract_udf()
    t = time.perf_counter()
    for _ in udf(iter([sample])):
        pass
    out["functions.udf_us"] = (time.perf_counter() - t) * 1e6 / len(sample)
    return out


def _check_output(out: str, corpus: pd.DataFrame, seed: int) -> list[str]:
    """Untimed output checks of one committed job output."""
    from doc_parser_spark.operators.extract import make_extract_udf

    errors = []
    got = pq.read_table(os.path.join(out, "extracted")).to_pandas()
    if len(got) != len(corpus):
        errors.append(f"rows out {len(got)} != rows in {len(corpus)}")
    if got.duplicated(["conv_id", "turn_idx"]).any():
        errors.append("(conv_id, turn_idx) not unique")
    buckets = {
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(os.path.join(out, "extracted", "bucket_id=*"))
    }
    manifest = set(
        pq.read_table(os.path.join(out, "_manifest"))
        .column("partition_id").to_pylist()
    )
    if manifest != buckets:
        errors.append(f"manifest covers {len(manifest)} of {len(buckets)} buckets")

    sample = corpus.sample(SAMPLE_ROWS, random_state=seed)[
        ["conv_id", "turn_idx", "text"]
    ].reset_index(drop=True)
    expected = pd.concat(list(make_extract_udf()(iter([sample]))))
    merged = expected.merge(
        got, on=["conv_id", "turn_idx"], how="left", suffixes=("", "_got"),
        indicator=True,
    )
    cols = ["content_type", "extracted_text", "parse_status", "parse_score",
            "n_char", "n_word", "n_line", "spans"]
    bad = 0
    for _, row in merged.iterrows():
        if row["_merge"] != "both" or any(
            not _same(row[c], row[f"{c}_got"]) for c in cols
        ):
            bad += 1
    if bad:
        errors.append(f"{bad}/{SAMPLE_ROWS} sampled rows differ from make_extract_udf")
    return errors


def _same(a, b) -> bool:
    seqs = (list, np.ndarray)
    if isinstance(a, seqs) or isinstance(b, seqs):
        return (
            isinstance(a, seqs) and isinstance(b, seqs) and len(a) == len(b)
            and all(dict(x) == dict(y) for x, y in zip(a, b))
        )
    if pd.isna(a) or pd.isna(b):
        return pd.isna(a) and pd.isna(b)
    return a == b


def run(b: Bench, seed: int, seconds: float) -> dict:
    from doc_parser_spark.plans.pipeline import run_extraction_job

    spark = b.spark
    src = b.path("extract", "input.parquet")
    os.makedirs(os.path.dirname(src), exist_ok=True)
    input_s = []
    for _ in range(3):
        t = time.perf_counter()
        corpus = inputs.extract_corpus(seed, N_CONVS)
        inputs.write_transcripts(corpus, src)
        input_s.append(time.perf_counter() - t)
    n_turns = len(corpus)

    # warm-up: untimed jobs over the same input start the Python workers
    # and let the JIT compile the hot paths (the first four or five jobs of
    # a session run 10-30% slower than later ones; the median over the
    # timed jobs absorbs what two warm-up jobs leave)
    t = time.perf_counter()
    for i in range(WARM_JOBS):
        with b.phase(f"warmup{i}", "run"):
            run_extraction_job(
                spark, spark.read.parquet(src),
                b.fresh_dir("extract", f"warm{i}"), n_buckets=N_BUCKETS,
            )
    warm_s = time.perf_counter() - t

    ops: list[Op] = []
    t_start = time.perf_counter()
    while not ops or fits(t_start, seconds, ops[-1].wall_s):
        op = Op(f"job{len(ops)}")
        out = b.fresh_dir("extract", op.op_id)
        with b.timed_op(op) as part:
            with part("build"):
                transcripts = spark.read.parquet(src)
            with part("run"):
                res = run_extraction_job(
                    spark, transcripts, out, n_buckets=N_BUCKETS,
                    routing="shuffle",
                )
        op.info.update(rows=res["rows"], out=out)
        ops.append(op)
    b.settle_jvm()

    layers: dict[str, float] = {}
    if b.trace:
        layers.update(extract_layers(b, spark.read.parquet(src), "layer"))
        layers.update(_kernel_layers(corpus, seed))

    # untimed checks: row counts of every job, full checks of the last one,
    # then the resume call on that committed output must emit nothing
    errors = [
        f"{op.op_id}: {op.info['rows']} rows out of {n_turns}"
        for op in ops if op.info["rows"] != n_turns
    ]
    last = ops[-1]
    last_errors = _check_output(last.info["out"], corpus, seed)
    t = time.perf_counter()
    with b.phase("resume", "run"):
        resumed = run_extraction_job(
            spark, spark.read.parquet(src), last.info["out"],
            n_buckets=N_BUCKETS,
        )
    resume_s = time.perf_counter() - t
    if resumed["rows"] != 0:
        last_errors.append(f"resume emitted {resumed['rows']} rows")
    errors += last_errors
    # a failed check fails every turn of the job it checked
    failed_jobs = {op.op_id for op in ops if op.info["rows"] != n_turns}
    if last_errors:
        failed_jobs.add(last.op_id)

    walls = [op.wall_s for op in ops]
    if b.trace:
        # the rest of the job: bucket write, metrics and manifest commit
        layers["plans.pipeline.commit_s"] = (
            median(walls) - layers["operators.extract.extract_s"]
        )
        layers["plans.pipeline.resume_s"] = resume_s
    return {
        "ops": ops,
        "setup": {"input_s": median(input_s), "warm_s": warm_s},
        "wall_samples": walls,
        "op_samples": walls,
        "items": n_turns,
        "attempted": n_turns * len(ops),
        "failed": n_turns * len(failed_jobs),
        "errors": errors,
        "layers": layers,
    }
