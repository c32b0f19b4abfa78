"""Incremental curation against a standing index, timed layer by layer.

Runs inside the traced contract_queries run. Set-up builds a small index
with ``plans.curate.build_curation_index``; each batch operation is
``curate_ingest`` on the batch, the vectors written, the novel index rows
appended to the standing index, and ``stats.unpersist()``. Batches carry
planted exact copies and light edits of indexed turns plus within-batch
repeats, so the dedup paths fire. The dedup and chunking operators are
then timed one by one on the last batch.
"""

from __future__ import annotations

import glob
import json
import os
import time

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.harness import Bench, Op, median, source_sha

INDEX_CONVS = 200  # ~2k indexed turns
BATCH_CONVS = 40  # ~400 fresh turns per batch
# planted per batch, of each kind: copies and edits of indexed turns,
# repeats and edits of the batch's own turns
PLANTED = 12
BATCHES = 2  # the first one warms up


def _dedup_layers(b: Bench, batch_path: str, index_path: str) -> dict:
    """Time each dedup / chunking operator from outside on one batch, each
    on materialized inputs, wired the way ``curate_ingest`` wires them."""
    from pyspark.sql import functions as F

    from doc_parser_spark.operators.chunking import chunk_turns, compose_vectors
    from doc_parser_spark.operators.dedup import (
        dedup_incremental_indexed,
        dedup_index,
        exact_dedup,
        lsh_candidate_pairs,
    )
    from doc_parser_spark.plans.curate import _extract_gate

    spark = b.spark
    kept_path = b.fresh_dir("curate", "layer-kept")
    # untimed: the plan's own extract + quality gate, materialized
    batch = spark.read.parquet(batch_path)
    _extract_gate(batch, {}, 0.5, "reference").write.parquet(kept_path)
    kept = spark.read.parquet(kept_path)
    exact = exact_dedup(kept, "uid", "extracted_text").where("keep").drop(
        "keep", "doc_hash"
    )
    out = {"operators.dedup.exact_s": b.noop_s(exact, "layer-exact")}
    deduped_path = b.fresh_dir("curate", "layer-deduped")
    exact.write.parquet(deduped_path)
    deduped = spark.read.parquet(deduped_path)

    pairs_path = b.fresh_dir("curate", "layer-pairs")
    with b.phase("layer-lsh", "run"):
        t = time.perf_counter()
        lsh_candidate_pairs(
            deduped, "uid", "extracted_text", threshold=0.7, k=8, bands=8,
            n=3, max_bucket=1000,
        ).write.parquet(pairs_path)
        out["operators.dedup.lsh_pairs_s"] = time.perf_counter() - t
    pairs = spark.read.parquet(pairs_path)
    out["operators.dedup.pairs"] = pq.read_table(pairs_path).num_rows
    survivors = deduped.join(
        pairs.select(F.col("b_id").alias("uid")).distinct(), "uid", "left_anti"
    )
    cls = dedup_incremental_indexed(
        survivors.select("uid", "extracted_text"), spark.read.parquet(index_path),
        "uid", "extracted_text", threshold=0.7, k=8, bands=8, n=3,
        hashed=True, cast_matched=None,
    )
    out["operators.dedup.classify_s"] = b.noop_s(cls, "layer-classify")
    out["operators.dedup.index_s"] = b.noop_s(
        dedup_index(survivors, "uid", "extracted_text", k=8, bands=8, n=3,
                    hashed=True),
        "layer-index",
    )
    out["operators.chunking.vectors_s"] = b.noop_s(
        compose_vectors(chunk_turns(survivors, max_tokens=2000)),
        "layer-vectors",
    )
    return out


def measure(b: Bench, seed: int) -> dict:
    """Returns ``layers`` (per-layer figures), ``ops`` (the timed batches)
    and ``errors`` (failed output checks)."""
    from doc_parser_spark.plans.curate import build_curation_index, curate_ingest

    spark = b.spark
    corpus = inputs.index_corpus(seed, INDEX_CONVS)
    corpus_path = inputs.write_transcripts(
        corpus, b.fresh_dir("curate", "corpus.parquet")
    )
    index_path = b.fresh_dir("curate", "index")
    t = time.perf_counter()
    with b.phase("curate-index", "run"):
        build_curation_index(spark, spark.read.parquet(corpus_path)).write.parquet(
            index_path
        )
    index_build_s = time.perf_counter() - t

    indexed = set(pq.read_table(index_path, columns=["id"]).column("id").to_pylist())
    uid = corpus["conv_id"] + "#" + corpus["turn_idx"].astype(str)
    index_texts = {u: x for u, x in zip(uid, corpus["text"]) if u in indexed}

    ops: list[Op] = []
    for i in range(BATCHES):
        df, must_drop = inputs.curate_batch(
            seed, i, BATCH_CONVS, index_texts, PLANTED
        )
        path = inputs.write_transcripts(df, b.path("curate", f"batch{i}.parquet"))
        op = Op(f"curate-batch{i}")
        vec_path = b.fresh_dir("curate", f"vectors{i}")
        with b.timed_op(op) as part:
            with part("build"):
                vectors, novel, stats = curate_ingest(
                    spark, spark.read.parquet(path), spark.read.parquet(index_path)
                )
            with part("run"):
                vectors.write.parquet(vec_path)
                novel.write.mode("append").parquet(index_path)
                counts = dict(stats)
                stats.unpersist()
        op.info.update(counts=counts, vectors=vec_path, must_drop=must_drop,
                       path=path)
        ops.append(op)
    timed = ops[1:]

    layers = {
        "plans.curate.index_build_s": index_build_s,
        "plans.curate.build_s": median([op.build_s for op in timed]),
        "plans.curate.build_jobs": median([op.build_jobs for op in timed]),
        "plans.curate.held_bytes": median([op.held_bytes for op in timed]),
        "plans.curate.novel_ratio": median(
            [op.info["counts"]["novel"] / op.info["counts"]["extracted"]
             for op in timed]
        ),
        "plans.curate.batch_s": median([op.wall_s for op in timed]),
        "sources.index_files": len(glob.glob(os.path.join(index_path, "*.parquet"))),
    }
    layers.update(_dedup_layers(b, ops[-1].info["path"], index_path))
    return {
        "layers": layers,
        "ops": timed,
        "checked": len(ops),
        "errors": _check(b, seed, ops),
    }


def _check(b: Bench, seed: int, ops: list[Op]) -> list[str]:
    """Planted exact copies and repeats never come out novel, and the
    per-stage counts repeat exactly across runs of the same seed. Returns
    one message per failing batch."""
    errors = []
    record_path = b.path("records", f"curate-stats-{seed}-{source_sha()}.json")
    seen = {}
    if os.path.exists(record_path):
        with open(record_path) as f:
            seen = json.load(f)
    for op in ops:
        vec = pq.read_table(op.info["vectors"], columns=["conv_id", "turn_idx"])
        novel = {
            f"{c}#{t}" for c, t in zip(vec.column("conv_id").to_pylist(),
                                       vec.column("turn_idx").to_pylist())
        }
        bad = []
        leaked = novel.intersection(op.info["must_drop"])
        if leaked:
            bad.append(f"{len(leaked)} planted duplicates kept")
        counts = {k: int(v) for k, v in op.info["counts"].items()}
        prior = seen.setdefault(op.op_id, counts)
        if prior != counts:
            bad.append(f"stage counts {counts} != earlier run {prior}")
        if bad:
            errors.append(f"{op.op_id}: " + "; ".join(bad))
    with open(record_path, "w") as f:
        json.dump(seen, f)
    return errors
