"""Training-data curation pipeline: the composition story.

extract → quality gate → exact dedup → near-dup (MinHash-LSH) removal →
vs-corpus classification → token-budget chunking → vector metadata. Every
stage is one of the repo's operators; this plan wires them the way a 100 TB
pretraining-data job would:

- the quality gate runs BEFORE any dedup join (cheap filter first — shrinks
  both join sides);
- exact dedup is a hash aggregate on md5(extracted_text) — map-side combine,
  one narrow shuffle;
- near-dup removal joins constant-size LSH bucket keys, never payload text;
  survivors = the smallest turn uid of each near-dup cluster (greedy by id,
  deterministic);
- chunking is row-local; the only remaining shuffles are the GenOSVectorMeta
  index windows;
- per-stage row counts ride the SINGLE terminal action as CollectMetrics
  (``df.observe``) nodes — no eager ``.count()`` jobs re-traversing the
  lineage (at 100 TB each such job re-runs memory-pressured stages).

At 100 TB the steady state is a standing corpus + arriving batches, where
per-batch cost must be O(batch), never O(corpus): ``build_curation_index``
writes the corpus's materialized dedup index once, and each
``curate_ingest`` batch classifies against it (operators/dedup.py's
dedup_index / dedup_incremental_indexed, round 6: 158 s -> 4.5 s per 5k
batch vs a 1M corpus). A one-shot corpus build is ``curate_ingest``
against the index of an empty corpus.
"""

from __future__ import annotations

from collections import UserDict

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from doc_parser_spark.datamodel import STATUS_PARTIAL, STATUS_SUCCESS
from doc_parser_spark.operators.chunking import chunk_turns, compose_vectors
from doc_parser_spark.operators.dedup import (
    dedup_incremental_indexed,
    dedup_index,
    exact_dedup,
    lsh_candidate_pairs,
)
from doc_parser_spark.operators.extract import extract_turns
from doc_parser_spark.session import ForkCache, fork

# the quality gate's parse_score floor, and the extraction mode it gates
MIN_QUALITY = 0.5
BOILERPLATE_MODE = "reference"
# minhash permutations, LSH bands and shingle size of the within-batch LSH
# pass and of the dedup index (the index's identity). 8 bands × 1 row:
# candidate probability 1-(1-j)^8 ≈ 1.0 for j ≥ 0.5 — high recall for a
# dedup pass (false candidates are killed by the exact Jaccard
# verification). The operator default (bands=2, rows=4) would cap
# vs-corpus candidate recall at ~42% for j = 0.7 — a near-dup admitted as
# novel is permanent, so the index pays 8 bucket rows/doc (bucket rows are
# constant-width; the shingle array, the index's real bulk, is unaffected).
# This is the policy the standing oracles pin; docs/SCALE.md round 8
# measures the r=2 candidate-volume/recall trade-off.
INDEX_K, INDEX_BANDS, INDEX_N = 8, 8, 3
# production guard against near-identical template families (they survive
# exact dedup and land m docs in one bucket per band → m²/2 pairs);
# oversized buckets emit a Jaccard-verified star instead, which keeps the
# loser set (everything but the min uid) identical for a true family. No
# bucket in the contract corpora comes near the cap, so oracle parity is
# unaffected.
LSH_MAX_BUCKET = 1000


class CurationStats(UserDict):
    """Per-stage row counts, collected from the plan's CollectMetrics nodes
    by whatever action the CALLER runs on the returned vectors DataFrame
    (normally the one real write). If the stats are read before any action
    has run, ONE fallback count() fires and fills every stage at once —
    the worst case is one extra job, never five.

    Every read goes through ``__getitem__``, ``__iter__``, ``__len__``,
    ``__contains__`` or ``__repr__``, and each fills first; the Mapping
    mixins route ``get``, ``==``, ``copy``, ``pop``, ``keys``/``items``/
    ``values`` and ``dict(stats)`` through them.

    ``unpersist()`` releases ``forks``, the ForkCache the plan was built
    in — the dedup-survivor fork points AND lsh_candidate_pairs' bucket
    fork — so a long-lived ingest driver looping batches frees each
    batch's cached blocks once its terminal action has run."""

    def __init__(self, vectors: DataFrame, observations: dict[str, Observation],
                 forks: ForkCache):
        super().__init__()
        self._vectors = vectors
        self._observations = observations
        self._forks = forks
        self._filled = False

    def _fill(self) -> None:
        if self._filled:
            return
        # probe the "vectors" observation BY NAME (it belongs to the frame
        # ``self._vectors`` the fallback count runs on): in curate_ingest an
        # action on the novel_index BRANCH fires the upstream observations
        # but never the vectors one — probing the first would then block
        # forever on obs.get below, and probing "whatever was inserted
        # last" would silently break if a later stage were ever observed
        # after vectors (round-7 ADVICE).
        last = self._observations.get(
            "vectors", list(self._observations.values())[-1]
        )
        try:
            action_ran = not last._jo.getOrEmpty().isEmpty()
        except Exception:  # private-API drift → safe fallback
            action_ran = False
        if not action_ran:
            self._vectors.count()
        for name, obs in self._observations.items():
            self.data[name] = int(obs.get["count"])
        self._filled = True

    def unpersist(self) -> None:
        self._forks.release()

    def __getitem__(self, key):
        self._fill()
        return super().__getitem__(key)

    def __iter__(self):
        self._fill()
        return super().__iter__()

    def __len__(self):
        self._fill()
        return super().__len__()

    def __contains__(self, key):
        self._fill()
        return super().__contains__(key)

    def __repr__(self):
        self._fill()
        return super().__repr__()


def _observe(df: DataFrame, obs_map: dict[str, Observation],
             name: str) -> DataFrame:
    obs = Observation(f"curation_{name}")
    obs_map[name] = obs
    return df.observe(obs, F.count(F.lit(1)).alias("count"))


def _extract_gate(
    transcripts: DataFrame,
    observations: dict[str, Observation],
    min_quality: float,
    boilerplate_mode: str,
) -> DataFrame:
    """Shared head of build_curation_index / curate_ingest:
    extract -> uid -> quality gate (cheap filter first)."""
    extracted = extract_turns(transcripts, boilerplate_mode=boilerplate_mode)
    extracted = extracted.withColumn(
        "uid", F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
    )
    extracted = _observe(extracted, observations, "extracted")
    kept = extracted.where(
        F.col("parse_status").isin(STATUS_SUCCESS, STATUS_PARTIAL)
        & (F.col("n_char") > 0)
        & (F.coalesce(F.col("parse_score"), F.lit(0.0)) >= min_quality)
    )
    return _observe(kept, observations, "quality_kept")


def _dedup_within(
    kept: DataFrame,
    observations: dict[str, Observation],
    near_dup_jaccard: float,
) -> DataFrame:
    """Within-batch dedup: exact dedup, then drop the larger uid of every
    verified LSH pair (greedy, deterministic). Runs inside the caller's
    ForkCache."""
    deduped = exact_dedup(kept, "uid", "extracted_text")
    deduped = deduped.where("keep").drop("keep", "doc_hash")
    deduped = _observe(deduped, observations, "exact_unique")
    # the LSH-pair branch and the survivor anti-join below BOTH consume
    # deduped inside the one terminal action — fork it so extraction +
    # dedup don't run twice. The caller releases it via stats.unpersist():
    # until then the CacheManager keeps the entry (LRU may evict its
    # blocks, never the entry)
    deduped = fork(deduped)
    pairs = lsh_candidate_pairs(
        deduped, "uid", "extracted_text", threshold=near_dup_jaccard,
        k=INDEX_K, bands=INDEX_BANDS, n=INDEX_N, max_bucket=LSH_MAX_BUCKET,
    )
    # no broadcast hint: the loser set can be corpus-sized on dup-heavy
    # data — AQE picks broadcast when it actually fits
    losers = pairs.select(F.col("b_id").alias("uid")).distinct()
    survivors = deduped.join(losers, "uid", "left_anti")
    return _observe(survivors, observations, "near_dup_unique")


def build_curation_index(
    spark: SparkSession,
    transcripts: DataFrame,
    hashed: bool = True,
) -> DataFrame:
    """One-pass materialized dedup index over a corpus of transcripts:
    extract + quality gate, then ``dedup_index`` rows
    (uid, h, buckets, shingles) keyed by the turn uid. Write this ONCE per
    corpus; after that, ``curate_ingest`` batches never re-read corpus
    text. ``hashed=True`` (default — the at-scale setting) stores xxhash64
    shingle arrays: 8 bytes/shingle instead of the raw trigram strings.
    ``hashed`` is part of the index's identity: pass the SAME value to
    every ``curate_ingest`` against it."""
    kept = _extract_gate(transcripts, {}, MIN_QUALITY, BOILERPLATE_MODE)
    return dedup_index(
        kept, "uid", "extracted_text", k=INDEX_K, bands=INDEX_BANDS,
        n=INDEX_N, hashed=hashed,
    )


def curate_ingest(
    spark: SparkSession,
    transcripts: DataFrame,
    corpus_index: DataFrame,
    near_dup_jaccard: float = 0.7,
    max_tokens: int = 2000,
    hashed: bool = True,
) -> tuple[DataFrame, DataFrame, CurationStats]:
    """Incremental curation ingest of ONE batch against a standing corpus
    index (``build_curation_index`` output, normally read back from
    parquet). Returns ``(vectors, novel_index_rows, stats)``:

    - ``vectors``: chunk + GenOSVectorMeta rows for the batch's NOVEL
      turns only (unique within the batch AND not exact/near dups of the
      indexed corpus);
    - ``novel_index_rows``: ``dedup_index`` rows for those turns — append
      them to the standing index after the batch's terminal write commits
      (append-only maintenance; exactly what
      streaming/stream.py::indexed_dedup_processor does per micro-batch,
      with batch_id bookkeeping for replay);
    - ``stats``: per-stage row counts (``CurationStats``): extracted,
      quality_kept, exact_unique, near_dup_unique, novel, vectors. They
      materialize from observe() metrics when the caller's first action
      on ``vectors`` runs (or on first stats access, via one fallback
      count). Call ``stats.unpersist()`` after the terminal write to
      release the cached dedup intermediates.

    Cost shape: corpus text is NEVER read (only the index columns the
    plan touches); every join is batch-sized against index-shaped
    constant-width rows. Within-batch dedup runs first (batch-local:
    exact, then 8-band LSH with the hot-bucket star cap), then one
    ``dedup_incremental_indexed`` classification pass against the index.
    """
    observations: dict[str, Observation] = {}
    with ForkCache() as forks:
        kept = _extract_gate(
            transcripts, observations, MIN_QUALITY, BOILERPLATE_MODE
        )

        # within-batch exact + near dedup, shingled the same way as the
        # vs-corpus classification below (the index identity)
        survivors = _dedup_within(kept, observations, near_dup_jaccard)
        # fork point: consumed by the classification lineage AND the novels
        # semi-join — without the fork the in-batch LSH pipeline
        # re-evaluates per branch (the differing projections defeat
        # ReuseExchange)
        survivors = fork(survivors)

        # vs-corpus classification: batch-sized joins against the index only.
        # cast_matched=None — uids are strings; ANSI mode would throw on the
        # default long cast (matched_old_id keeps the uid type).
        cls = dedup_incremental_indexed(
            survivors.select("uid", "extracted_text"), corpus_index,
            "uid", "extracted_text", threshold=near_dup_jaccard,
            k=INDEX_K, bands=INDEX_BANDS, n=INDEX_N, hashed=hashed,
            cast_matched=None,
        )
        novels = survivors.join(
            cls.where("status = 'novel'").select("uid"), "uid", "semi"
        )
        novels = _observe(novels, observations, "novel")
        # consumed by BOTH chunk->vectors and the novel index rows
        novels = fork(novels)

        novel_index = dedup_index(
            novels, "uid", "extracted_text", k=INDEX_K, bands=INDEX_BANDS,
            n=INDEX_N, hashed=hashed,
        )

        chunks = chunk_turns(novels, max_tokens=max_tokens)
        vectors = compose_vectors(chunks)
        vectors = _observe(vectors, observations, "vectors")

    return vectors, novel_index, CurationStats(vectors, observations, forks)
