"""Corpus-curation operators for large-scale training-data pipelines:
benchmark decontamination, deterministic stratified sampling, and
token-budget sequence packing.

These complement the dedup/similarity layer (operators/dedup.py,
operators/similarity.py) with the remaining steps a pretraining data
pipeline runs between "extracted text" and "training sequences".

All computation is JVM-side built-in expressions — no Python UDFs.

Scale notes (100 TB):
- ``decontaminate_ngrams``: the benchmark side (an eval set: thousands of
  documents, not billions) is exploded to distinct n-grams and BROADCAST;
  the corpus side explodes n-grams map-side and probes the broadcast hash
  table without shuffling, then reduces to one light (id, hits) row per
  document — the only exchange carries two small columns, with map-side
  partial aggregation. The corpus text never rides a shuffle.
- ``stratified_sample`` is 100% row-local (zero shuffle): the keep/drop
  decision is a deterministic hash of (stratum, id), so re-runs, retries
  and resumes pick the identical sample without coordination — exactly the
  property a resumable 10^12-row job needs. No per-partition RNG state.
- ``pack_sequences`` shards the corpus by hash before the running-sum
  window, so no window partition exceeds corpus/n_shards rows. Packing
  imposes no semantic grouping, so sharding is free parallelism — the
  alternative (one global ORDER BY window) would serialize 100 TB through
  a single task. One exchange on the shard key, rows carry only
  (id, token_count).
- ``lm_quality_score`` trains on the corpus with one map-side-combined
  token-count aggregation (the shuffle carries (token, partial_count),
  never text), takes the top-K vocabulary with TakeOrdered (distributed
  partial top-K — no global sort task), and scores with a BROADCAST
  vocab join + per-document aggregation whose shuffle again carries only
  (id, partial sums).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from doc_parser_spark.operators.dedup import shingle_expr_from_words
from doc_parser_spark.operators.search import TOKENIZE
from doc_parser_spark.session import fork

DEFAULT_DECONTAM_N = 5
DEFAULT_PACK_BUDGET = 2048
DEFAULT_PACK_SHARDS = 16


def decontaminate_ngrams(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = DEFAULT_DECONTAM_N,
) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with a benchmark
    set (the GPT-3/Llama eval-decontamination rule: a training document is
    contaminated when any of its n-grams appears verbatim in an eval
    document).

    Returns one row per corpus document: (id_col, n_hits, contaminated)
    where ``n_hits`` counts the document's DISTINCT n-grams found in the
    benchmark and ``contaminated`` is ``n_hits > 0``. Documents shorter
    than ``n`` words have no n-grams and are never contaminated.

    Shape: benchmark n-grams are distinct-ed and broadcast; the corpus is
    exploded map-side (explode_outer keeps short documents), probed against
    the broadcast, and reduced by id. Only (id, hit) rows shuffle.
    """
    # round 8: split once per row (shingle_expr_from_words) — the inlined
    # form re-ran split(text) inside the transform lambda per shingle
    doc_grams = corpus.withColumn(
        "_w", F.split(F.col(text_col), " ")
    ).select(
        F.col(id_col),
        F.explode_outer(F.expr(shingle_expr_from_words("_w", n))).alias("ngram"),
    )
    bench_grams = (
        benchmark.withColumn("_w", F.split(F.col(text_col), " "))
        .select(
            F.explode(F.expr(shingle_expr_from_words("_w", n))).alias("ngram")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probed = doc_grams.join(F.broadcast(bench_grams), "ngram", "left")
    return probed.groupBy(id_col).agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_hits"),
        (F.sum(F.coalesce(F.col("hit"), F.lit(0))) > 0).alias("contaminated"),
    )


def sample_threshold_hex(rate: float) -> str:
    """4-hex-digit keep threshold for ``stratified_sample``'s lexicographic
    compare. rate >= 1.0 must keep EVERYTHING, but ``'10000'`` would compare
    as '1...' < most digests — use a sentinel above every hex digit."""
    return "zzzz" if rate >= 1.0 else f"{int(rate * 0x10000):04x}"


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float],
) -> DataFrame:
    """Deterministic per-stratum sampling with loss-reweighting weights.
    Strata missing from ``rates`` are never sampled.

    Keeps a row iff the first 4 hex digits of ``md5(stratum || '|' || id)``
    fall below ``rate * 0x10000`` — a pure function of the row, so the
    sample is identical across retries/resumes/engines (the lexicographic
    compare on fixed-width lowercase hex is the uniform(0,1) draw; no RNG,
    no seed plumbing, portable to any engine with md5). Adds:

    - ``sampled``: the keep decision (rows are flagged, not filtered, so
      callers can audit rates; filter on it downstream).
    - ``weight``: 1/rate for kept rows (inverse-propensity weight so
      downsampled strata keep their expected loss contribution), 0.0 for
      dropped rows.

    Row-local, zero shuffle.
    """
    u_hex = F.substring(
        F.md5(F.concat_ws("|", F.col(stratum_col), F.col(id_col).cast("string"))),
        1,
        4,
    )
    thr = F.lit(sample_threshold_hex(0.0))
    w = F.lit(0.0)
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, sample_threshold_hex(rate)
        ).otherwise(thr)
        w = F.when(
            F.col(stratum_col) == stratum, round(1.0 / rate, 4) if rate > 0 else 0.0
        ).otherwise(w)
    sampled = u_hex < thr
    return df.withColumn("sampled", sampled).withColumn(
        "weight", F.when(sampled, w).otherwise(F.lit(0.0))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = DEFAULT_PACK_BUDGET,
    n_shards: int = DEFAULT_PACK_SHARDS,
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences
    (concat-and-chunk packing: documents are laid end to end in
    deterministic (shard, id) order and cut every ``budget`` tokens —
    the standard pretraining packing scheme; a document straddling a cut
    belongs to the sequence where it starts and is flagged).

    Output per document: shard, whitespace token count, ``seq_id`` (the
    sequence its first token lands in, globally unique as
    shard * 2^32 + local index), ``offset_in_seq`` (token offset of the
    document inside that sequence) and ``straddles`` (true when the
    document crosses the budget boundary and the trainer must split it).

    Shape: one exchange on ``pmod(hash-ish id, n_shards)``; the running
    sum is a per-shard ordered window, so window partition size is bounded
    by corpus/n_shards and no global sort exists. Raise ``n_shards`` with
    cluster size — packing needs no semantic locality.
    """
    toks = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("tokens"),
    )
    win = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("tokens").over(win)
    start = cum - F.col("tokens")
    local_seq = F.floor(start / budget)
    return toks.select(
        F.col(id_col),
        "shard",
        F.col("tokens").cast("int").alias("tokens"),
        (F.col("shard").cast("long") * F.lit(2**32) + local_seq)
        .cast("long")
        .alias("seq_id"),
        (start - local_seq * budget).cast("int").alias("offset_in_seq"),
        (F.floor((cum - 1) / budget) > local_seq).alias("straddles"),
    )


DEFAULT_LM_VOCAB = 4096


def lm_quality_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = DEFAULT_LM_VOCAB,
) -> DataFrame:
    """CCNet-style language-model quality score (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    score each document by the mean negative log-likelihood of its tokens
    under a unigram LM trained on the corpus itself — documents whose token
    distribution is unusual for the corpus (gibberish, boilerplate,
    wrong-language) score HIGH and can be threshold-filtered. The real CCNet
    uses a KenLM 5-gram; this engine-portable stand-in is the unigram corpus
    LM with a count-1 floor for tokens outside the top ``vocab_size``
    vocabulary (the OOV penalty).

    Tokens: lowercase alphanumeric runs (split on ``[^a-z0-9]+``). Output
    one row per document with ≥1 token: (id_col, n_tokens, nll) where
    ``nll = round(avg(-ln(count(tok)/total_tokens)), 4)``.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").cast("double").alias("t"))
    vocab = counts.orderBy(F.col("c").desc(), "tok").limit(vocab_size)
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (
                -F.log(
                    F.coalesce(F.col("c"), F.lit(1)).cast("double")
                    / F.col("t")
                )
            ).alias("nll_tok"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.round(F.avg("nll_tok"), 4).alias("nll"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (corpus keyword extraction —
    the classic retrieval/labeling primitive over the same lowercase
    alphanumeric tokens as ``lm_quality_score``).

    score(doc, tok) = tf · (ln((N + 1) / (df + 1)) + 1) with smoothed IDF
    (N = corpus document count, df = documents containing the token).
    Ranking uses the UNROUNDED score (products of identical doubles are
    engine-identical — no float-summation order anywhere), ties broken by
    token text, so the cutoff is deterministic; the emitted score is
    rounded to 4 dp.

    Output: (id_col, term, rank, score), rank 1..k.

    Scale shape: one (doc, token) count aggregate (map-side combined,
    exploded tokens are scan-co-located so the exchange carries one row
    per distinct (doc, token) per partition), one token-level document-
    frequency aggregate whose result joins back BROADCAST-style only if
    small — at web scale the (doc_tok ⋈ df) join shuffles on token, rows
    two-ids-plus-counts wide; the final per-doc top-k window shuffles
    (id, token, score) once on id. Document text never rides a shuffle.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("term"),
    )
    doc_tok = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # count(when(tf > 0, 1)) == count(*) (tf ≥ 1 by construction), but the
    # tf reference stops ColumnPruning from rewriting this branch's first
    # aggregate into a bare DISTINCT — with the column pruned, the two
    # (id, term) shuffles stop being canonically equal and Spark computes
    # the corpus tokenize + partial-aggregate pass TWICE (measured: zero
    # ReusedExchange). With it, the doc_tok exchange is built once and
    # ReusedExchange feeds the docfreq rollup (round 8; plan evidence in
    # plans/r08/text_tfidf_topk_after_executed.txt — the reuse is an AQE
    # stage-level decision, visible only in the executed plan).
    docfreq = doc_tok.groupBy("term").agg(
        F.count(F.when(F.col("tf") > 0, 1)).cast("double").alias("df_count")
    )
    n_docs = df.select(
        F.count("*").cast("double").alias("n_docs")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_score").desc(), F.col("term")
    )
    return (
        doc_tok.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_score",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1) / (F.col("df_count") + 1)) + 1),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col(id_col),
            "term",
            F.col("rank").cast("int").alias("rank"),
            F.round("_score", 4).alias("score"),
        )
    )


# lang_id_ngram reads the first LANG_ID_PREFIX chars of each document and
# keeps the LANG_ID_VOCAB most frequent trigrams as its model vocabulary
LANG_ID_PREFIX = 200
LANG_ID_VOCAB = 4096


def lang_id_ngram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    langs: list[str],
) -> DataFrame:
    """Character-trigram multinomial Naive Bayes language identifier,
    trained on the corpus's own labels (Cavnar-Trenkle n-gram profiles /
    the langid.py model family) — the real upgrade over a stopword-ratio
    heuristic, with train and apply in ONE lazy plan.

    score(doc, l) = ln(docs_l / N) + Σ_g ln((c(g,l) + 1) / (T_l + V))
    (Laplace smoothing; V = distinct trigrams corpus-wide; grams outside a
    language's counts — including everything outside the
    top-``LANG_ID_VOCAB`` model vocabulary — pay the +0 numerator floor).
    Prediction = argmax over ``langs`` on the 6-dp-rounded score, ties
    broken by language code — engine-stable.

    Output: (id_col, pred_lang, score, is_correct).

    Scale shape: the model table must be broadcast-able, but raw trigram
    counts are NOT bounded for CJK-heavy corpora (they grow with content,
    not alphabet³) — so the model keeps only the ``LANG_ID_VOCAB`` most
    frequent grams via TakeOrdered (distributed partial top-K, no global
    sort); everything else scores through the OOV floor, exactly like
    ``lm_quality_score``. Exploded document grams are scan-co-located, so
    the per-document log-likelihood aggregate is map-side partial and its
    exchange carries (id, |langs| sums). The only other exchange is the
    |langs|-rows-per-doc argmax window on id. Document text never shuffles.
    """
    # round 8: materialize the lowercased prefix as a COLUMN before the
    # trigram transform — inlined in the transform, the lambda body
    # re-evaluated lower(substr(text, 1, prefix)) once PER TRIGRAM
    # (~prefix times per row; the SimHash/winnow non-CSE shape). One
    # explode pass dropped from ~1.9 s to ~0.6 s at sf0.1. Same strings,
    # same trigrams — output unchanged.
    _pfx = F.lower(F.substring(F.col(text_col), 1, LANG_ID_PREFIX))
    _tri = F.expr(
        "CASE WHEN length(_pfx) >= 3 THEN "
        "transform(sequence(1, length(_pfx) - 2), i -> substr(_pfx, i, 3)) "
        "ELSE array() END"
    )
    grams = df.withColumn("_pfx", _pfx).select(
        F.col(id_col),
        F.col(lang_col).alias("_lang"),
        F.explode(_tri).alias("g"),
    )
    per_lang = [
        F.sum(F.when(F.col("_lang") == l, 1).otherwise(0)).alias(f"c_{i}")
        for i, l in enumerate(langs)
    ]
    counts_all = grams.groupBy("g").agg(*per_lang)
    counts_wide = counts_all.orderBy(
        F.expr(" + ".join(f"c_{i}" for i in range(len(langs)))).desc(), "g"
    ).limit(LANG_ID_VOCAB)
    # round 8: derive V and the per-language totals from counts_all instead
    # of re-exploding the corpus — v = countDistinct(g) is exactly the
    # distinct-gram row count of the (g)-keyed aggregate, and t_i = Σ c_i
    # (integer sums, so the doubles are identical). The totals subtree now
    # shares counts_all's tokenize+partial-aggregate exchange with the
    # vocabulary branch (runtime exchange reuse) instead of running its own
    # full trigram pass: 3 corpus explodes → 2.
    totals = counts_all.groupBy().agg(
        F.count("*").cast("double").alias("v"),
        *[
            F.sum(F.col(f"c_{i}")).cast("double").alias(f"t_{i}")
            for i in range(len(langs))
        ],
    )
    priors = df.groupBy().agg(
        F.count("*").cast("double").alias("n_docs"),
        *[
            F.sum(F.when(F.col(lang_col) == l, 1).otherwise(0))
            .cast("double")
            .alias(f"d_{i}")
            for i, l in enumerate(langs)
        ],
    )
    doc_grams = df.withColumn("_pfx", _pfx).select(
        F.col(id_col), F.explode(_tri).alias("g")
    )
    lls = doc_grams.join(F.broadcast(counts_wide), "g", "left").crossJoin(
        F.broadcast(totals)
    )
    ll_aggs = [
        F.sum(
            F.log(
                (F.coalesce(F.col(f"c_{i}"), F.lit(0)) + 1)
                / (F.col(f"t_{i}") + F.col("v"))
            )
        ).alias(f"ll_{i}")
        for i in range(len(langs))
    ]
    scored = (
        lls.groupBy(id_col)
        .agg(*ll_aggs)
        .crossJoin(F.broadcast(priors))
        .select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(l).alias("lang"),
                            (
                                F.log(F.col(f"d_{i}") / F.col("n_docs"))
                                + F.col(f"ll_{i}")
                            ).alias("score"),
                        )
                        for i, l in enumerate(langs)
                    ]
                )
            ).alias("cand"),
        )
        .select(id_col, "cand.lang", "cand.score")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.round("score", 6).desc(), F.col("lang")
    )
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            F.col(id_col),
            F.col("lang").alias("pred_lang"),
            F.round("score", 4).alias("score"),
        )
    )
    return best.join(
        df.select(F.col(id_col), F.col(lang_col).alias("_true")), id_col
    ).select(
        id_col,
        "pred_lang",
        "score",
        (F.col("pred_lang") == F.col("_true")).alias("is_correct"),
    )


def pack_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = DEFAULT_PACK_BUDGET,
    n_shards: int = DEFAULT_PACK_SHARDS,
) -> DataFrame:
    """The materialized form of ``pack_sequences``: one row per
    (document, training sequence) with the exact token range — what a
    trainer actually consumes. A document crossing sequence boundaries is
    SPLIT: every row covers tokens [tok_start, tok_end) of the document,
    rows concatenate to exactly the document, and every sequence in a
    shard except the last is filled to exactly ``budget`` tokens.

    Output: (id_col, seq_id, tok_start, tok_end, offset_in_seq), all pure
    integer arithmetic — bit-identical across engines and runs.

    Scale shape: same single exchange on the shard key as
    ``pack_sequences`` plus a row-local explode over the sequences a
    document spans (a document emits ceil(tokens/budget)+1 rows at most —
    bounded by document size, independent of corpus size).
    """
    toks = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("tokens"),
    )
    win = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("tokens").over(win)
    spans = toks.select(
        F.col(id_col),
        "shard",
        "tokens",
        (cum - F.col("tokens")).alias("start"),
        cum.alias("cum"),
    ).select(
        F.col(id_col),
        "shard",
        "start",
        "cum",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / budget),
                F.floor((F.col("cum") - 1) / budget),
            )
        ).alias("s"),
    )
    seg_start = F.greatest(F.col("start"), F.col("s") * budget)
    seg_end = F.least(F.col("cum"), (F.col("s") + 1) * budget)
    return spans.select(
        F.col(id_col),
        (F.col("shard").cast("long") * F.lit(2**32) + F.col("s"))
        .cast("long")
        .alias("seq_id"),
        (seg_start - F.col("start")).cast("int").alias("tok_start"),
        (seg_end - F.col("start")).cast("int").alias("tok_end"),
        (seg_start - F.col("s") * budget).cast("int").alias("offset_in_seq"),
    )


def temperature_mixture_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    tau: float = 0.3,
) -> DataFrame:
    """Temperature-based domain rebalancing (the multilingual-corpus
    mixture rule: sample domain d with probability ∝ count_d^tau, XLM-R
    style — tau=1 keeps the natural mixture, tau=0 equalizes domains).

    The per-domain acceptance rate has a closed form with no target-size
    knob: the largest corpus whose realized mixture matches the tempered
    weights without oversampling any domain is reached at
    ``rate_d = (min_count / count_d)^(1-tau)`` — the smallest domain keeps
    everything, larger domains are downsampled toward the tempered share.

    Deterministic like ``stratified_sample``: the uniform(0,1) draw is the
    first 4 hex digits of md5(domain || '|' || id) as a 16-bit fraction
    (numeric compare here, since rates are computed in-plan, not constants).
    Adds ``rate``, ``sampled``, and the inverse-propensity ``weight``.

    Scale (100 TB): the domain-count aggregate is map-side combined down to
    |domains| rows, the 1-row min and the per-domain rates join back via
    broadcast — the corpus itself NEVER shuffles; the keep decision is
    row-local. Rates round to 6 dp so pow()'s last-ulp engine differences
    cannot flip a decision.
    """
    counts = df.groupBy(domain_col).agg(F.count("*").alias("n_d"))
    n_min = counts.agg(F.min("n_d").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        domain_col,
        F.round(
            F.pow(F.col("n_min") / F.col("n_d"), F.lit(1.0 - tau)), 6
        ).alias("rate"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col(domain_col), F.col(id_col).cast("string")
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("long") / F.lit(65536.0)
    # null-safe join: a NULL domain is a legitimate stratum (groupBy keeps
    # it) — a plain equi-join would silently DROP those rows, the
    # row-loss-masked-as-success class this repo keeps hunting
    out = df.join(
        F.broadcast(rates.withColumnRenamed(domain_col, "__dom")),
        F.col(domain_col).eqNullSafe(F.col("__dom")),
    ).drop("__dom")
    sampled = u < F.col("rate")
    return out.withColumn("sampled", sampled).withColumn(
        "weight",
        F.when(sampled, F.round(1.0 / F.col("rate"), 4)).otherwise(F.lit(0.0)),
    )


def lm_bigram_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = DEFAULT_LM_VOCAB,
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram LM quality score — the next rung above
    ``lm_quality_score``'s unigram toward CCNet's KenLM: per-doc mean
    negative log-likelihood of each token given its predecessor,
    ``-ln(λ·P(cur|prev) + (1-λ)·P(cur))``, trained on the corpus itself.
    Tokens outside the top ``vocab_size`` vocabulary map to ``<unk>``
    BEFORE counting, so the model is closed over K+1 types and unseen
    bigrams are handled by the unigram interpolation term (λ < 1 — the
    textbook Jelinek-Mercer mixture, no extra smoothing needed).

    Output: one row per document with ≥2 tokens:
    (id, n_bigrams, nll) — high nll = unusual-for-the-corpus sequencing
    (gibberish, shuffled text, boilerplate), threshold-filterable.

    Scale (100 TB): the closed vocab bounds the bigram model at (K+1)²
    rows and the unigram at K+1 — both broadcast, so scoring joins are
    map-side. Real shuffles: the token-count aggregate, the per-doc
    window for adjacency (keyed by id — constant-width rows), the bigram
    count aggregate, and the final per-doc mean. All counts are exact
    integers; probabilities divide as doubles identically on any engine.
    """
    # round 8: (id, pos, tok) feeds the vocab count, the unigram count and
    # the adjacency window — three full corpus tokenizes without
    # materialization (the fork-point rule of `big` below; constant-width rows)
    toks = fork(df.select(
        F.col(id_col),
        F.posexplode(F.expr(TOKENIZE.format(col=text_col))).alias("pos", "tok"),
    ))
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    vocab = (
        counts.orderBy(F.col("c").desc(), "tok")
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("iv"))
    )
    mapped = toks.join(F.broadcast(vocab), "tok", "left").select(
        F.col(id_col),
        "pos",
        F.when(F.col("iv") == 1, F.col("tok"))
        .otherwise(F.lit("<unk>"))
        .alias("m"),
    )
    uni = mapped.groupBy("m").agg(F.count("*").alias("cu"))
    total = uni.agg(F.sum("cu").cast("double").alias("t"))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    # the adjacency table feeds BOTH the bigram-count aggregate and the
    # scoring join; without materialization the lazy DAG re-derives it —
    # paying the per-doc window (a full-corpus shuffle) twice (the
    # rollup_timeseries lesson, verified in the physical plan)
    big = fork(
        mapped.withColumn("prev", F.lag("m").over(w)).where(
            F.col("prev").isNotNull()
        )
    )
    cb = big.groupBy("prev", "m").agg(F.count("*").alias("c2"))
    cp = cb.groupBy("prev").agg(F.sum("c2").alias("cprev"))
    scored = (
        big.join(F.broadcast(cb), ["prev", "m"])
        .join(F.broadcast(cp), "prev")
        .join(F.broadcast(uni), "m")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (
                -F.log(
                    F.lit(lam)
                    * (F.col("c2").cast("double") / F.col("cprev"))
                    + F.lit(1.0 - lam)
                    * (F.col("cu").cast("double") / F.col("t"))
                )
            ).alias("nll_tok"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_bigrams"),
        F.round(F.avg("nll_tok"), 4).alias("nll"),
    )


def mine_phrases(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delta: int = 5,
    threshold: float = 10.0,
) -> DataFrame:
    """Collocation / phrase detection (Mikolov et al. 2013, the word2vec
    phrase pass): score adjacent word pairs by
    ``(c(a,b) - delta) * N / (c(a) * c(b))`` — high when the pair
    co-occurs far more than its parts' frequencies predict; ``delta``
    discounts rare accidental pairs. Pairs above ``threshold`` are the
    phrases you'd join with '_' before embedding training.

    Returns (w1, w2, pair_count, score) for scoring pairs, descending
    score with a deterministic (w1, w2) tiebreak.

    Scale: token counts and pair counts are two map-side-combined
    aggregates; the scoring join keys on single words (the unigram side is
    |vocab|-bounded → broadcast). The corpus text never rides a shuffle —
    adjacency comes from a per-doc window over exploded (id, pos, token)
    rows, constant width.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.expr(TOKENIZE.format(col=text_col))).alias("pos", "tok"),
    )
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = uni.agg(F.sum("c").cast("double").alias("n"))
    w = Window.partitionBy(id_col).orderBy("pos")
    pairs = (
        toks.withColumn("w1", F.lag("tok").over(w))
        .where(F.col("w1").isNotNull())
        .select("w1", F.col("tok").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
        .where(F.col("pair_count") > delta)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    return (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "raw_score",
            (F.col("pair_count") - delta)
            * F.col("n")
            / (F.col("c1") * F.col("c2")),
        )
        # threshold on the UNROUNDED score (exact-integer arithmetic →
        # identical doubles on any engine, so the cutoff can't straddle a
        # rounding boundary — the tfidf_top_terms lesson)
        .where(F.col("raw_score") > threshold)
        .select(
            "w1",
            "w2",
            F.col("pair_count").cast("long").alias("pair_count"),
            F.round("raw_score", 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), "w1", "w2")
    )


def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Snapshot diff between two corpus versions by content hash:
    one row per id present in either version with status ``added`` (new
    only), ``removed`` (old only), ``changed`` (both, different content),
    or ``unchanged`` — the audit primitive behind incremental reprocessing
    (reprocess added+changed, retire removed, skip unchanged).

    Scale: both sides reduce to (id, md5) BEFORE the full-outer join —
    constant-width rows, one shuffle each on the id; the text never moves.
    """
    o = old_df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("old_hash")
    )
    n = new_df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("new_hash")
    )
    return o.join(n, id_col, "full_outer").select(
        id_col,
        F.when(F.col("old_hash").isNull(), "added")
        .when(F.col("new_hash").isNull(), "removed")
        .when(F.col("old_hash") != F.col("new_hash"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


def profile_corpus(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-row corpus data profile — the sanity dashboard computed before
    any curation decision: row/null/empty counts, exact-distinct content
    count (md5), token totals, and the token-length distribution
    (min/p25/p50/p90/max, exact interpolated percentiles).

    Scale: a single aggregate pass (map-side combined); the only
    non-streaming piece is the percentile, which Spark computes with a
    distributed sort-based exact algorithm — acceptable for a profile job;
    use approx_percentile when profiling interactively at full corpus
    scale. avg rounds via integer HALF_UP (exact token sums), the
    engine-portable form.
    """
    toks = F.size(F.expr(TOKENIZE.format(col=text_col)))
    base = df.select(
        F.col(id_col),
        F.col(text_col),
        F.when(F.col(text_col).isNull(), None).otherwise(toks).alias("nt"),
    )
    return base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col(text_col).isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.sum(
            F.when(
                F.col(text_col).isNotNull() & (F.trim(text_col) == ""), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_empty"),
        F.countDistinct(F.md5(text_col)).cast("long").alias("n_distinct"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.min("nt").cast("long").alias("min_tokens"),
        F.max("nt").cast("long").alias("max_tokens"),
        F.expr("percentile(nt, 0.25)").alias("p25_tokens"),
        F.expr("percentile(nt, 0.5)").alias("p50_tokens"),
        F.expr("percentile(nt, 0.9)").alias("p90_tokens"),
    ).select(
        "*",
        (
            F.expr(
                "(20000 * total_tokens + n_docs - n_null)"
                " div (2 * (n_docs - n_null))"
            )
            / F.lit(10000.0)
        ).alias("avg_tokens"),
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    salt: str = "split",
) -> DataFrame:
    """Deterministic 3-way split: ``split`` ∈ train/val/test from the
    md5 16-bit fraction of (salt | id) against the cumulative fractions
    train 0.8, val 0.1 — test gets the rest. Pure row function: stable
    across reruns/engines/partitionings, and changing ``salt`` resamples the
    assignment without touching data. Row-local, zero shuffle.
    """
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long") / F.lit(65536.0)
    t, v = 0.8, 0.1
    return df.withColumn(
        "split",
        F.when(u < t, "train").when(u < t + v, "val").otherwise("test"),
    )


def curriculum_shards(
    df: DataFrame,
    id_col: str,
    score_col: str,
    k: int = 4,
) -> DataFrame:
    """Curriculum sharding: bucket documents into ``k`` difficulty tiers
    by score — shard 1 = easiest. Implemented the SCALE-correct way: the
    k−1 interior percentile boundaries are ONE small aggregate (broadcast
    back); assignment is the row-local count of boundaries below the
    score. A global ntile would be the naive alternative — an all-data
    single-partition sort window, exactly the plan that dies at 100 TB.
    Boundary ties all land in the lower shard (value-based split, so
    shard sizes can be uneven under heavy ties — documented semantics).
    """
    bounds = df.agg(
        *[
            F.expr(f"percentile({score_col}, {j / k})").alias(f"__q{j}")
            for j in range(1, k)
        ]
    )
    shard = F.lit(1)
    for j in range(1, k):
        shard = shard + F.when(
            F.col(score_col) > F.col(f"__q{j}"), 1
        ).otherwise(0)
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("shard", shard.cast("int"))
        .drop(*[f"__q{j}" for j in range(1, k)])
    )


def weighted_sample_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "es",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    each row draws an exponential race key ``-ln(u) / w`` from the
    deterministic md5 uniform ``u`` and the k SMALLEST keys win —
    provably equivalent to sequential weighted draws without replacement,
    in one distributed pass. Deterministic (no RNG state; change ``salt``
    to redraw), engine-portable (identical doubles → identical ranking,
    id tiebreak).

    Scale: the keys are row-local; selection is a distributed partial
    top-k (TakeOrdered — per-partition heaps, no global sort). Rows with
    weight <= 0 never win (key = +inf).

    Returns the k winners: (id, weight, es_key rounded 8 dp).
    """
    # 8 hex chars → u in (0, 1]: (x + 1) / 2^32 avoids ln(0)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(salt), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    key = F.when(
        F.col(weight_col) > 0, -F.log(u) / F.col(weight_col)
    ).otherwise(F.lit(float("inf")))
    return (
        df.withColumn("__k", key)
        .orderBy(F.col("__k").asc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            F.col(weight_col).alias("weight"),
            F.round("__k", 8).alias("es_key"),
        )
    )


SCRIPT_CLASSES = [
    ("latin", "A-Za-z"),
    ("digit", "0-9"),
    ("cyrillic", "\\u0400-\\u04FF"),
    ("cjk", "\\u4E00-\\u9FFF"),
    ("arabic", "\\u0600-\\u06FF"),
    ("hangul", "\\uAC00-\\uD7AF"),
]


def script_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc Unicode script histogram + dominant script — the cheap
    multilingual routing signal (which docs are CJK? mixed-script spam?)
    computed as pure length arithmetic over regexp_replace, no UDF.
    Counts: latin/digit/cyrillic/cjk/arabic/hangul + ``other`` (every
    non-space char outside the listed ranges). ``dominant`` = argmax with
    the class-list order as the deterministic tiebreak. Row-local."""
    n = F.length(F.col(text_col))
    spaces = n - F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    counts = {}
    for name, rng in SCRIPT_CLASSES:
        counts[name] = n - F.length(
            F.regexp_replace(F.col(text_col), f"[{rng}]", "")
        )
    known = None
    for c in counts.values():
        known = c if known is None else known + c
    out = df.select(
        F.col(id_col),
        *[c.cast("int").alias(name) for name, c in
          ((k, v) for k, v in counts.items())],
        (n - known - spaces).cast("int").alias("other"),
    )
    dom = F.lit("other")
    best = F.col("other")
    # reversed so earlier classes win ties (>= when scanning backward)
    for name, _ in reversed(SCRIPT_CLASSES):
        take = F.col(name) >= best
        dom = F.when(take, name).otherwise(dom)
        best = F.when(take, F.col(name)).otherwise(best)
    return out.withColumn("dominant", dom)


def vocab_drift(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    k: int = 20,
) -> DataFrame:
    """Distribution-shift detector between two corpus snapshots: the
    smoothed log-odds ratio of each term's rate (Monroe et al.'s
    "Fightin' Words" family) — the monitoring primitive that catches a
    changed scrape/filter before it poisons training. Top ``k`` movers by
    |log-odds|, deterministic (exact counts, unrounded ranking, term
    tiebreak). Terms below 5 total occurrences are ignored; counts are
    smoothed by 0.5.
    """
    alpha, min_count = 0.5, 5

    def tok(d):
        return d.select(
            F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("term")
        )

    co = tok(old_df).groupBy("term").agg(F.count("*").alias("c_old"))
    cn = tok(new_df).groupBy("term").agg(F.count("*").alias("c_new"))
    totals_o = co.agg(F.sum("c_old").cast("double").alias("n_old"))
    totals_n = cn.agg(F.sum("c_new").cast("double").alias("n_new"))
    joined = (
        co.join(cn, "term", "full_outer")
        .na.fill({"c_old": 0, "c_new": 0})
        .where(F.col("c_old") + F.col("c_new") >= min_count)
        .crossJoin(F.broadcast(totals_o))
        .crossJoin(F.broadcast(totals_n))
    )
    lo = (
        F.log((F.col("c_new") + alpha)
              / (F.col("n_new") - F.col("c_new") + alpha))
        - F.log((F.col("c_old") + alpha)
                / (F.col("n_old") - F.col("c_old") + alpha))
    )
    return (
        joined.withColumn("__lo", lo)
        .orderBy(F.abs(F.col("__lo")).desc(), "term")
        .limit(k)
        .select(
            "term",
            F.col("c_old").cast("long").alias("c_old"),
            F.col("c_new").cast("long").alias("c_new"),
            F.round("__lo", 6).alias("log_odds"),
        )
    )


def subword_encode_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_k: int = 64,
    max_piece: int = 6,
) -> DataFrame:
    """REAL subword tokenization (greedy longest-match, WordPiece-style)
    with a corpus-derived vocabulary — the upgrade over the reference's
    words×1.3 token-count fallback. Vocabulary: every single character
    plus the ``vocab_k`` most frequent substrings of length 2..max_piece
    over corpus word occurrences (deterministic count-then-lexicographic
    cutoff). Encoding: at each position take the LONGEST vocab piece
    (single-char coverage guarantees progress). Returns per doc
    (id, n_words, n_subwords).

    Scale: the vocab build is one substring-explode aggregate (bounded:
    ≤ max_piece substrings per character of corpus); encoding runs per
    DISTINCT word (an aggregate first — Zipf makes distinct words ≪
    occurrences) in an Arrow-vectorized pandas UDF with the ≤(k+Σ)
    vocab broadcast in the closure, then joins counts back. The DuckDB
    oracle replays the same greedy walk as a recursive CTE — a
    cross-paradigm differential of the exact tokenization.

    Driver-collect bound: words are ``TOKENIZE`` runs of [a-z0-9], so the
    char-coverage set Σ is ≤ 36 by construction and the vocab collect is
    at most ``vocab_k`` + 36 pieces whatever the corpus.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.expr(TOKENIZE.format(col=text_col))).alias("word"),
    )
    occ = toks.groupBy("word").agg(F.count("*").alias("occ"))
    subs = occ.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(2, {max_piece}), L -> "
                f"CASE WHEN length(word) >= L THEN "
                f"transform(sequence(1, length(word) - L + 1), "
                f"i -> substring(word, i, L)) ELSE array() END))"
            )
        ).alias("piece"),
        "occ",
    )
    multi = (
        subs.groupBy("piece")
        .agg(F.sum("occ").alias("c"))
        .orderBy(F.col("c").desc(), "piece")
        .limit(vocab_k)
        .select("piece")
    )
    chars = occ.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word)), "
                "i -> substring(word, i, 1))"
            )
        ).alias("piece")
    ).distinct()
    vocab_rows = [
        r["piece"] for r in multi.unionByName(chars).distinct().collect()
    ]
    vocab = frozenset(vocab_rows)
    max_len = max((len(p) for p in vocab), default=1)

    @F.pandas_udf("int")
    def encode_n(words: pd.Series) -> pd.Series:
        def greedy(w: str) -> int:
            n = 0
            pos = 0
            L = len(w)
            while pos < L:
                step = 1
                top = min(max_len, L - pos)
                for length in range(top, 0, -1):
                    if w[pos : pos + length] in vocab:
                        step = length
                        break
                pos += step
                n += 1
            return n

        return words.map(greedy).astype("int32")

    word_counts = occ.withColumn("n_sub", encode_n("word"))
    # Scale shape (PLANS §19): the distinct-word table is UNBOUNDED on a web
    # corpus (typo/URL tail) — it must never be broadcast.  Pre-aggregate the
    # occurrence side to (id, word, cnt) (map-side combinable, constant-width
    # rows), then a plain shuffle join on `word`: both sides are
    # constant-width, the heavy text column never shuffles, and the encode_n
    # pandas UDF still runs once per DISTINCT word, not per occurrence.
    per_doc_words = toks.groupBy(id_col, "word").agg(
        F.count("*").alias("cnt")
    )
    per_doc = per_doc_words.join(word_counts.drop("occ"), "word")
    return per_doc.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.col("n_sub")).cast("long").alias("n_subwords"),
    )
