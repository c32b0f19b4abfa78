"""Search infrastructure over the document corpus: inverted-index
construction and BM25 ranking — the retrieval side of a training-data
platform (dedup finds what's identical; search finds what's relevant).

Scale notes (100 TB):
- ``build_inverted_index``: one token-explode + one (term) aggregate with
  map-side combine; posting lists are ``sort_array(collect_list(...))``
  per term. Hot terms (stopwords) would make unbounded postings — the
  ``max_df_ratio`` guard drops terms appearing in more than that fraction
  of documents (the classic stop-list-by-statistics), which both bounds
  every posting list and removes the skewed keys from the shuffle.
- ``bm25_topk``: the query's terms filter the postings FIRST (a handful
  of rows — broadcast), so scoring touches only documents containing at
  least one query term, never the corpus. All inputs are exact integer
  counts; score arithmetic is double, identical on any engine; ranking
  ties break on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKENIZE = "filter(split(lower({col}), '[^a-z0-9]+'), w -> w != '')"


def _doc_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf, dl): term frequency per doc + doc length.

    Round 8: the token array is materialized as a column so the
    split+filter tokenize runs ONCE per row — referenced twice (size +
    explode) it was evaluated twice (the winnow non-CSE shape)."""
    ws = df.withColumn("_ws", F.expr(TOKENIZE.format(col=text_col)))
    toks = ws.select(
        F.col(id_col),
        F.size(F.col("_ws")).alias("dl"),
        F.explode(F.col("_ws")).alias("term"),
    )
    return toks.groupBy(id_col, "term", "dl").agg(
        F.count("*").alias("tf")
    )


def build_inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """Posting lists: one row per surviving term with document frequency
    and the sorted (doc, tf) postings. Terms in more than ``max_df_ratio``
    of documents are dropped (statistical stop list — also the skew guard:
    those are exactly the keys whose postings would be unbounded)."""
    dt = _doc_terms(df, id_col, text_col)
    n_docs = df.select(F.count("*").alias("n")).withColumn("one", F.lit(1))
    postings = (
        dt.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("doc"), "tf"))
            ).alias("postings"),
        )
        .withColumn("one", F.lit(1))
        .join(F.broadcast(n_docs), "one")
        .where(F.col("df") <= F.col("n") * max_df_ratio)
        .select("term", F.col("df").cast("long").alias("df"), "postings")
    )
    return postings


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25 top-k: rank documents for a bag-of-terms query.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with the Lucene defaults k1 = 1.2, b = 0.75,
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (the Lucene variant —
    always positive). Ranking uses the UNROUNDED score with a doc-id
    tiebreak, so the cutoff is engine-identical; the reported score
    rounds to 4 dp.
    """
    k1, b = 1.2, 0.75
    dt = _doc_terms(df, id_col, text_col)
    # avgdl from an EXACT integer sum (engine-portable), not a float avg
    stats = df.select(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.size(F.expr(TOKENIZE.format(col=text_col))))
            .cast("double")
            / F.count("*")
        ).alias("avgdl"),
    )
    dfreq = dt.groupBy("term").agg(F.count("*").alias("df"))
    q = dt.where(F.col("term").isin(query_terms))
    per_term = (
        q.join(F.broadcast(dfreq.where(F.col("term").isin(query_terms))),
               "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            "term",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    # per-doc total added in FIXED query-term order: each component sum
    # has at most one element (one tf row per (doc, term)), so the float
    # addition order — and therefore the ranking — is engine-identical
    comps = [
        F.sum(F.when(F.col("term") == t, F.col("s"))).alias(f"__s{i}")
        for i, t in enumerate(query_terms)
    ]
    scored = per_term.groupBy(id_col).agg(*comps)
    raw = F.lit(0.0)
    for i in range(len(query_terms)):
        raw = raw + F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
    return (
        scored.withColumn("raw", raw)
        .orderBy(F.col("raw").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            F.round("raw", 4).alias("score"),
        )
    )
