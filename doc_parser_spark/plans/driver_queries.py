"""Driver-contract queries: Spark implementation + DuckDB oracle per operator.

Each entry exercises one operator from SURVEY.md §2 over the driver's parquet
tables (documents / events / embeddings / ...). The Spark side runs the REAL
extraction kernels (mapInArrow / pandas UDFs / window functions); the oracle
is plain ANSI SQL DuckDB can run on the same tables. Payload-construction SQL
fragments are shared verbatim between both sides so the comparison checks the
operator, not the test harness.

Each rule is written once. A CTE that two oracles share is one module
constant or one small ``_x_sql(...)`` function interpolated at each use
(the paragraph split, the MinHash-LSH buckets and Jaccard verify, the IVF
assignment, sequence and segment packing, the connected-components
closure, the token list); query builders that differ in one argument are
one factory (``_office_query``, ``_media_query``, ``_bbox_merge_query``,
``_asof_query``, ``_ivf_query``). The sha256 of ``ORACLES`` pinned in
tests/test_driver_contract.py proves that sharing a fragment changed no
oracle byte.

Determinism rules:
- every float output is round(x, 4) double on both sides;
- every computed column is aliased identically on both sides;
- window orderings always include a unique tiebreaker column.
"""

from __future__ import annotations

import re
from textwrap import indent
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doc_parser_spark.functions.export_md import extract_html_markdown
from doc_parser_spark.functions.sanitize import sanitize_text
from doc_parser_spark.functions.textnorm import nfc_normalize_col
from doc_parser_spark.operators.chunking import compose_vectors
from doc_parser_spark.operators.conversation import (
    salted_agg,
    with_conversation_context,
)
from doc_parser_spark.operators.curation import (
    LANG_ID_PREFIX,
    LANG_ID_VOCAB,
    corpus_diff,
    curriculum_shards,
    decontaminate_ngrams,
    lang_id_ngram,
    lm_bigram_score,
    lm_quality_score,
    mine_phrases,
    pack_segments,
    pack_sequences,
    profile_corpus,
    sample_threshold_hex,
    script_profile,
    stratified_sample,
    subword_encode_counts,
    temperature_mixture_sample,
    tfidf_top_terms,
    train_val_test_split,
    vocab_drift,
    weighted_sample_k,
)
from doc_parser_spark.operators.dedup import (
    cluster_canonical,
    connected_components,
    dedup_incremental_indexed,
    dedup_index,
    duplicated_substring_spans,
    duplicated_token_fraction,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_expr_from_words,
    simhash,
    simhash_hamming_pairs,
    simhash_oracle_sql,
)
from doc_parser_spark.operators.enrichment import toc_match_back
from doc_parser_spark.operators.export import from_doc_json, to_doc_json
from doc_parser_spark.operators.extract import extract_turns, map_rows
from doc_parser_spark.operators.graph import pagerank, triangle_count
from doc_parser_spark.operators.layout import zorder_value
from doc_parser_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    audio_features,
    decode_images,
    video_frames,
    video_metadata,
)
from doc_parser_spark.operators.office import extract_office_docs
from doc_parser_spark.operators.search import bm25_topk, build_inverted_index
from doc_parser_spark.operators.similarity import (
    allpairs_cosine_pairs,
    ann_lsh_topk,
    cosine_scores,
    ivf_assignments,
    ivf_topk,
    ivf_train_kmeans,
    lsh_bucket_oracle_sql,
    lsh_neardup_pairs,
    quantize_int8,
    random_projection,
    topk,
)
from doc_parser_spark.operators.spans import merge_bboxes_2d
from doc_parser_spark.operators.temporal import (
    asof_join,
    choose_rollup_levels,
    funnel,
    range_join,
    resample_ffill,
    rolling_features,
    rollup_timeseries,
)
from doc_parser_spark.session import fork
from doc_parser_spark.sources.synth_media import (
    build_avi,
    build_gif,
    build_jpeg,
    build_mp3,
    build_mp4,
    build_png,
    build_tiff,
    build_wav,
)
from doc_parser_spark.sources.synth_office import (
    build_docx_payload,
    build_hwpx_payload,
    build_pptx_payload,
    build_xlsx_payload,
)
from doc_parser_spark.sources.synth_pdf import build_report_pdf
from doc_parser_spark.sources.synth_webp import build_webp, build_webp_lossy
from doc_parser_spark.streaming.stream import guarded_accepted

# ---------------------------------------------------------------------------
# shared SQL fragments (valid in both Spark SQL and DuckDB)
# ---------------------------------------------------------------------------
PAYLOAD_SNIFF = (
    "CASE doc_id % 5 "
    "WHEN 0 THEN '<html><body><h1>T</h1><p>' || text || '</p></body></html>' "
    "WHEN 1 THEN '%PDF-SIM' || chr(10) || '#page 1 612.0 792.0' || chr(10) "
    "|| '72.0 100.0 480.0 112.0 ' || text "
    "WHEN 2 THEN '   ' "
    "WHEN 3 THEN text "
    "ELSE '<p>' || text || '</p>' END"
)

PAYLOAD_HTML = (
    "'<html><body><nav><p>Site navigation junk</p></nav><h1>Doc ' || doc_id "
    "|| '</h1><p>' || text || '</p></body></html>'"
)

# blank-line-separated pseudo-paragraphs: every " the " becomes "\n \n"
PAYLOAD_PARAS = "replace(text, ' the ', chr(10) || ' ' || chr(10))"

PAYLOAD_QUALITY = (
    "CASE doc_id % 11 "
    "WHEN 0 THEN 'GLYPH<1f> ' || text "
    "WHEN 1 THEN '/G12/G34 ' || text "
    "WHEN 2 THEN '/w1 /w2 ' || text "
    "WHEN 3 THEN 'A/bc.de/fg.hi A/bc.de/fg.hi A/bc.de/fg.hi ' || text "
    "WHEN 4 THEN 'bad � char ' || text "
    "ELSE text END"
)

PAYLOAD_UNICODE = "'it’s “' || text || '” • done'"

_FRAG_RE_SQL = r"\b[A-Za-z](?:/[a-z]{1,3}\.[a-z]{1,3}){2,}\b"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _bind(spark: SparkSession, text: str, tables: dict) -> DataFrame:
    """``spark.sql(text)`` with each bare table name in ``tables`` bound to
    its frame. PySpark's formatter registers the frames as temp views for
    the parse and drops them afterwards. Names are substituted, never
    wrapped in a ``WITH``: a CTE node stays in the analyzed plan and slows
    the build of every frame derived from it."""
    names = r"\b(" + "|".join(tables) + r")\b"
    return spark.sql(re.sub(names, r"{\1}", text), **tables)


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run a shared oracle SQL text on Spark, ``documents`` bound to
    ``_docs``."""
    return _bind(spark, text, {"documents": _docs(spark, sf_dir)})


_CTE_HEAD = re.compile(r"[\s,]*(\w+) AS \(")


def _sql_ctes(
    spark: SparkSession, sf_dir: str, ctes: str, *names: str
) -> tuple[DataFrame, ...]:
    """The ``names`` frames of a shared CTE list ``a AS (...), b AS (...)``:
    each body runs through ``_bind`` with ``documents`` and the CTEs before
    it bound."""
    tables = {"documents": _docs(spark, sf_dir)}
    pos = 0
    while m := _CTE_HEAD.match(ctes, pos):
        depth, pos = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(ctes[pos], 0)
            pos += 1
        tables[m.group(1)] = _bind(spark, ctes[m.end() : pos - 1], tables)
    return tuple(tables[n] for n in names)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _one_turn_extract(
    spark: SparkSession,
    sf_dir: str,
    payload: str,
    *cols: str | F.Column,
    boilerplate_mode: str = "reference",
) -> DataFrame:
    """Each document as a one-turn conversation whose text is the SQL
    ``payload``, through sniff -> route -> extract; returns ``doc_id``
    (``conv_id`` cast back) followed by ``cols`` of the extraction output."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.expr(payload).alias("text"),
    )
    out = extract_turns(docs, boilerplate_mode=boilerplate_mode, route_partitions=8)
    return out.select(F.col("conv_id").cast("long").alias("doc_id"), *cols)


# ---------------------------------------------------------------------------
# S1 — content-type sniff (document.py:306-506)
# ---------------------------------------------------------------------------
def q_s1_content_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    typed = _one_turn_extract(spark, sf_dir, PAYLOAD_SNIFF, "content_type")
    return typed.groupBy("content_type").agg(F.count("*").alias("cnt"))


ORACLE_S1 = f"""
SELECT content_type, count(*) AS cnt FROM (
  SELECT CASE doc_id % 5
    WHEN 0 THEN 'html' WHEN 1 THEN 'pdf' WHEN 2 THEN 'empty'
    WHEN 3 THEN 'plain' ELSE 'html' END AS content_type
  FROM documents
) GROUP BY content_type
"""


# ---------------------------------------------------------------------------
# S2 — InputDocument hash + size limits (document.py:116-206, utils.py:19-38)
# ---------------------------------------------------------------------------
def q_s2_doc_hash_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") <= 300)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.sha2(F.col("text"), 256).alias("doc_hash"),
        )
    )


ORACLE_S2 = """
SELECT doc_id::BIGINT AS doc_id, sha256(text) AS doc_hash
FROM documents WHERE n_chars <= 300
"""


# ---------------------------------------------------------------------------
# B1 — HTML main-content extraction (html_backend.py; boilerplate rule :131-134)
# ---------------------------------------------------------------------------
def q_b1_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _one_turn_extract(spark, sf_dir, PAYLOAD_HTML, "extracted_text")


ORACLE_B1 = """
SELECT doc_id::BIGINT AS doc_id,
       'Doc ' || doc_id || chr(10) || chr(10) || trim(text) AS extracted_text
FROM documents
"""


# ---------------------------------------------------------------------------
# B2 — blank-line paragraph segmentation (pymupdf_backend.py:88-121)
# ---------------------------------------------------------------------------
def _paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blank-line paragraph segmentation, fully in JVM expressions.

    The oracle states the rule relationally (split on the exact "\\n \\n"
    separator, collapse intra-paragraph line breaks, trim, drop empties,
    re-index); this mirrors it with split/transform/filter/posexplode so
    the whole query stays in WholeStageCodegen: no Arrow round trip, no
    BatchEvalPython/ArrowEvalPython node, no shuffle (the paragraph index
    is the position in the filtered array, not a window).

    Equivalence to the flush loop on this payload shape (text carries no
    raw newlines; every separator is the injected "\\n \\n") is pinned by
    tests/test_r08_jvm_parity.py against a ``split_paragraphs`` reference
    and by the standing DuckDB gates (b2/o1/c2/o1_vector_meta_full oracles).
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(PAYLOAD_PARAS).alias("payload")
    )
    paras = F.filter(
        F.transform(
            F.split(F.col("payload"), "\n \n"),
            lambda x: F.trim(F.regexp_replace(x, "[ \t]*\n[ \t]*", " ")),
        ),
        lambda x: x != F.lit(""),
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(paras).alias("_pos", "para"),
    ).select(
        "doc_id",
        (F.col("_pos") + 1).cast("int").alias("para_idx"),
        "para",
    )


def q_b2_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _paragraphs(spark, sf_dir).select(
        "doc_id", "para_idx", "para", F.length("para").cast("int").alias("n_char")
    )


# the oracles mirror the flush semantics relationally: split on the exact
# separator, collapse intra-paragraph line breaks, drop empties, re-index
_CLEANED_CTES = f"""WITH parts AS (
  SELECT doc_id,
         unnest(string_split({PAYLOAD_PARAS}, chr(10) || ' ' || chr(10)))
           AS part,
         unnest(range(1, len(string_split({PAYLOAD_PARAS},
                 chr(10) || ' ' || chr(10))) + 1)) AS pos
  FROM documents
), cleaned AS (
  SELECT doc_id, pos,
         trim(regexp_replace(part, '[ \t]*\n[ \t]*', ' ', 'g')) AS para
  FROM parts
)"""
_PARA_CTES = _CLEANED_CTES + """, paras AS (
  SELECT doc_id, para,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS para_idx
  FROM cleaned WHERE para <> ''
)"""

ORACLE_B2 = f"""
{_CLEANED_CTES}
SELECT doc_id::BIGINT AS doc_id,
       row_number() OVER (PARTITION BY doc_id ORDER BY pos)::INT AS para_idx,
       para,
       length(para)::INT AS n_char
FROM cleaned WHERE para <> ''
"""


# ---------------------------------------------------------------------------
# P1 — text-quality scoring (page_preprocessing_model.py:116-141)
# ---------------------------------------------------------------------------
def _quality_col(payload: "F.Column") -> "F.Column":
    """``rate_text_quality`` as a JVM expression (guide §4).

    Mirrors functions/quality.py:19-37 branch for branch, including the
    exact substring fast path (no '/', no '\\ufffd', no 'GLYPH<' → 1.0)
    so clean text never runs a regex; the regexes are byte-identical to
    the Python ones (Java and Python agree on these ASCII-only patterns —
    pinned by tests/test_r08_jvm_parity.py, exact double equality).
    No payload crosses the Arrow boundary for four regex probes: the
    whole scorer stays inside WholeStageCodegen (no ArrowEvalPython node).
    """
    # (?U) = Java UNICODE_CHARACTER_CLASS: makes \w/\d/\s/\b Unicode-aware
    # like Python's re, so e.g. '/é /û' garbage and Unicode digits after
    # /G score identically to rate_text_quality (pinned by the
    # adversarial parity test)
    frag = F.regexp_count(
        payload, F.lit(r"(?U)\b[A-Za-z](?:/[a-z]{1,3}\.[a-z]{1,3}){2,}\b")
    )
    return (
        F.when(
            ~F.contains(payload, F.lit("/"))
            & ~F.contains(payload, F.lit("�"))
            & ~F.contains(payload, F.lit("GLYPH<")),
            F.lit(1.0),
        )
        .when(F.contains(payload, F.lit("�")), F.lit(0.0))
        .when(payload.rlike("GLYPH<[0-9A-Fa-f]+>"), F.lit(0.0))
        .when(payload.rlike(r"(?U)(?:/G\d+){2,}"), F.lit(0.0))
        .when(payload.rlike(r"(?U)^(?:/\w+\s*){2,}"), F.lit(0.0))
        .when(
            frag >= 3,
            F.greatest(
                F.lit(1.0) - F.lit(0.1) * frag.cast("double"), F.lit(0.0)
            ),
        )
        .otherwise(F.lit(1.0))
    )


def q_p1_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(PAYLOAD_QUALITY).alias("payload")
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(_quality_col(F.col("payload")), 4).alias("quality"),
    )


ORACLE_P1 = f"""
WITH payloads AS (
  SELECT doc_id, {PAYLOAD_QUALITY} AS payload FROM documents
), scored AS (
  SELECT doc_id, payload,
         len(regexp_extract_all(payload, '{_FRAG_RE_SQL}')) AS frag
  FROM payloads
)
SELECT doc_id::BIGINT AS doc_id,
       round(CASE
         WHEN payload LIKE '%' || chr(65533) || '%' THEN 0.0
         WHEN regexp_matches(payload, 'GLYPH<[0-9A-Fa-f]+>') THEN 0.0
         WHEN regexp_matches(payload, '(?:/G[0-9]+){{2,}}') THEN 0.0
         WHEN regexp_matches(payload, '^(?:/\\w+\\s*){{2,}}') THEN 0.0
         WHEN frag >= 3 THEN greatest(1.0 - 0.1 * frag, 0.0)
         ELSE 1.0 END, 4) AS quality
FROM scored
"""


# ---------------------------------------------------------------------------
# P6 — text sanitization (page_assemble_model.py:34-65)
# ---------------------------------------------------------------------------
def q_p6_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three columns exercise all three reference paths: hyphen de-wrap,
    space-join of wrapped lines, and the single-line EARLY RETURN (which
    skips normalization and strip entirely — page_assemble_model.py:35-37)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(PAYLOAD_UNICODE).alias("payload")
    )

    @F.pandas_udf(T.StringType())
    def _dewrap(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(
            lambda t: sanitize_text([t + " hy-", "phen end"])
        )

    @F.pandas_udf(T.StringType())
    def _joined(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(lambda t: sanitize_text([t, "tail"]))

    @F.pandas_udf(T.StringType())
    def _single(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(lambda t: sanitize_text([t]))

    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _dewrap("payload").alias("dewrapped"),
        _joined("payload").alias("joined"),
        _single("payload").alias("single_raw"),
    )


_NORMALIZE_SQL = (
    "trim(replace(replace(replace(replace(replace(replace("
    "{x},"
    " '⁄', '/'), '’', ''''), '‘', ''''),"
    " '“', '\"'), '”', '\"'), '•', '·'))"
)

ORACLE_P6 = f"""
SELECT doc_id::BIGINT AS doc_id,
       {_NORMALIZE_SQL.format(x=PAYLOAD_UNICODE + " || ' hyphen end'")}
         AS dewrapped,
       {_NORMALIZE_SQL.format(x=PAYLOAD_UNICODE + " || ' tail'")}
         AS joined,
       {PAYLOAD_UNICODE} AS single_raw
FROM documents
"""


# ---------------------------------------------------------------------------
# O1 — compose_vectors projection + chunk indices
# (src/preprocessor.py:266-338, facade/intelligent_processor.py:1222-1304)
# ---------------------------------------------------------------------------
def q_o1_compose_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    paras = _paragraphs(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("para_idx")
    wc = Window.partitionBy("doc_id")
    return paras.select(
        "doc_id",
        F.col("para").alias("text"),
        F.length("para").cast("int").alias("n_char"),
        F.size(F.split(F.col("para"), " ")).cast("int").alias("n_word"),
        (F.row_number().over(w) - 1).cast("int").alias("i_chunk_on_doc"),
        F.count("*").over(wc).cast("int").alias("n_chunk_of_doc"),
    )


ORACLE_O1 = f"""
{_PARA_CTES}
SELECT doc_id::BIGINT AS doc_id,
       para AS text,
       length(para)::INT AS n_char,
       len(string_split(para, ' '))::INT AS n_word,
       (row_number() OVER (PARTITION BY doc_id ORDER BY para_idx) - 1)::INT
         AS i_chunk_on_doc,
       (count(*) OVER (PARTITION BY doc_id))::INT AS n_chunk_of_doc
FROM paras
"""


# ---------------------------------------------------------------------------
# O6 — confidence aggregation + grade binning
# (standard_pdf_pipeline.py:290-319, base_models.py:370-457)
# ---------------------------------------------------------------------------
def q_o6_confidence_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: `percentile` is exact (sorts each group's values) so the
    DuckDB oracle can match bit-for-bit; at corpus scale with few groups,
    swap to percentile_approx (t-digest, map-side combinable) — the oracle
    pins the exact variant because approx sketches aren't reproducible
    across engines."""
    # lang rides the same scan as the payload: no self-join re-reads the
    # parquet to re-attach a column that is already on the row
    docs = _docs(spark, sf_dir).select(
        "lang", F.expr(PAYLOAD_QUALITY).alias("payload")
    )
    scored = docs.select(
        "lang", F.round(_quality_col(F.col("payload")), 4).alias("quality")
    )
    agg = scored.groupBy("lang").agg(
        F.round(F.avg("quality"), 4).alias("avg_score"),
        F.round(F.expr("percentile(quality, 0.1)"), 4).alias("p10_score"),
        F.count("*").alias("n_docs"),
    )
    return agg.select(
        "lang",
        "avg_score",
        "p10_score",
        F.when(F.col("avg_score") >= 0.9, "excellent")
        .when(F.col("avg_score") >= 0.8, "good")
        .when(F.col("avg_score") >= 0.5, "fair")
        .otherwise("poor")
        .alias("grade"),
        "n_docs",
    )


ORACLE_O6 = f"""
WITH payloads AS (
  SELECT doc_id, lang, {PAYLOAD_QUALITY} AS payload FROM documents
), scored AS (
  SELECT doc_id, lang,
         round(CASE
           WHEN payload LIKE '%' || chr(65533) || '%' THEN 0.0
           WHEN regexp_matches(payload, 'GLYPH<[0-9A-Fa-f]+>') THEN 0.0
           WHEN regexp_matches(payload, '(?:/G[0-9]+){{2,}}') THEN 0.0
           WHEN regexp_matches(payload, '^(?:/\\w+\\s*){{2,}}') THEN 0.0
           WHEN len(regexp_extract_all(payload, '{_FRAG_RE_SQL}')) >= 3
             THEN greatest(1.0 - 0.1 * len(regexp_extract_all(payload,
                  '{_FRAG_RE_SQL}')), 0.0)
           ELSE 1.0 END, 4) AS quality
  FROM payloads
), agg AS (
  SELECT lang, round(avg(quality), 4) AS avg_score,
         round(quantile_cont(quality, 0.1), 4) AS p10_score,
         count(*) AS n_docs
  FROM scored GROUP BY lang
)
SELECT lang, avg_score, p10_score,
       CASE WHEN avg_score >= 0.9 THEN 'excellent'
            WHEN avg_score >= 0.8 THEN 'good'
            WHEN avg_score >= 0.5 THEN 'fair'
            ELSE 'poor' END AS grade,
       n_docs
FROM agg
"""


# ---------------------------------------------------------------------------
# C1 — heading propagation: last non-null over window
# (facade/intelligent_processor.py:215-344 heading-stack analog)
# ---------------------------------------------------------------------------
def q_c1_heading_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last(
            F.when(F.col("event_type") == "click", F.col("event_id")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_click_id"),
    )


ORACLE_C1 = """
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_click_id
FROM events
"""


# ---------------------------------------------------------------------------
# C2 — token-budget chunk assignment (facade/intelligent_processor.py:347-877,
# relational cum-sum variant; the stateful greedy lives in operators/chunking)
# ---------------------------------------------------------------------------
def q_c2_chunk_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    paras = _paragraphs(spark, sf_dir).withColumn(
        "tokens", F.size(F.split(F.col("para"), " ")).cast("int")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("para_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return paras.select(
        "doc_id",
        "para_idx",
        "tokens",
        F.floor(
            (F.coalesce(F.sum("tokens").over(w), F.lit(0))) / F.lit(50)
        )
        .cast("int")
        .alias("chunk_id"),
    )


ORACLE_C2 = f"""
{_CLEANED_CTES}, paras AS (
  SELECT doc_id, para,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS para_idx,
         len(string_split(para, ' ')) AS tokens
  FROM cleaned WHERE para <> ''
)
SELECT doc_id::BIGINT AS doc_id, para_idx::INT AS para_idx, tokens::INT AS tokens,
       floor(coalesce(sum(tokens) OVER (PARTITION BY doc_id ORDER BY para_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 50)::INT
         AS chunk_id
FROM paras
"""


# ---------------------------------------------------------------------------
# O3 — interval merge (genos_utils.py:114-160 bbox-merge, relational analog:
# gaps-and-islands over per-user value intervals)
# ---------------------------------------------------------------------------
def q_o3_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("value").alias("lo"),
        (F.col("value") + 10.0).alias("hi"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("lo", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn(
        "new_island",
        F.when(
            F.col("lo") > F.coalesce(F.max("hi").over(w), F.lit(float("-inf"))),
            1,
        ).otherwise(0),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("lo", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island_id", F.sum("new_island").over(w2))
    return (
        islands.groupBy("user_id", "island_id")
        .agg(F.min("lo").alias("s"), F.max("hi").alias("e"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_islands"),
            F.round(F.sum(F.col("e") - F.col("s")), 4).alias("total_len"),
        )
    )


ORACLE_O3 = """
WITH iv AS (
  SELECT user_id, value AS lo, value + 10.0 AS hi, event_id FROM events
), flagged AS (
  SELECT user_id, lo, hi, event_id,
         CASE WHEN lo > coalesce(max(hi) OVER (PARTITION BY user_id
              ORDER BY lo, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1e308)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), islands AS (
  SELECT user_id, lo, hi,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY lo, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged
), merged AS (
  SELECT user_id, island_id, min(lo) AS s, max(hi) AS e
  FROM islands GROUP BY user_id, island_id
)
SELECT user_id, count(*) AS n_islands, round(sum(e - s), 4) AS total_len
FROM merged GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# sessionization — gaps-and-islands over event time (C2 segmentation analog,
# streaming-window counterpart lives in streaming/)
# ---------------------------------------------------------------------------
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is TIMESTAMP_NTZ; session tz is UTC so ntz→timestamp→long equals
    # DuckDB's floor(epoch(ts)) on the same naive values
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("sec") - F.lag("sec").over(w) > 1800, 1
        ).when(F.lag("sec").over(w).isNull(), 1).otherwise(0),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(w2))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("n_events"), 4).alias("avg_session_events"),
        )
    )


ORACLE_SESSIONIZE = """
WITH ev AS (
  SELECT user_id, floor(epoch(ts))::BIGINT AS sec, event_id FROM events
), flagged AS (
  SELECT user_id, sec, event_id,
         CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
                   IS NULL THEN 1
              WHEN sec - lag(sec) OVER (PARTITION BY user_id
                   ORDER BY sec, event_id) > 1800 THEN 1
              ELSE 0 END AS new_session
  FROM ev
), sessions AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       round(avg(n_events), 4) AS avg_session_events
FROM per_session GROUP BY user_id
"""


# ===========================================================================
# batch 2 — dedup / similarity / text-analysis / relational operators
# ===========================================================================
# exact-dup corpus: 30% of docs share one canonical payload
PAYLOAD_EXACTDUP = (
    "CASE WHEN doc_id % 10 < 3 THEN 'duplicate canonical payload' "
    "ELSE text END"
)

# near-dup corpus: odd docs = previous doc's text + a fixed tail (self-join)
NEARDUP_SQL = """
SELECT d.doc_id AS doc_id,
       CASE WHEN d.doc_id % 2 = 1
            THEN p.text || ' extra tail words appended here'
            ELSE d.text END AS payload
FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1
WHERE d.doc_id < 200
"""

_SHINGLE_SQL = (
    "list_distinct([array_to_string(w[i:i+2], ' ') "
    "for i in range(1, len(w) - 1)])"
)


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(PAYLOAD_EXACTDUP).alias("payload"),
    )
    return exact_dedup(docs, "doc_id", "payload").select(
        "doc_id", "doc_hash", "keep"
    )


ORACLE_DEDUP_EXACT = f"""
WITH hashed AS (
  SELECT doc_id::BIGINT AS doc_id, md5({PAYLOAD_EXACTDUP}) AS doc_hash
  FROM documents
)
SELECT doc_id, doc_hash,
       doc_id = min(doc_id) OVER (PARTITION BY doc_hash) AS keep
FROM hashed
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (brute force baseline)
# ---------------------------------------------------------------------------
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _sql(spark, sf_dir, NEARDUP_SQL)
    return ngram_jaccard_pairs(corpus, "doc_id", "payload", threshold=0.2)


ORACLE_NGRAM_JACCARD = f"""
WITH corpus AS ({NEARDUP_SQL}),
sh AS (
  SELECT doc_id AS id, {_SHINGLE_SQL} AS shingles
  FROM (SELECT doc_id, string_split(payload, ' ') AS w FROM corpus)
)
SELECT a.id AS a_id, b.id AS b_id,
       round(len(list_intersect(a.shingles, b.shingles))
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE len(list_intersect(a.shingles, b.shingles))
      / (len(a.shingles) + len(b.shingles)
         - len(list_intersect(a.shingles, b.shingles))) >= 0.2
"""


# ---------------------------------------------------------------------------
# MinHash signatures (salted-md5 permutations, row-local)
# ---------------------------------------------------------------------------
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _sql(spark, sf_dir, NEARDUP_SQL)
    return minhash_signatures(corpus, "doc_id", "payload", k=8)


def _minhash_cols_sql(k: int = 8) -> str:
    return ", ".join(
        f"list_min(list_transform(shingles, x -> md5('{s}|' || x))) AS m{s}"
        for s in range(k)
    )


# shingle sets of a ``corpus(doc_id, payload)`` CTE
_SH_CTE = f"""sh AS (
  SELECT doc_id, {_SHINGLE_SQL} AS shingles
  FROM (SELECT doc_id, string_split(payload, ' ') AS w FROM corpus)
)"""


def _lsh_buckets_sql(sigs_where: str = "") -> str:
    """CTEs ``sh``, ``sigs`` (8 MinHash columns), ``banded`` and
    ``buckets`` (two 4-row bands) over a ``corpus(doc_id, payload)`` CTE:
    the SQL twin of lsh_candidate_pairs' defaults (k=8, bands=2)."""
    return f"""{_SH_CTE},
sigs AS (
  SELECT doc_id, {_minhash_cols_sql(8)} FROM sh
),
banded AS (
  SELECT doc_id AS id,
         md5(concat_ws('|', m0, m1, m2, m3)) AS band0,
         md5(concat_ws('|', m4, m5, m6, m7)) AS band1
  FROM sigs{sigs_where}
),
buckets AS (
  SELECT id, 0 AS band, band0 AS bucket FROM banded
  UNION ALL
  SELECT id, 1 AS band, band1 AS bucket FROM banded
)"""


# candidate pairs: two ids sharing a (band, bucket)
_LSH_CANDS_CTES = _lsh_buckets_sql() + """,
cands AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)"""

# verify join of ``cands``: exact shingle Jaccard >= 0.2
_LSH_VERIFY_SQL = """FROM cands c
JOIN sh sa ON sa.doc_id = c.a_id
JOIN sh sb ON sb.doc_id = c.b_id
WHERE len(list_intersect(sa.shingles, sb.shingles))
      / (len(sa.shingles) + len(sb.shingles)
         - len(list_intersect(sa.shingles, sb.shingles))) >= 0.2"""

_LSH_PAIRS_SQL = f"""SELECT c.a_id, c.b_id,
       round(len(list_intersect(sa.shingles, sb.shingles))
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
{_LSH_VERIFY_SQL}"""


ORACLE_MINHASH = f"""
WITH corpus AS ({NEARDUP_SQL}),
{_SH_CTE}
SELECT doc_id, {_minhash_cols_sql(8)} FROM sh
"""


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup pairs (band → bucket join → verify)
# ---------------------------------------------------------------------------
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _sql(spark, sf_dir, NEARDUP_SQL)
    return lsh_candidate_pairs(corpus, "doc_id", "payload", threshold=0.2)


ORACLE_MINHASH_LSH = f"""
WITH corpus AS ({NEARDUP_SQL}),
{_LSH_CANDS_CTES}
{_LSH_PAIRS_SQL}
"""


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return simhash(docs, "doc_id", "text", bits=16)


ORACLE_SIMHASH = f"""
SELECT doc_id::BIGINT AS doc_id,
       ({simhash_oracle_sql('text', 16)})::BIGINT AS simhash
FROM documents
"""


# ---------------------------------------------------------------------------
# text analysis: language-ID heuristic, token counting, fingerprinting
# ---------------------------------------------------------------------------
_STOPWORDS = "'the', 'a', 'of', 'and', 'to'"
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(
            F.expr(
                f"size(filter(split(lower(text), ' '), w -> w IN ({_STOPWORDS})))"
                " / size(split(text, ' '))"
            ),
            4,
        ).alias("stopword_ratio"),
        F.expr(
            f"CASE WHEN size(filter(split(lower(text), ' '), "
            f"w -> w IN ({_STOPWORDS}))) / size(split(text, ' ')) > 0.03 "
            "THEN 'en' ELSE 'unknown' END"
        ).alias("lang_guess"),
    )


ORACLE_TEXT_LANG_ID = f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(list_filter(string_split(lower(text), ' '),
             w -> w IN ({_STOPWORDS}))) * 1.0
           / len(string_split(text, ' ')) AS ratio
  FROM documents
)
SELECT doc_id, round(ratio, 4) AS stopword_ratio,
       CASE WHEN ratio > 0.03 THEN 'en' ELSE 'unknown' END AS lang_guess
FROM t
"""


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("size(split(text, ' '))").cast("int").alias("ws_tokens"),
        F.expr(f"size(regexp_extract_all(text, '{_BPE_RE}', 0))")
        .cast("int")
        .alias("bpe_tokens"),
    )


ORACLE_TEXT_TOKEN_COUNT = f"""
SELECT doc_id::BIGINT AS doc_id,
       len(string_split(text, ' '))::INT AS ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}'))::INT AS bpe_tokens
FROM documents
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split once per row: shingling from an inline split would re-split
    # the text per shingle inside its transform lambda
    return (
        _docs(spark, sf_dir)
        .withColumn("_w", F.split(F.col("text"), " "))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5("text").alias("content_md5"),
            F.expr(
                "array_min(transform("
                f"{shingle_expr_from_words('_w', 3)}, x -> md5(x)))"
            ).alias("min_shingle_md5"),
        )
    )


ORACLE_TEXT_FINGERPRINT = f"""
SELECT doc_id::BIGINT AS doc_id,
       md5(text) AS content_md5,
       list_min(list_transform({_SHINGLE_SQL.replace("w[", "w[").replace("w)", "w)")}, x -> md5(x)))
         AS min_shingle_md5
FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------
def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _embeddings(spark, sf_dir)
        .where(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qvec"))
    )


def q_sim_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    return cosine_scores(emb, "vec_id", "embedding", _query_vec(spark, sf_dir))


ORACLE_SIM_COSINE = """
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[],
             (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 4)
         AS score
FROM embeddings
"""


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    return topk(emb, "vec_id", "embedding", _query_vec(spark, sf_dir), k=10)


ORACLE_SIM_TOPK = ORACLE_SIM_COSINE + """ORDER BY score DESC, vec_id
LIMIT 10
"""


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH bucket; oracled in batch 15 via
    lsh_bucket_oracle_sql, recall vs brute force additionally asserted in
    tests/test_similarity.py."""
    emb = _embeddings(spark, sf_dir)
    return ann_lsh_topk(
        emb, "vec_id", "embedding", _query_vec(spark, sf_dir), k=10, planes=6
    )


# ---------------------------------------------------------------------------
# relational core: broadcast join + aggregation; tumbling event-time window
# ---------------------------------------------------------------------------
def q_join_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


ORACLE_JOIN_AGG = """
SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("hour_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


ORACLE_EVENTS_TUMBLING = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


# ===========================================================================
# batch 3 — density-mode boilerplate, per-group top-k, JSON roundtrip
# ===========================================================================

# article with a link-dense nav AFTER the h1: the reference layer rule keeps
# it (it is after the first heading); Arc90 density mode must drop it
PAYLOAD_DENSITY = (
    "'<html><body><h1>Doc ' || doc_id || '</h1>"
    "<nav><ul><li><a href=\"#\">Home link</a></li>"
    "<li><a href=\"#\">About link</a></li></ul></nav>"
    "<p><a href=\"#\">pure link paragraph</a></p>"
    "<p>' || text || '</p></body></html>'"
)


def q_b1_html_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _one_turn_extract(
        spark, sf_dir, PAYLOAD_DENSITY, "extracted_text", boilerplate_mode="density"
    )


# density mode drops the nav items and the all-link paragraph; what remains
# is the title and the article paragraph, as in b1
ORACLE_B1_DENSITY = ORACLE_B1


def q_events_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (sort + limit per partition key): top-3 events by
    value per user — row_number window + filter."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "user_id",
            "event_id",
            F.round("value", 4).alias("value"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


ORACLE_EVENTS_TOPK = """
SELECT user_id, event_id, round(value, 4) AS value, rk::INT AS rk
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rk
  FROM events
) WHERE rk <= 3
"""


def q_doc_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17/O7: extraction → lossless JSON → parse back; output must equal
    the direct extraction (the oracle mirrors q_b1_html_extract)."""
    extracted = _one_turn_extract(spark, sf_dir, PAYLOAD_HTML, "*")
    roundtripped = from_doc_json(to_doc_json(extracted))
    return roundtripped.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("extracted_text"),
    )


# ===========================================================================
# batch 4 — fallback-status accounting, cross-turn context vs oracle
# ===========================================================================

# payload classes with deterministic parse outcomes:
#   %5==0 whitespace → skipped; %5==1 corrupt %PDF-SIM → partial_success
#   (pdfish parser raises on the malformed page header, plain fallback wins);
#   else well-formed html/plain → success
PAYLOAD_STATUS = (
    "CASE doc_id % 5 "
    "WHEN 0 THEN '  ' "
    "WHEN 1 THEN '%PDF-SIM' || chr(10) || '#page X Y Z' || chr(10) || text "
    "WHEN 2 THEN '<html><body><h1>T</h1><p>' || text || '</p></body></html>' "
    "ELSE text END"
)


def q_r4_status_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _one_turn_extract(
        spark, sf_dir, PAYLOAD_STATUS, "content_type", "parse_status"
    )
    return out.groupBy("content_type", "parse_status").agg(
        F.count("*").alias("cnt")
    )


ORACLE_R4_STATUS = """
SELECT content_type, parse_status, count(*) AS cnt FROM (
  SELECT CASE doc_id % 5
           WHEN 0 THEN 'empty' WHEN 1 THEN 'pdf'
           WHEN 2 THEN 'html' ELSE 'plain' END AS content_type,
         CASE doc_id % 5
           WHEN 0 THEN 'skipped' WHEN 1 THEN 'partial_success'
           ELSE 'success' END AS parse_status
  FROM documents
) GROUP BY content_type, parse_status
"""


# cross-turn heading context: conversations of 20 turns; every third turn
# carries an <h1>; active_title must be the latest such title
PAYLOAD_CONTEXT = (
    "CASE WHEN doc_id % 3 = 0 "
    "THEN '<h1>Title ' || doc_id || '</h1><p>body</p>' "
    "ELSE 'plain turn body' END"
)


def q_c1_cross_turn_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.expr(_C1_CONV_ID).alias("conv_id"),
        (F.col("doc_id") / 20).cast("int").alias("turn_idx"),
        F.expr(PAYLOAD_CONTEXT).alias("text"),
    )
    extracted = extract_turns(docs, route_partitions=8)
    return with_conversation_context(extracted).select(
        "conv_id", "turn_idx", "active_title"
    )


_C1_CONV_ID = "'conv-' || (doc_id % 20)"

ORACLE_C1_CONTEXT = f"""
WITH turns AS (
  SELECT {_C1_CONV_ID} AS conv_id,
         (doc_id // 20)::INT AS turn_idx,
         CASE WHEN doc_id % 3 = 0 THEN 'Title ' || doc_id END AS title
  FROM documents
)
SELECT conv_id, turn_idx,
       last_value(title IGNORE NULLS) OVER (
         PARTITION BY conv_id ORDER BY turn_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active_title
FROM turns
"""


# ===========================================================================
# batch 5 — scale-bearing relational queries over lineitem/orders
# (the largest driver tables: 600k/150k rows at sf0.1)
# ===========================================================================
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: wide scan → hash aggregate with
    map-side combine; the columns not aggregated are pruned at the scan."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders + month rollup.

    Guide §2.3/§3: the month string is derived on the ORDERS side before
    the join, so date_format runs once per order (the build side) instead
    of once per joined lineitem row (~4× more), and the probe side carries
    only the three columns the aggregate needs."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("order_month")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


ORACLE_MONTHLY_REVENUE = """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


# ===========================================================================
# batch 6 — embedding-cosine near-dup + IVF ANN with full SQL oracles
# ===========================================================================
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.3, a<b) — the embedding
    variant of near-duplicate detection. Brute force is the baseline; at
    scale the IVF/LSH bucket join replaces the cross join.

    A naive a⋈b cross join evaluates three interpreted 64-element folds
    per pair (77 s at sf0.1); allpairs_cosine_pairs computes the same pair
    set via block-GEMM candidates + exact fold verify (~3 s), output
    bit-identical (operator docstring has the margin argument; parity
    pinned in tests/test_r08_jvm_parity.py)."""
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return allpairs_cosine_pairs(emb, "vec_id", "embedding", threshold=0.3)


ORACLE_DEDUP_EMBEDDING = """
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
             b.embedding::DOUBLE[]), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
      b.embedding::DOUBLE[]), 4) >= 0.3
"""


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed centroids: every 50th vector."""
    return (
        _embeddings(spark, sf_dir)
        .where(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
    )


def _km_assign_sql(cents_cte: str) -> str:
    """Body of a CTE assigning every embedding to its nearest centroid of
    ``cents_cte(centroid_id, cvec)``: 4-dp cosine, ties by centroid id."""
    return f"""
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(
               e.embedding::DOUBLE[], c.cvec::DOUBLE[]), 4) DESC,
               c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN {cents_cte} c
  ) WHERE rk = 1
"""


def _ivf_query(nprobe: int) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = _embeddings(spark, sf_dir)
        return ivf_topk(
            emb, "vec_id", "embedding", _query_vec(spark, sf_dir),
            _centroids(spark, sf_dir), k=10, nprobe=nprobe,
        )

    return q


def _ivf_oracle(qc: str) -> str:
    """The 10 vectors nearest vector 0 among those assigned to a probed
    centroid; ``qc`` selects the probed ``qcentroid`` ids."""
    return f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings WHERE vec_id % 50 = 0
),
assigned AS ({_km_assign_sql('centroids')}),
qc AS (
  {qc}
)
SELECT a.vec_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
             (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]),
             4) AS score
FROM assigned a JOIN qc ON a.centroid_id = qc.qcentroid
ORDER BY score DESC, a.vec_id
LIMIT 10
"""


q_sim_ivf_topk = _ivf_query(1)

ORACLE_SIM_IVF = _ivf_oracle(
    "SELECT centroid_id AS qcentroid FROM assigned WHERE vec_id = 0"
)


# ===========================================================================
# batch 7 — span/items-level verification (O2 analog)
# ===========================================================================
PAYLOAD_ITEMS = (
    "'<html><body><h1>Doc ' || doc_id || '</h1><p>' || substr(text, 1, 60) "
    "|| '</p><p>' || substr(text, 61) || '</p></body></html>'"
)


def q_o2_items_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode extraction spans to one row per item: verifies labels and
    per-item text slices, not just the concatenated output."""
    exploded = _one_turn_extract(
        spark,
        sf_dir,
        PAYLOAD_ITEMS,
        F.posexplode("spans").alias("item_idx", "s"),
        "extracted_text",
    )
    return exploded.select(
        "doc_id",
        F.col("item_idx").cast("int").alias("item_idx"),
        F.col("s.label").alias("label"),
        F.expr(
            "substring(extracted_text, s.start + 1, s.end - s.start)"
        ).alias("item_text"),
    )


# expected items by construction: title, then each non-empty trimmed <p>
ORACLE_O2_ITEMS = """
WITH items AS (
  SELECT doc_id, 'title' AS label, 'Doc ' || doc_id AS item_text, 0 AS ord
  FROM documents
  UNION ALL
  SELECT doc_id, 'text', trim(substr(text, 1, 60)), 1 FROM documents
  WHERE trim(substr(text, 1, 60)) <> ''
  UNION ALL
  SELECT doc_id, 'text', trim(substr(text, 61)), 2 FROM documents
  WHERE trim(substr(text, 61)) <> ''
)
SELECT doc_id::BIGINT AS doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1)::INT
         AS item_idx,
       label, item_text
FROM items
"""


# ===========================================================================
# batch 8 — markdown export through the Spark surface (O7)
# ===========================================================================
def q_o7_markdown_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the byte-exact markdown exporter (verified against the reference's
    own groundtruth files in tests/test_reference_markdown.py) inside the
    Arrow batch; oracle computes the expected md by construction."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(PAYLOAD_HTML).alias("payload")
    )

    @F.pandas_udf(T.StringType())
    def _md(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(extract_html_markdown)

    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        _md("payload").alias("markdown"),
    )


ORACLE_O7_MD = """
SELECT doc_id::BIGINT AS doc_id,
       '# Doc ' || doc_id || chr(10) || chr(10)
         || replace(replace(trim(text), '&', '&amp;'), '_', '\\_') AS markdown
FROM documents
"""


# ===========================================================================
# batch 9 — text quality profile (training-data filter features)
# ===========================================================================
def q_text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality-filter features: length, punctuation ratio,
    stopword ratio, mean word length — the standard pretraining-data
    heuristics (C4/Gopher-style), all JVM-side expressions."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("int").alias("n_chars_m"),
        F.round(
            F.expr(
                "size(regexp_extract_all(text, '[^A-Za-z0-9 ]', 0))"
                " / greatest(length(text), 1)"
            ),
            4,
        ).alias("punct_ratio"),
        F.round(
            F.expr(
                f"size(filter(split(lower(text), ' '), w -> w IN ({_STOPWORDS})))"
                " / size(split(text, ' '))"
            ),
            4,
        ).alias("stopword_ratio"),
        F.round(
            F.expr(
                "aggregate(split(text, ' '), 0, (a, w) -> a + length(w))"
                " / size(split(text, ' '))"
            ),
            4,
        ).alias("mean_word_len"),
    )


ORACLE_TEXT_QUALITY_PROFILE = f"""
SELECT doc_id::BIGINT AS doc_id,
       length(text)::INT AS n_chars_m,
       round(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
             / greatest(length(text), 1), 4) AS punct_ratio,
       round(len(list_filter(string_split(lower(text), ' '),
             w -> w IN ({_STOPWORDS}))) * 1.0
             / len(string_split(text, ' ')), 4) AS stopword_ratio,
       round(list_sum(list_transform(string_split(text, ' '),
             w -> length(w))) * 1.0
             / len(string_split(text, ' ')), 4) AS mean_word_len
FROM documents
"""


# ===========================================================================
# batch 10 — asciidoc extraction + salted aggregation, both oracled
# ===========================================================================
PAYLOAD_ADOC = (
    "'= Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10) "
    "|| '== Details' || chr(10) || chr(10) || 'closing line.'"
)


def q_b11_asciidoc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _one_turn_extract(
        spark, sf_dir, PAYLOAD_ADOC, "content_type", "extracted_text"
    )


ORACLE_B11 = """
SELECT doc_id::BIGINT AS doc_id, 'asciidoc' AS content_type,
       'Doc ' || doc_id || chr(10) || chr(10) || trim(text)
         || chr(10) || chr(10) || 'Details'
         || chr(10) || chr(10) || 'closing line.' AS extracted_text
FROM documents
"""


def q_salted_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (explicit salting — AQE only covers
    join skew) must equal the plain groupBy exactly."""
    ev = _events(spark, sf_dir).withColumn(
        "v", F.round(F.col("value"), 4)
    )
    out = salted_agg(
        ev,
        "user_id",
        {
            "n_events": ("count", "*"),
            "max_value": ("max", "v"),
            "min_value": ("min", "v"),
        },
        n_salts=16,
    )
    return out.select("user_id", "n_events", "max_value", "min_value")


ORACLE_SALTED = """
SELECT user_id, count(*) AS n_events,
       max(round(value, 4)) AS max_value,
       min(round(value, 4)) AS min_value
FROM events GROUP BY user_id
"""


# ===========================================================================
# batch 11 — repetition metrics (Gopher) + URL/email scrubbing (C4)
# ===========================================================================
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word fraction and the
    frequency share of the most common word — both row-local arrays."""
    words = "split(text, ' ')"
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(
            F.expr(
                f"1.0 - size(array_distinct({words})) / size({words})"
            ),
            4,
        ).alias("dup_word_frac"),
        F.round(
            F.expr(
                f"array_max(transform(array_distinct({words}), "
                f"w -> size(filter({words}, x -> x = w)))) / size({words})"
            ),
            4,
        ).alias("top_word_frac"),
    )


ORACLE_TEXT_REPETITION = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id::BIGINT AS doc_id,
       round(1.0 - len(list_distinct(w)) * 1.0 / len(w), 4) AS dup_word_frac,
       round(list_max(list_transform(list_distinct(w),
             x -> len(list_filter(w, y -> y = x)))) * 1.0 / len(w), 4)
         AS top_word_frac
FROM t
"""


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style scrubbing: URLs and emails replaced with sentinels. Payload
    injects one of each deterministically so the regexes are exercised."""
    payload = (
        "text || ' contact doc' || doc_id || '@example.com or visit "
        "https://example.com/p/' || doc_id || '?q=1 end'"
    )
    url_re = r"https?://[^\s]+"
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_replace(
            F.regexp_replace(F.expr(payload), email_re, "<EMAIL>"),
            url_re,
            "<URL>",
        ).alias("scrubbed"),
    )


ORACLE_TEXT_SCRUB = r"""
SELECT doc_id::BIGINT AS doc_id,
       regexp_replace(
         regexp_replace(
           text || ' contact doc' || doc_id || '@example.com or visit '
             || 'https://example.com/p/' || doc_id || '?q=1 end',
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         'https?://[^\s]+', '<URL>', 'g') AS scrubbed
FROM documents
"""


# ===========================================================================
# batch 12 — GenOSVectorMeta FULL field set through the real compose_vectors
# (src/preprocessor.py:86-103; parse_created_date/parse_authors at
# facade/intelligent_processor.py:1088-1189)
# ===========================================================================
PAYLOAD_DATE_TEXT = (
    "CASE doc_id % 5 WHEN 0 THEN '2023-05-07' WHEN 1 THEN '2023-5-7' "
    "WHEN 2 THEN '2023-12' WHEN 3 THEN '1999' ELSE 'not a date' END"
)
PAYLOAD_AUTHORS = (
    "CASE doc_id % 4 WHEN 0 THEN 'Alice, Bob' WHEN 1 THEN 'Eve,Eve,Frank' "
    "WHEN 2 THEN 'Carol;Dave; Alice' ELSE 'Single Author' END"
)
REG_DATE_FIXED = "2026-01-01T00:00:00Z"


def q_o1_vector_meta_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route paragraph chunks + synthetic metadata columns through the REAL
    compose_vectors operator; every GenOSVectorMeta field is oracled."""
    paras = _paragraphs(spark, sf_dir)
    chunks = paras.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        (F.col("para_idx") - 1).cast("int").alias("chunk_idx"),
        F.col("para").alias("text"),
        F.array().cast("array<string>").alias("headings"),
        F.lit(1).cast("int").alias("i_page"),
        F.lit(1).cast("int").alias("e_page"),
        F.expr(
            "'[{\"start\":0,\"end\":' || length(para) "
            "|| ',\"label\":\"paragraph\",\"page\":1}]'"
        ).alias("chunk_spans"),
        F.expr(PAYLOAD_DATE_TEXT.replace("doc_id", "cast(doc_id AS INT)")).alias(
            "date_text"
        ),
        F.expr(PAYLOAD_AUTHORS.replace("doc_id", "cast(doc_id AS INT)")).alias(
            "authors_raw"
        ),
    )
    media = _docs(spark, sf_dir).where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.concat(
            F.lit('["img_'), F.col("doc_id").cast("string"), F.lit('.png"]')
        ).alias("media_files"),
    )
    out = compose_vectors(chunks, reg_date=REG_DATE_FIXED, media=media)
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "text",
        "n_char",
        "n_word",
        "n_line",
        "i_chunk_on_doc",
        "n_chunk_of_doc",
        "i_chunk_on_page",
        "n_chunk_of_page",
        "n_page",
        "title",
        "reg_date",
        "created_date",
        "authors",
        F.col("chunk_bboxes"),
        "media_files",
    )


ORACLE_O1_FULL = f"""
{_PARA_CTES}
SELECT doc_id::BIGINT AS doc_id,
       para AS text,
       length(para)::INT AS n_char,
       len(string_split(para, ' '))::INT AS n_word,
       len(string_split(para, chr(10)))::INT AS n_line,
       (row_number() OVER (PARTITION BY doc_id ORDER BY para_idx) - 1)::INT
         AS i_chunk_on_doc,
       (count(*) OVER (PARTITION BY doc_id))::INT AS n_chunk_of_doc,
       (row_number() OVER (PARTITION BY doc_id ORDER BY para_idx) - 1)::INT
         AS i_chunk_on_page,
       (count(*) OVER (PARTITION BY doc_id))::INT AS n_chunk_of_page,
       0::INT AS n_page,
       NULL::VARCHAR AS title,
       '{REG_DATE_FIXED}' AS reg_date,
       (CASE doc_id % 5 WHEN 0 THEN 20230507 WHEN 1 THEN 20230507
         WHEN 2 THEN 20231201 WHEN 3 THEN 19990101 ELSE 0 END)::INT
         AS created_date,
       CASE doc_id % 4 WHEN 0 THEN '["Alice","Bob"]'
         WHEN 1 THEN '["Eve","Frank"]'
         WHEN 2 THEN '["Alice","Carol","Dave"]'
         ELSE '["Single Author"]' END AS authors,
       '[{{"start":0,"end":' || length(para)
         || ',"label":"paragraph","page":1}}]' AS chunk_bboxes,
       CASE WHEN doc_id % 3 = 0 THEN '["img_' || doc_id || '.png"]'
            ELSE '[]' END AS media_files
FROM paras
"""


# ===========================================================================
# batch 13 — true 2-D bbox fixpoint merge (genos_utils.py:114-160)
# Oracle construction: boxes live in two disjoint y-bands (no cross-band
# overlap possible), so within a band the 2-D fixpoint reduces EXACTLY to
# 1-D x-interval islands with tolerance — expressible as gaps-and-islands
# SQL. Genuine 2-D chain-growth cases (where a merged box bridges boxes
# that never overlapped directly) are covered in tests/test_bbox_merge.py
# against the kernel, where SQL cannot express the semantics.
# ===========================================================================
def _bbox_merge_query(
    page: str, *keys: str
) -> Callable[[SparkSession, str], DataFrame]:
    """Event boxes on the pages of SQL ``page``, two disjoint y-bands,
    merged by the 2-D fixpoint kernel; box count and total width per
    (user_id, ``keys``, band)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = _events(spark, sf_dir)
        boxes = ev.select(
            "user_id",
            F.expr(page).cast("int").alias("page"),
            F.lit("text").alias("btype"),
            F.col("value").alias("l"),
            ((F.col("event_id") % 2) * 100.0).alias("t"),
            (F.col("value") + 10.0).alias("r"),
            ((F.col("event_id") % 2) * 100.0 + 10.0).alias("b"),
        )
        merged = merge_bboxes_2d(
            boxes, ["user_id"], x_tolerance=1.0, y_tolerance=1.0
        )
        return merged.groupBy(
            "user_id", *keys, (F.col("t") / 100.0).cast("int").alias("band")
        ).agg(
            F.count("*").alias("n_boxes"),
            F.round(F.sum(F.col("r") - F.col("l")), 4).alias("total_w"),
        )

    return q


q_o3_bbox_merge_2d = _bbox_merge_query("1")

ORACLE_O3_BBOX_2D = """
WITH boxes AS (
  SELECT user_id, (event_id % 2)::INT AS band,
         value AS l, value + 10.0 AS r, event_id
  FROM events
), flagged AS (
  SELECT user_id, band, l, r, event_id,
         CASE WHEN l > coalesce(max(r) OVER (PARTITION BY user_id, band
              ORDER BY l, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1e308) + 1.0
              THEN 1 ELSE 0 END AS new_island
  FROM boxes
), islands AS (
  SELECT user_id, band, l, r,
         sum(new_island) OVER (PARTITION BY user_id, band ORDER BY l, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged
), merged AS (
  SELECT user_id, band, island_id, min(l) AS ml, max(r) AS mr
  FROM islands GROUP BY user_id, band, island_id
)
SELECT user_id, band, count(*) AS n_boxes,
       round(sum(mr - ml), 4) AS total_w
FROM merged GROUP BY user_id, band
"""


# ===========================================================================
# batch 14 — dedicated per-backend oracles for B3 (pdfish), B6 (markdown),
# B7 (csv): every implemented SURVEY §2 backend gets its own hard signal,
# not only a share of the flagship mixed query.
# ===========================================================================
PAYLOAD_PDFISH = (
    "'%PDF-SIM' || chr(10) || '#page 1 612.0 792.0' || chr(10) "
    "|| '72.0 10.0 300.0 22.0 Header Doc ' || doc_id || chr(10) "
    "|| '72.0 100.0 300.0 112.0 alpha ' || doc_id || chr(10) "
    "|| '72.0 114.0 300.0 126.0 bravo' || chr(10) "
    "|| '72.0 200.0 300.0 212.0 ' || text || chr(10) "
    "|| '72.0 780.0 300.0 791.0 Footer ' || doc_id"
)


def q_b3_pdfish_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: header/footer bands dropped, close rows join into one sanitized
    paragraph, a >1.5x-row-height gap breaks the paragraph."""
    return _one_turn_extract(
        spark, sf_dir, PAYLOAD_PDFISH, "content_type", "extracted_text"
    )


ORACLE_B3 = """
SELECT doc_id::BIGINT AS doc_id, 'pdf' AS content_type,
       'alpha ' || doc_id || ' bravo' || chr(10) || chr(10) || text
         AS extracted_text
FROM documents
"""

PAYLOAD_MD = (
    "'# Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10) "
    "|| '- alpha ' || doc_id || chr(10) || '- bravo' || chr(10) || chr(10) "
    "|| '```' || chr(10) || 'code line ' || doc_id || chr(10) || '```'"
)


def q_b6_md_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: title, paragraph, bullet list, fenced code — through the full
    sniff → route → extract surface."""
    return _one_turn_extract(
        spark, sf_dir, PAYLOAD_MD, "content_type", "extracted_text"
    )


ORACLE_B6 = """
SELECT doc_id::BIGINT AS doc_id, 'markdown' AS content_type,
       'Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10)
         || '- alpha ' || doc_id || chr(10) || chr(10) || '- bravo'
         || chr(10) || chr(10) || 'code line ' || doc_id AS extracted_text
FROM documents
"""

PAYLOAD_CSV = (
    "'name,score' || chr(10) || 'doc' || doc_id || ',' || (doc_id % 97) "
    "|| chr(10) || 'd' || doc_id || 'x,' || ((doc_id + 13) % 89)"
)


def q_b7_csv_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: dialect sniff + uniform-grid render (csv_backend.py:80-95)."""
    return _one_turn_extract(
        spark, sf_dir, PAYLOAD_CSV, "content_type", "extracted_text"
    )


ORACLE_B7 = """
SELECT doc_id::BIGINT AS doc_id, 'csv' AS content_type,
       '| name | score |' || chr(10) || '|---|---|' || chr(10)
         || '| doc' || doc_id || ' | ' || (doc_id % 97) || ' |' || chr(10)
         || '| d' || doc_id || 'x | ' || ((doc_id + 13) % 89) || ' |'
         AS extracted_text
FROM documents
"""


# ===========================================================================
# batch 15 — DuckDB oracle for the ANN-LSH query: the hyperplane-sign
# expression is deterministic SQL, portable the same way simhash_oracle_sql
# is.
# ===========================================================================
ORACLE_SIM_ANN_LSH = f"""
WITH b AS (
  SELECT vec_id, embedding,
         {lsh_bucket_oracle_sql('embedding', 6)} AS bucket
  FROM embeddings
), q AS (
  SELECT bucket AS qbucket, embedding AS qvec FROM b WHERE vec_id = 0
)
SELECT b.vec_id,
       round(list_cosine_similarity(b.embedding::DOUBLE[], q.qvec::DOUBLE[]),
             4) AS score
FROM b, q
WHERE b.bucket = q.qbucket
ORDER BY score DESC, b.vec_id
LIMIT 10
"""


# ===========================================================================
# batch 16 — end-to-end curation composition: the canonical training-data
# pipeline (quality gate -> PII/URL scrub -> exact dedup -> keep decision)
# expressed as ONE declarative plan so Catalyst fuses the row-local stages
# into a single projection before the one dedup exchange.
# ===========================================================================
def q_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compose: C4/Gopher-style quality gate (stopword ratio + mean word
    length + length bounds), URL/email scrub, exact near-identity dedup on
    the SCRUBBED text (scrub-then-dedup is the correct order: two docs
    differing only in emails/URLs are duplicates). Output: one row per doc
    with its gate verdicts and final keep decision."""
    payload = (
        "CASE WHEN doc_id % 7 = 3 THEN 'tiny' "
        "WHEN doc_id % 7 = 5 THEN text || ' visit https://x.example/' "
        "|| (doc_id % 4) ELSE text END"
    )
    url_re = r"https?://[^\s]+"
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(payload).alias("payload"),
    )
    scrubbed = docs.withColumn(
        "scrubbed",
        F.regexp_replace(
            F.regexp_replace(F.col("payload"), email_re, "<EMAIL>"),
            url_re,
            "<URL>",
        ),
    )
    gated = scrubbed.withColumn(
        "stopword_ratio",
        F.expr(
            f"size(filter(split(lower(scrubbed), ' '), w -> w IN ({_STOPWORDS})))"
            " / size(split(scrubbed, ' '))"
        ),
    ).withColumn(
        "quality_pass",
        (F.length("scrubbed") >= 50)
        & (F.col("stopword_ratio") > 0.01),
    )
    deduped = exact_dedup(gated, "doc_id", "scrubbed")
    return deduped.select(
        "doc_id",
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        "quality_pass",
        "doc_hash",
        (F.col("quality_pass") & F.col("keep")).alias("keep_final"),
    )


ORACLE_CURATE = r"""
WITH payloads AS (
  SELECT doc_id::BIGINT AS doc_id,
         CASE WHEN doc_id % 7 = 3 THEN 'tiny'
              WHEN doc_id % 7 = 5 THEN text || ' visit https://x.example/'
                   || (doc_id % 4)
              ELSE text END AS payload
  FROM documents
), scrubbed AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(payload,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^\s]+', '<URL>', 'g') AS scrubbed
  FROM payloads
), gated AS (
  SELECT doc_id, scrubbed,
         len(list_filter(string_split(lower(scrubbed), ' '),
             w -> w IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
           / len(string_split(scrubbed, ' ')) AS stopword_ratio
  FROM scrubbed
), hashed AS (
  SELECT doc_id, stopword_ratio,
         (length(scrubbed) >= 50 AND stopword_ratio > 0.01) AS quality_pass,
         md5(scrubbed) AS doc_hash,
         doc_id = min(doc_id) OVER (PARTITION BY md5(scrubbed)) AS keep
  FROM gated
)
SELECT doc_id, round(stopword_ratio, 4) AS stopword_ratio, quality_pass,
       doc_hash, (quality_pass AND keep) AS keep_final
FROM hashed
"""


# ===========================================================================
# batch 17 — fragment-routing semantics (the round-1 advisory's content-loss
# scenarios, now oracled end-to-end) + wide SimHash for corpus-scale dedup
# ===========================================================================
PAYLOAD_FRAGMENT = (
    "CASE doc_id % 4 "
    "WHEN 0 THEN '<p>' || text || '</p> trailing doc ' || doc_id "
    "WHEN 1 THEN 'use <b>emphasis</b> sparingly: ' || text "
    "WHEN 2 THEN 'mid <b>bold</b> tail from <p>doc ' || doc_id || '</p>' "
    "ELSE '<img src=\"x.png\">' END"
)


def q_s1_fragment_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment semantics, end to end: block-led fragments keep their
    floating text (html/success); inline-tag prose never routes to the HTML
    walker (plain, content intact); a fragment whose walk yields nothing
    demotes to partial_success with the plain payload."""
    return _one_turn_extract(
        spark,
        sf_dir,
        PAYLOAD_FRAGMENT,
        "content_type",
        "parse_status",
        "extracted_text",
    )


ORACLE_FRAGMENT = """
SELECT doc_id::BIGINT AS doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'html' WHEN 3 THEN 'html'
         ELSE 'plain' END AS content_type,
       CASE doc_id % 4 WHEN 3 THEN 'partial_success'
         ELSE 'success' END AS parse_status,
       CASE doc_id % 4
         WHEN 0 THEN trim(text) || chr(10) || chr(10)
                     || 'trailing doc ' || doc_id
         WHEN 1 THEN 'use <b>emphasis</b> sparingly: ' || text
         WHEN 2 THEN 'mid <b>bold</b> tail from <p>doc ' || doc_id || '</p>'
         ELSE '<img src="x.png">' END AS extracted_text
FROM documents
"""


def q_dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash over a 60-bit word hash — the corpus-scale
    configuration (16 bits is collision-heavy beyond toy corpora)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return simhash(docs, "doc_id", "text", bits=48)


ORACLE_SIMHASH_WIDE = f"""
SELECT doc_id::BIGINT AS doc_id,
       ({simhash_oracle_sql('text', 48)})::BIGINT AS simhash
FROM documents
"""


# ===========================================================================
# batch 18 — winnowing document fingerprints (Schleimer et al., SIGMOD'03):
# hash every k-gram, slide a w-window, keep each window's minimum — the
# standard local fingerprinting scheme (MOSS). Hash = md5 head of the k-gram
# (the winnowing guarantee is hash-agnostic); all row-local JVM expressions,
# zero shuffle before the explode.
# ===========================================================================
_WINNOW_K = 3
_WINNOW_W = 4


def q_text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, w = _WINNOW_K, _WINNOW_W
    words = "split(text, ' ')"
    hashes = (
        f"transform(sequence(1, size({words}) - {k} + 1), "
        f"i -> substr(md5(concat_ws(' ', slice({words}, i, {k}))), 1, 8))"
    )
    # the hash array is MATERIALIZED as its own column before the window
    # scan — inlining it into every window position re-evaluates the full
    # md5 transform per window (Catalyst does not CSE that shape; the
    # SimHash lesson), which made this the battery's slowest query by 10x
    # (103 s at sf0.1 → ~3 s)
    fps = (
        f"CASE WHEN size(hs) >= {w} THEN "
        f"array_sort(array_distinct(transform(sequence(1, size(hs) - {w} + 1), "
        f"j -> array_min(slice(hs, j, {w}))))) "
        f"ELSE array() END"
    )
    return (
        _docs(spark, sf_dir)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.expr(hashes).alias("hs"),
        )
        .select("doc_id", F.explode(F.expr(fps)).alias("fp"))
    )


ORACLE_WINNOW = f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(text, ' ') AS words
  FROM documents
), h AS (
  SELECT doc_id, words,
         list_transform(range(1, len(words) - {_WINNOW_K} + 2),
           i -> substr(md5(array_to_string(words[i : i + {_WINNOW_K} - 1], ' ')), 1, 8))
           AS hashes
  FROM t
  WHERE len(words) >= {_WINNOW_K} + {_WINNOW_W} - 1
), fp AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           range(1, len(hashes) - {_WINNOW_W} + 2),
           j -> list_min(hashes[j : j + {_WINNOW_W} - 1])))) AS fps
  FROM h
)
SELECT doc_id, unnest(fps) AS fp FROM fp
"""


# ===========================================================================
# batch 19 — IVF multi-probe (nprobe=2): the standard ANN recall lever
# ===========================================================================
q_sim_ivf_topk_probe2 = _ivf_query(2)

ORACLE_SIM_IVF_P2 = _ivf_oracle("""SELECT centroid_id AS qcentroid FROM (
    SELECT c.centroid_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(
               (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[],
               c.cvec::DOUBLE[]), 4) DESC, c.centroid_id) AS rk
    FROM centroids c
  ) WHERE rk <= 2""")


# ===========================================================================
# batch 20 — scale-safe embedding near-dup: LSH-bucketed candidate pairs +
# exact-cosine verify (dedup_embedding_cosine above is the quadratic
# correctness baseline; this is the shape that survives 10^9 vectors)
# ===========================================================================
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    return lsh_neardup_pairs(emb, "vec_id", "embedding", threshold=0.3, planes=6)


ORACLE_DEDUP_EMB_LSH = f"""
WITH b AS (
  SELECT vec_id AS id, embedding AS v,
         {lsh_bucket_oracle_sql('embedding', 6)} AS bucket
  FROM embeddings
)
SELECT a.id AS a_id, bb.id AS b_id,
       round(list_cosine_similarity(a.v::DOUBLE[], bb.v::DOUBLE[]), 4) AS cos
FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.id < bb.id
WHERE round(list_cosine_similarity(a.v::DOUBLE[], bb.v::DOUBLE[]), 4) >= 0.3
"""


# ===========================================================================
# batch 21 — office backends (B8 xlsx / B9 docx / B10 pptx) on the Spark
# surface: real .docx/.xlsx/.pptx bytes are synthesized deterministically
# inside the Arrow batch (SQL cannot build zips), extracted by the stdlib
# backends through the binary operator, and oracled by construction. The
# backends themselves are additionally byte-parity-tested against the
# reference's own 17 office fixtures (tests/test_reference_{docx,xlsx,pptx}).
# ===========================================================================
def _kernel_spread(docs: DataFrame) -> DataFrame:
    """Spread rows before a compute-bound per-row kernel (office zip
    build+parse, media codec decode). Both callers read the contract
    documents table, a few hundred KB at every scale factor, so the
    byte-derived parquet split count is ONE — and everything downstream of
    the first row map inherits that single task, running the whole per-doc
    kernel chain on one core (measured: m8 7.3 s, b10 1.4 s single-task
    walls, ~0 s of it Spark work). Guide §2: the work here is per-ROW
    compute that byte-based planning cannot see, the exact shape the
    extract path's routing shuffle already handles. The count is EXPLICIT,
    2× the runtime's declared parallelism, because AQE's byte-based
    coalescing would fold these tiny-byte partitions straight back into
    one task. Keyed on doc_id (deterministic, retry-safe)."""
    target = 2 * docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(target, "doc_id")


def _office_query(builder) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _kernel_spread(
            _docs(spark, sf_dir).select(
                F.col("doc_id").cast("long").alias("doc_id"), "text"
            )
        )

        payloads = map_rows(
            docs,
            lambda doc_id, text: [(doc_id, builder(doc_id, text or ""))],
            T.StructType()
            .add("doc_id", T.LongType())
            .add("payload", T.BinaryType()),
        )
        out = extract_office_docs(payloads)
        return out.select("doc_id", "doc_kind", "parse_status", "extracted_text")

    return q


q_b9_docx_extract = _office_query(build_docx_payload)
q_b8_xlsx_extract = _office_query(build_xlsx_payload)
q_b10_pptx_extract = _office_query(build_pptx_payload)

ORACLE_B9_DOCX = """
SELECT doc_id::BIGINT AS doc_id, 'docx' AS doc_kind,
       'success' AS parse_status,
       'Doc ' || doc_id || chr(10) || chr(10) || text || chr(10) || chr(10)
         || 'alpha ' || doc_id || chr(10) || chr(10) || 'bravo'
         AS extracted_text
FROM documents
"""

ORACLE_B8_XLSX = """
SELECT doc_id::BIGINT AS doc_id, 'xlsx' AS doc_kind,
       'success' AS parse_status,
       '| name | score |' || chr(10) || '|---|---|' || chr(10)
         || '| doc' || doc_id || ' | ' || (doc_id % 97) || ' |'
         AS extracted_text
FROM documents
"""

ORACLE_B10_PPTX = """
SELECT doc_id::BIGINT AS doc_id, 'pptx' AS doc_kind,
       'success' AS parse_status,
       'Deck ' || doc_id || chr(10) || chr(10) || 'alpha ' || doc_id
         || chr(10) || chr(10) || 'bravo' AS extracted_text
FROM documents
"""


# ===========================================================================
# batch 22 — JATS article extraction (B12) on the text-payload surface:
# JATS is XML text, so the payload is SQL-constructible and the whole
# sniff -> route -> extract path is oracled by construction. The backend is
# additionally parity-tested against all five of the reference's own JATS
# fixtures (tests/test_reference_jats.py: 5/5 itxt, 4/5 byte-exact md).
# ===========================================================================
PAYLOAD_JATS = (
    "'<?xml version=\"1.0\"?><article><front><article-meta>"
    "<title-group><article-title>Doc ' || doc_id || '</article-title>"
    "</title-group><abstract><p>' || text || '</p></abstract>"
    "</article-meta></front><body><sec><title>Methods</title>"
    "<p>alpha ' || doc_id || '</p></sec></body></article>'"
)


def q_b12_jats_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _one_turn_extract(
        spark, sf_dir, PAYLOAD_JATS, "content_type", "parse_status", "extracted_text"
    )


ORACLE_B12_JATS = """
SELECT doc_id::BIGINT AS doc_id, 'jats' AS content_type,
       'success' AS parse_status,
       'Doc ' || doc_id || chr(10) || chr(10) || 'Abstract' || chr(10)
         || chr(10) || text || chr(10) || chr(10) || 'Methods' || chr(10)
         || chr(10) || 'alpha ' || doc_id AS extracted_text
FROM documents
"""


# ===========================================================================
# batch 23 — USPTO patent extraction (B13) on the text surface: ICE v4 XML
# is SQL-constructible, so the whole sniff -> route -> extract path is
# oracled by construction. The backend covers all four DTD families + APS
# text, parity-tested against all five reference fixtures
# (tests/test_reference_uspto.py: 5/5 itxt item-exact AND md byte-exact).
# ===========================================================================
PAYLOAD_USPTO = (
    "'<?xml version=\"1.0\"?><us-patent-application>"
    "<us-bibliographic-data-application><invention-title>Patent ' || doc_id "
    "|| '</invention-title></us-bibliographic-data-application>"
    "<abstract><p>' || text || '</p></abstract>"
    "<description><heading level=\"1\">FIELD</heading>"
    "<p>alpha ' || doc_id || '</p></description>"
    "<claims><claim><claim-text>A device ' || doc_id || '.</claim-text>"
    "</claim></claims></us-patent-application>'"
)


def q_b13_uspto_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _one_turn_extract(
        spark, sf_dir, PAYLOAD_USPTO, "content_type", "parse_status", "extracted_text"
    )


ORACLE_B13_USPTO = """
SELECT doc_id::BIGINT AS doc_id, 'uspto' AS content_type,
       'success' AS parse_status,
       'Patent ' || doc_id || chr(10) || chr(10) || 'ABSTRACT' || chr(10)
         || chr(10) || text || chr(10) || chr(10) || 'FIELD' || chr(10)
         || chr(10) || 'alpha ' || doc_id || chr(10) || chr(10) || 'CLAIMS'
         || chr(10) || chr(10) || 'A device ' || doc_id || '.'
         AS extracted_text
FROM documents
"""


# ===========================================================================
# batch 24 — REAL %PDF decoding (B4-class): the payload is genuine PDF bytes
# (classic xref, FlateDecode content streams, WinAnsi Type1 font) built
# deterministically inside the Arrow batch by sources/synth_pdf.py, carried
# through the text column as its lossless latin-1 decoding — the way binary
# payloads land in transcript turns. The whole sniff -> CT_PDF -> stdlib
# decoder -> cell merge -> furniture strip -> paragraph path is oracled by
# construction (header/footer band lines MUST be absent). The decoder is
# additionally parity-tested against the reference's own PDF fixtures
# (tests/test_reference_pdf.py).
# ===========================================================================
def q_b4_pdf_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )

    transcripts = map_rows(
        docs,
        lambda i: [(str(i), 0, build_report_pdf(i).decode("latin-1"))],
        T.StructType()
        .add("conv_id", T.StringType())
        .add("turn_idx", T.IntegerType())
        .add("text", T.StringType()),
    )
    out = extract_turns(transcripts, route_partitions=8)
    return out.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "content_type",
        "parse_status",
        "extracted_text",
    )


ORACLE_B4_PDF = """
SELECT doc_id::BIGINT AS doc_id, 'pdf' AS content_type,
       'success' AS parse_status,
       'Report ' || doc_id || chr(10) || chr(10)
         || 'alpha bravo ' || doc_id || ' charlie delta' || chr(10) || chr(10)
         || 'sample body for document ' || doc_id || ' with score '
         || (doc_id % 89) || chr(10) || chr(10)
         || 'Appendix ' || doc_id || chr(10) || chr(10)
         || 'annex line ' || doc_id AS extracted_text
FROM documents
"""


# ===========================================================================
# batch 25 — HWPX extraction (B14) on the binary office surface: real
# OWPML zip payloads built deterministically in the Arrow batch
# (sources/synth_office.py build_hwpx), oracled by construction. The
# backend is additionally parity-tested against the reference's own
# regression baseline (tests/test_reference_hwpx.py: exact 587-item label
# sequence vs hwpx_sample.json).
# ===========================================================================
q_b14_hwpx_extract = _office_query(build_hwpx_payload)

ORACLE_B14_HWPX = """
SELECT doc_id::BIGINT AS doc_id, 'hwpx' AS doc_kind,
       'success' AS parse_status,
       '1. Report ' || doc_id || chr(10) || chr(10)
         || 'body: ' || text || chr(10) || chr(10)
         || '□ alpha ' || doc_id || chr(10) || chr(10)
         || '| name | score |' || chr(10) || '|---|---|' || chr(10)
         || '| doc' || doc_id || ' | ' || (doc_id % 97) || ' |'
         AS extracted_text
FROM documents
"""


# ===========================================================================
# batch 26 — corpus curation: benchmark decontamination, deterministic
# stratified sampling, token-budget sequence packing (operators/curation.py)
# ===========================================================================
# contamination corpus: every doc_id % 7 == 3 doc carries a shared sentinel
# sentence; doc 164 (% 41 == 0 AND % 7 == 3) puts that sentence in the
# benchmark set, so the whole % 7 == 3 stratum is deterministically
# contaminated on top of the benchmark docs' own-text hits.
PAYLOAD_DECONTAM = (
    "CASE WHEN doc_id % 7 = 3 THEN text || "
    "' shared benchmark sentinel sentence appears here verbatim' "
    "ELSE text END"
)

_SHINGLE5_SQL = (
    "list_distinct([array_to_string(w[i:i+4], ' ') "
    "for i in range(1, len(w) - 3)])"
)

# sh(doc_id, shingles) of a ``corpus(doc_id, payload)`` CTE and bl(grams),
# every 5-gram of the benchmark docs (doc_id % 41 = 0)
_BLOCKLIST_CTES = f"""sh AS (
  SELECT doc_id, {_SHINGLE5_SQL} AS shingles
  FROM (SELECT doc_id, string_split(payload, ' ') AS w FROM corpus)
), bl AS (
  SELECT list(DISTINCT g.ngram) AS grams
  FROM (SELECT unnest(shingles) AS ngram FROM sh WHERE doc_id % 41 = 0) g
)"""


def q_curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(PAYLOAD_DECONTAM).alias("payload"),
    )
    bench = docs.where("doc_id % 41 = 0")
    return decontaminate_ngrams(docs, bench, "doc_id", "payload", n=5)


ORACLE_CURATE_DECONTAM = f"""
WITH corpus AS (
  SELECT doc_id::BIGINT AS doc_id, {PAYLOAD_DECONTAM} AS payload
  FROM documents
), {_BLOCKLIST_CTES}
SELECT doc_id,
       len(list_intersect(sh.shingles, bl.grams))::INT AS n_hits,
       len(list_intersect(sh.shingles, bl.grams)) > 0 AS contaminated
FROM sh, bl
"""


# per-language sampling rates; zh is kept in full (rate-1.0 threshold path)
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.125, "zh": 1.0}


def q_curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )
    out = stratified_sample(docs, "doc_id", "lang", SAMPLE_RATES)
    return out.select(
        "doc_id", "lang", "sampled", F.round("weight", 4).alias("weight")
    )


def _rate_case_sql(fn) -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN {fn(r)}" for s, r in sorted(SAMPLE_RATES.items())
    )
    return f"CASE lang {arms} ELSE {fn(0.0)} END"


ORACLE_CURATE_SAMPLE = f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, lang,
         substring(md5(lang || '|' || doc_id), 1, 4)
           < {_rate_case_sql(lambda r: "'" + sample_threshold_hex(r) + "'")}
           AS sampled
  FROM documents
)
SELECT doc_id, lang, sampled,
       CASE WHEN sampled
            THEN {_rate_case_sql(lambda r: round(1.0 / r, 4) if r > 0 else 0.0)}
            ELSE 0.0 END AS weight
FROM t
"""


PACK_BUDGET = 256
PACK_SHARDS = 8


# packed(doc_id, seq_id, off): each ``surv(doc_id, shard, tokens)`` row's
# budget-sized sequence and offset, by the running token sum per shard
_PACKED_CTE = f"""packed AS (
  SELECT doc_id,
         (shard::BIGINT * 4294967296 + ((cum - tokens) // {PACK_BUDGET}))
           AS seq_id,
         ((cum - tokens) % {PACK_BUDGET})::INT AS off
  FROM (SELECT doc_id, shard, tokens,
               sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM surv)
)"""


def _segments_sql(carry: str = "") -> str:
    """CTEs ``spans`` and ``seg`` and the final SELECT of segment packing
    over ``toks(doc_id, <carry>, shard, tokens)``: one row per (doc,
    sequence) it overlaps, with its token range in the doc."""
    return f"""spans AS (
  SELECT doc_id{carry}, shard, tokens,
         sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
),
seg AS (
  SELECT doc_id{carry}, shard, cum - tokens AS st, cum,
         unnest(range(((cum - tokens) // {PACK_BUDGET})::BIGINT,
                      ((cum - 1) // {PACK_BUDGET} + 1)::BIGINT)) AS s
  FROM spans
)
SELECT doc_id{carry},
       (shard::BIGINT * 4294967296 + s)::BIGINT AS seq_id,
       (greatest(st, s * {PACK_BUDGET}) - st)::INT AS tok_start,
       (least(cum, (s + 1) * {PACK_BUDGET}) - st)::INT AS tok_end,
       (greatest(st, s * {PACK_BUDGET}) - s * {PACK_BUDGET})::INT
         AS offset_in_seq
FROM seg"""


def q_curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return pack_sequences(
        docs, "doc_id", "text", budget=PACK_BUDGET, n_shards=PACK_SHARDS
    )


ORACLE_CURATE_PACK = f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, (doc_id % {PACK_SHARDS})::INT AS shard,
         len(string_split(text, ' '))::BIGINT AS tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, tokens,
         sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, shard, tokens::INT AS tokens,
       (shard::BIGINT * 4294967296
          + ((cum - tokens) // {PACK_BUDGET}))::BIGINT AS seq_id,
       ((cum - tokens) % {PACK_BUDGET})::INT AS offset_in_seq,
       ((cum - 1) // {PACK_BUDGET}) > ((cum - tokens) // {PACK_BUDGET})
         AS straddles
FROM c
"""


# ===========================================================================
# batch 27 — 2-D bbox fixpoint at realistic page counts (round-2 verdict
# stretch): same two-disjoint-y-band construction as batch 13, but spread
# over 5 pages per user so the kernel's page-separation rule
# (functions/bbox.py::_overlaps — boxes on different pages NEVER merge) is
# oracled, not just unit-tested, and each applyInPandas group carries
# multi-page box sets like a real document.
# ===========================================================================
q_o3_bbox_merge_pages = _bbox_merge_query("event_id % 5 + 1", "page")

ORACLE_O3_BBOX_PAGES = """
WITH boxes AS (
  SELECT user_id, (event_id % 5 + 1)::INT AS page, (event_id % 2)::INT AS band,
         value AS l, value + 10.0 AS r, event_id
  FROM events
), flagged AS (
  SELECT user_id, page, band, l, r, event_id,
         CASE WHEN l > coalesce(max(r) OVER (PARTITION BY user_id, page, band
              ORDER BY l, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1e308) + 1.0
              THEN 1 ELSE 0 END AS new_island
  FROM boxes
), islands AS (
  SELECT user_id, page, band, l, r,
         sum(new_island) OVER (PARTITION BY user_id, page, band
             ORDER BY l, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged
), merged AS (
  SELECT user_id, page, band, island_id, min(l) AS ml, max(r) AS mr
  FROM islands GROUP BY user_id, page, band, island_id
)
SELECT user_id, page, band, count(*) AS n_boxes,
       round(sum(mr - ml), 4) AS total_w
FROM merged GROUP BY user_id, page, band
"""


# ===========================================================================
# batch 28 — full training-data assembly: gate → exact dedup →
# decontaminate → stratified sample → pack, composed as ONE lineage query
# (every doc carries its per-stage verdicts; survivors carry their packed
# sequence assignment). The stage interplay is deliberately adversarial:
# doc 0 is BOTH a canonical duplicate (doc_id % 10 < 2) AND a benchmark
# doc (doc_id % 41 = 0), so the whole duplicate class is also flagged
# contaminated.
# ===========================================================================
PAYLOAD_FULLCURATE = (
    "CASE WHEN doc_id % 10 < 2 THEN 'the same canonical duplicated training "
    "document body appears verbatim in many crawled pages' ELSE text END"
)


def q_curate_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.expr(PAYLOAD_FULLCURATE).alias("payload"),
    )
    gated = docs.withColumn("gate_pass", F.length("payload") >= 50)
    deduped = exact_dedup(gated, "doc_id", "payload")
    dec = decontaminate_ngrams(
        docs, docs.where("doc_id % 41 = 0"), "doc_id", "payload", n=5
    ).select("doc_id", "contaminated")
    # fork point (the _chain_corpus rule): flags feeds the
    # pack branch AND the final join; lineage = dedup window +
    # decontamination + sampling, re-derived per branch without this
    flags = fork(stratified_sample(
        deduped.join(dec, "doc_id"), "doc_id", "lang", SAMPLE_RATES
    ))
    surv = flags.where("gate_pass AND keep AND NOT contaminated AND sampled")
    packed = pack_sequences(
        surv.select("doc_id", "payload"),
        "doc_id",
        "payload",
        budget=PACK_BUDGET,
        n_shards=PACK_SHARDS,
    ).select("doc_id", "seq_id", "offset_in_seq")
    return (
        flags.select(
            "doc_id", "lang", "gate_pass", "keep", "contaminated", "sampled"
        )
        .join(packed, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "gate_pass",
            "keep",
            "contaminated",
            "sampled",
            F.coalesce("seq_id", F.lit(-1)).cast("long").alias("seq_id"),
            F.coalesce("offset_in_seq", F.lit(-1))
            .cast("int")
            .alias("offset_in_seq"),
        )
    )


ORACLE_CURATE_ASSEMBLE = f"""
WITH corpus AS (
  SELECT doc_id::BIGINT AS doc_id, lang, {PAYLOAD_FULLCURATE} AS payload
  FROM documents
), dedup AS (
  SELECT *, length(payload) >= 50 AS gate_pass,
         doc_id = min(doc_id) OVER (PARTITION BY md5(payload)) AS keep
  FROM corpus
), {_BLOCKLIST_CTES}, flags AS (
  SELECT d.doc_id, d.lang, d.payload, d.gate_pass, d.keep,
         len(list_intersect(sh.shingles, bl.grams)) > 0 AS contaminated,
         substring(md5(d.lang || '|' || d.doc_id), 1, 4)
           < {_rate_case_sql(lambda r: "'" + sample_threshold_hex(r) + "'")}
           AS sampled
  FROM dedup d JOIN sh ON d.doc_id = sh.doc_id, bl
), surv AS (
  SELECT doc_id, (doc_id % {PACK_SHARDS})::INT AS shard,
         len(string_split(payload, ' '))::BIGINT AS tokens
  FROM flags WHERE gate_pass AND keep AND NOT contaminated AND sampled
), {_PACKED_CTE}
SELECT f.doc_id, f.lang, f.gate_pass, f.keep, f.contaminated, f.sampled,
       coalesce(p.seq_id, -1)::BIGINT AS seq_id,
       coalesce(p.off, -1)::INT AS offset_in_seq
FROM flags f LEFT JOIN packed p ON f.doc_id = p.doc_id
"""


# ===========================================================================
# batch 29 — REAL stdlib media decode on the multimodal surface: PNG / WAV /
# MP4 payloads built deterministically in the Arrow batch
# (sources/synth_media.py — real encoders), decoded by
# functions/media_decode.py (zlib + PNG scanline filters, wave, ISO-BMFF
# box walk), oracled by the builders' closed-form feature formulas.
# Roundtrip exactness across all 5 PNG filters × 4 colortypes is separately
# fuzz-tested in tests/test_media_decode.py.
# ===========================================================================
def _media_query(kind: str, builder, op):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _kernel_spread(
            _docs(spark, sf_dir).select(
                F.col("doc_id").cast("long").alias("doc_id")
            )
        )
        media = map_rows(
            docs,
            lambda i: [(i, str(i), i % 7, kind, builder(i), None)],
            MEDIA_SCHEMA,
        )
        return op(media)

    return q


def _q_m1(media):
    return decode_images(media).select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        F.round(F.col("mean_luma").cast("double"), 4).alias("mean_luma"),
        "decode_status",
    )


def _q_m2(media):
    return audio_features(media).select(
        F.col("media_id").alias("doc_id"),
        "channels",
        "sample_rate",
        "n_frames",
        F.round("duration_s", 4).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        "decode_status",
    )


def _q_m3(media):
    return video_metadata(media).select(
        F.col("media_id").alias("doc_id"),
        "brand",
        F.round("duration_s", 4).alias("duration_s"),
        "n_tracks",
        "decode_status",
    )


q_m1_image_decode = _media_query("image", build_png, _q_m1)
q_m2_audio_features = _media_query("audio", build_wav, _q_m2)
q_m3_video_meta = _media_query("video", build_mp4, _q_m3)

ORACLE_M1_IMAGE = """
SELECT doc_id::BIGINT AS doc_id,
       (16 + doc_id % 32)::INT AS width,
       (8 + doc_id % 16)::INT AS height,
       round((doc_id % 256) / 255.0, 4) AS mean_luma,
       'decoded' AS decode_status
FROM documents
"""

ORACLE_M2_AUDIO = """
SELECT doc_id::BIGINT AS doc_id,
       (1 + doc_id % 2)::INT AS channels,
       16000::INT AS sample_rate,
       (8000 + (doc_id % 100) * 40)::BIGINT AS n_frames,
       round((8000 + (doc_id % 100) * 40) / 16000.0, 4) AS duration_s,
       round((1000 + (doc_id % 50) * 100) / 32768.0, 6) AS rms,
       'decoded' AS decode_status
FROM documents
"""

ORACLE_M3_VIDEO = """
SELECT doc_id::BIGINT AS doc_id,
       'isom' AS brand,
       round((2000 + (doc_id % 60) * 500) / 1000.0, 4) AS duration_s,
       (1 + doc_id % 3)::INT AS n_tracks,
       'decoded' AS decode_status
FROM documents
"""


# ===========================================================================
# batch 17 — duplicate-cluster connected components + canonical selection
# ===========================================================================
# chain corpus: groups of four variants of one base document with CUMULATIVE
# distinct tails — consecutive variants are near-dups, far ones may miss the
# Jaccard threshold, so clustering must be TRANSITIVE (pairs alone are not a
# dedup decision). Base is the group-leader's text truncated to 120 chars so
# the tails move the Jaccard meaningfully.
CHAIN_SQL = """
SELECT d.doc_id AS doc_id,
       substr(b.text, 1, 120)
       || CASE WHEN d.doc_id % 4 >= 1
               THEN ' alpha beta gamma delta epsilon zeta' ELSE '' END
       || CASE WHEN d.doc_id % 4 >= 2
               THEN ' eta theta iota kappa lambda mu' ELSE '' END
       || CASE WHEN d.doc_id % 4 >= 3
               THEN ' nu xi omicron pi rho sigma tau' ELSE '' END AS payload
FROM documents d JOIN documents b ON b.doc_id = d.doc_id - (d.doc_id % 4)
WHERE d.doc_id < 240
"""


def _chain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the chain corpus feeds 3-8 plan branches per consuming query
    # (LSH shingle sides, canonical join, decontamination corpus +
    # benchmark, LM tokenize, pack join) and each branch re-runs the
    # documents⋈documents payload join — fork the 240-row result (the
    # multi-consumer rule of lsh_candidate_pairs' bucket fork; trivially
    # small, evictable, recomputed from parquet whenever absent)
    return fork(_sql(spark, sf_dir, CHAIN_SQL))


def q_dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _chain_corpus(spark, sf_dir)
    pairs = lsh_candidate_pairs(corpus, "doc_id", "payload", threshold=0.2)
    return connected_components(pairs).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# DuckDB mirror: identical LSH pair generation (same md5 banding), then the
# transitive closure as a recursive CTE; cluster id = min reachable vertex.
# ``reach``: every (src, dst) joined by a path of ``pairs`` edges
_REACH_CTES = """edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)"""

_CC_PAIRS_CTES = f"""corpus AS ({CHAIN_SQL}),
{_LSH_CANDS_CTES},
pairs AS (
  SELECT c.a_id, c.b_id
{indent(_LSH_VERIFY_SQL, '  ')}
),
{_REACH_CTES},
comp AS (
  SELECT src AS id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)"""

ORACLE_CC_CLUSTERS = f"""
WITH RECURSIVE {_CC_PAIRS_CTES}
SELECT id::BIGINT AS doc_id, cluster_id::BIGINT AS cluster_id FROM comp
"""


def q_dedup_cc_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _chain_corpus(spark, sf_dir)
    pairs = lsh_candidate_pairs(corpus, "doc_id", "payload", threshold=0.2)
    comps = connected_components(pairs)
    return cluster_canonical(corpus, "doc_id", "payload", comps).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "keep",
    )


ORACLE_CC_CANONICAL = f"""
WITH RECURSIVE {_CC_PAIRS_CTES}
SELECT c.doc_id::BIGINT AS doc_id,
       coalesce(k.cluster_id, c.doc_id)::BIGINT AS cluster_id,
       (row_number() OVER (
            PARTITION BY coalesce(k.cluster_id, c.doc_id)
            ORDER BY len(c.payload) DESC, c.doc_id) = 1) AS keep
FROM corpus c LEFT JOIN comp k ON k.id = c.doc_id
"""


# ===========================================================================
# batch 18 — CCNet-style LM quality score (corpus-trained unigram NLL)
# ===========================================================================
def q_quality_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return lm_quality_score(docs, "doc_id", "text", vocab_size=512)


ORACLE_QUALITY_LM_NLL = """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            w -> w <> '')) AS tok
  FROM documents
),
counts AS (
  SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok
),
total AS (
  SELECT sum(c)::DOUBLE AS t FROM counts
),
vocab AS (
  SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 512
)
SELECT toks.doc_id,
       count(*)::INT AS n_tokens,
       round(avg(-ln(coalesce(v.c, 1) / t.t)), 4) AS nll
FROM toks LEFT JOIN vocab v USING (tok), total t
GROUP BY toks.doc_id
"""


# ===========================================================================
# batch 19 — k-means-trained IVF (deterministic Lloyd iterations)
# ===========================================================================
_KM_K, _KM_ITERS, _KM_DIM = 4, 2, 64


def q_sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    cents = ivf_train_kmeans(
        emb, "vec_id", "embedding", k=_KM_K, iterations=_KM_ITERS, dim=_KM_DIM
    )
    return ivf_assignments(emb, "vec_id", "embedding", cents).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
    )


def _km_oracle(k: int, iters: int, dim: int) -> str:
    mean_cols = ", ".join(
        f"round(avg(embedding[{i + 1}]), 6)" for i in range(dim)
    )
    # farthest-first init (mirrors ivf_init_farthest): seed 0 = smallest
    # md5(id); seed i = lowest max-cosine to the seeds so far, ties by id
    parts = [
        """WITH s0 AS (
  SELECT 0 AS centroid_id, vec_id AS sid, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 1
),
seeds0 AS (SELECT * FROM s0)"""
    ]
    for i in range(1, k):
        parts.append(
            f"""fm{i} AS (
  SELECT e.vec_id, max(round(list_cosine_similarity(
    e.embedding::DOUBLE[], s.cvec), 4)) AS ms
  FROM embeddings e CROSS JOIN seeds{i - 1} s GROUP BY e.vec_id
)"""
        )
        parts.append(
            f"""s{i} AS (
  SELECT {i} AS centroid_id, e.vec_id AS sid, e.embedding::DOUBLE[] AS cvec
  FROM fm{i} JOIN embeddings e USING (vec_id)
  ORDER BY fm{i}.ms ASC, e.vec_id LIMIT 1
)"""
        )
        parts.append(
            f"seeds{i} AS (SELECT * FROM seeds{i - 1} "
            f"UNION ALL SELECT * FROM s{i})"
        )
    parts.append(
        f"cents0 AS (SELECT centroid_id, cvec FROM seeds{k - 1})"
    )
    for it in range(iters):
        parts.append(f"assign{it} AS ({_km_assign_sql(f'cents{it}')})")
        parts.append(
            f"means{it} AS (\n  SELECT centroid_id, [{mean_cols}] AS mvec "
            f"FROM assign{it} GROUP BY centroid_id\n)"
        )
        parts.append(
            f"cents{it + 1} AS (\n  SELECT c.centroid_id, "
            f"coalesce(m.mvec, c.cvec) AS cvec\n"
            f"  FROM cents{it} c LEFT JOIN means{it} m USING (centroid_id)\n)"
        )
    parts.append(f"final AS ({_km_assign_sql(f'cents{iters}')})")
    return (
        ",\n".join(parts)
        + "\nSELECT vec_id::BIGINT AS vec_id, "
        "centroid_id::BIGINT AS centroid_id FROM final"
    )


ORACLE_SIM_IVF_KMEANS = _km_oracle(_KM_K, _KM_ITERS, _KM_DIM)


# ===========================================================================
# batch 20 — near-dup curation assembly: LSH pairs → connected components →
# canonical keep → decontaminate → LM quality gate → pack, ONE lineage query
# over the chain corpus (curate_assemble's exact-dedup is replaced by the
# transitive near-dup decision; the LM gate is the CCNet-style filter).
# ===========================================================================
_LM_NLL_MAX = 3.95  # splits the chain corpus ~165/240; nearest rounded
# nll is >= 1e-4 away at sf0.001/0.01/0.1, so the 4-dp compare is stable


def q_curate_assemble_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _chain_corpus(spark, sf_dir)
    pairs = lsh_candidate_pairs(corpus, "doc_id", "payload", threshold=0.2)
    comps = connected_components(pairs)
    canon = cluster_canonical(corpus, "doc_id", "payload", comps)
    dec = decontaminate_ngrams(
        corpus, corpus.where("doc_id % 37 = 0"), "doc_id", "payload", n=5
    ).select("doc_id", "contaminated")
    lm = lm_quality_score(corpus, "doc_id", "payload", vocab_size=256)
    # fork point (the _chain_corpus rule): flags feeds the
    # pack branch AND the final join; canon/dec/lm would re-run per
    # branch without this (CC itself is already materialized — the
    # driver solve returns local data — but the canonical/decontam/LM
    # joins are not)
    flags = fork(
        canon.join(dec, "doc_id")
        .join(lm.select("doc_id", "nll"), "doc_id")
        .withColumn("lm_pass", F.col("nll") <= F.lit(_LM_NLL_MAX))
    )
    surv = flags.where("keep AND NOT contaminated AND lm_pass")
    packed = pack_sequences(
        surv.join(corpus, "doc_id").select("doc_id", "payload"),
        "doc_id",
        "payload",
        budget=PACK_BUDGET,
        n_shards=PACK_SHARDS,
    ).select("doc_id", "seq_id", "offset_in_seq")
    return flags.join(packed, "doc_id", "left").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "keep",
        "contaminated",
        "nll",
        "lm_pass",
        F.coalesce("seq_id", F.lit(-1)).cast("long").alias("seq_id"),
        F.coalesce("offset_in_seq", F.lit(-1)).cast("int").alias("offset_in_seq"),
    )


ORACLE_CURATE_NEARDUP = f"""
WITH RECURSIVE {_CC_PAIRS_CTES},
canon AS (
  SELECT c.doc_id, coalesce(k.cluster_id, c.doc_id) AS cluster_id,
         (row_number() OVER (
              PARTITION BY coalesce(k.cluster_id, c.doc_id)
              ORDER BY len(c.payload) DESC, c.doc_id) = 1) AS keep
  FROM corpus c LEFT JOIN comp k ON k.id = c.doc_id
),
sh5 AS (
  SELECT doc_id, {_SHINGLE5_SQL} AS shingles
  FROM (SELECT doc_id, string_split(payload, ' ') AS w FROM corpus)
),
bl AS (
  SELECT list(DISTINCT g.ngram) AS grams
  FROM (SELECT unnest(shingles) AS ngram FROM sh5 WHERE doc_id % 37 = 0) g
),
contam AS (
  SELECT s.doc_id, len(list_intersect(s.shingles, bl.grams)) > 0
           AS contaminated
  FROM sh5 s, bl
),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(payload),
                '[^a-z0-9]+'), w -> w <> '')) AS tok
  FROM corpus
),
counts AS (SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok),
total AS (SELECT sum(c)::DOUBLE AS t FROM counts),
vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 256),
lm AS (
  SELECT toks.doc_id, round(avg(-ln(coalesce(v.c, 1) / t.t)), 4) AS nll
  FROM toks LEFT JOIN vocab v USING (tok), total t
  GROUP BY toks.doc_id
),
flags AS (
  SELECT cn.doc_id, cn.cluster_id, cn.keep, ct.contaminated, lm.nll,
         lm.nll <= {_LM_NLL_MAX} AS lm_pass
  FROM canon cn JOIN contam ct USING (doc_id) JOIN lm USING (doc_id)
),
surv AS (
  SELECT f.doc_id, (f.doc_id % {PACK_SHARDS})::INT AS shard,
         len(string_split(p.payload, ' '))::BIGINT AS tokens
  FROM flags f JOIN corpus p USING (doc_id)
  WHERE f.keep AND NOT f.contaminated AND f.lm_pass
),
{_PACKED_CTE}
SELECT f.doc_id::BIGINT AS doc_id, f.cluster_id::BIGINT AS cluster_id,
       f.keep, f.contaminated, f.nll, f.lm_pass,
       coalesce(p.seq_id, -1)::BIGINT AS seq_id,
       coalesce(p.off, -1)::INT AS offset_in_seq
FROM flags f LEFT JOIN packed p ON f.doc_id = p.doc_id
"""


# ===========================================================================
# batch 21 — TF-IDF top-k terms per document
# ===========================================================================
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return tfidf_top_terms(docs, "doc_id", "text", k=5)


ORACLE_TEXT_TFIDF = """
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            w -> w <> '')) AS term
  FROM documents
),
doc_tok AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term
),
docfreq AS (
  SELECT term, count(*)::DOUBLE AS df_count FROM doc_tok GROUP BY term
),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT dt.doc_id, dt.term,
         dt.tf * (ln((n.n_docs + 1) / (f.df_count + 1)) + 1) AS s
  FROM doc_tok dt JOIN docfreq f USING (term), n
),
ranked AS (
  SELECT doc_id, term, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term)
           AS rank
  FROM scored
)
SELECT doc_id, term, rank::INT AS rank, round(s, 4) AS score
FROM ranked WHERE rank <= 5
"""


# ===========================================================================
# batch 22 — character-trigram Naive-Bayes language ID (train + apply in
# one plan; upgrade over the stopword-ratio heuristic of text_lang_id)
# ===========================================================================
_LANGS = ["de", "en", "es", "fr", "zh"]


def q_lang_id_trigram_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang"
    )
    return lang_id_ngram(docs, "doc_id", "text", "lang", _LANGS)


def _lang_nb_oracle(langs: list[str]) -> str:
    c_cols = ",\n         ".join(
        f"sum(CASE WHEN _lang = '{l}' THEN 1 ELSE 0 END)::BIGINT AS c_{i}"
        for i, l in enumerate(langs)
    )
    t_cols = ",\n         ".join(
        f"sum(CASE WHEN _lang = '{l}' THEN 1 ELSE 0 END)::DOUBLE AS t_{i}"
        for i, l in enumerate(langs)
    )
    d_cols = ",\n         ".join(
        f"sum(CASE WHEN lang = '{l}' THEN 1 ELSE 0 END)::DOUBLE AS d_{i}"
        for i, l in enumerate(langs)
    )
    ll_cols = ",\n         ".join(
        f"sum(ln((coalesce(c.c_{i}, 0) + 1) / (t.t_{i} + t.v))) AS ll_{i}"
        for i in range(len(langs))
    )
    cand = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, '{l}' AS lang, ln(p.d_{i} / p.n_docs) + ll_{i} "
        f"AS score FROM lls, priors p"
        for i, l in enumerate(langs)
    )
    return f"""
WITH grams AS (
  SELECT doc_id::BIGINT AS doc_id, _lang,
         unnest([substr(s, i, 3) for i in range(1, len(s) - 1)]) AS g
  FROM (SELECT doc_id, lang AS _lang,
               lower(substr(text, 1, {LANG_ID_PREFIX})) AS s FROM documents)
),
counts_all AS (
  SELECT g,
         {c_cols}
  FROM grams GROUP BY g
),
counts AS (
  SELECT * FROM counts_all
  ORDER BY ({" + ".join(f"c_{i}" for i in range(len(langs)))}) DESC, g
  LIMIT {LANG_ID_VOCAB}
),
totals AS (
  SELECT count(DISTINCT g)::DOUBLE AS v,
         {t_cols}
  FROM grams
),
priors AS (
  SELECT count(*)::DOUBLE AS n_docs,
         {d_cols}
  FROM documents
),
lls AS (
  SELECT dg.doc_id,
         {ll_cols}
  FROM grams dg LEFT JOIN counts c USING (g), totals t
  GROUP BY dg.doc_id
),
cand AS (
{cand}
),
best AS (
  SELECT doc_id, lang, score FROM (
    SELECT doc_id, lang, score,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY round(score, 6) DESC, lang) AS rk
    FROM cand) WHERE rk = 1
)
SELECT b.doc_id, b.lang AS pred_lang, round(b.score, 4) AS score,
       b.lang = d.lang AS is_correct
FROM best b JOIN documents d ON d.doc_id = b.doc_id
"""


ORACLE_LANG_ID_NB = _lang_nb_oracle(_LANGS)


# ===========================================================================
# batch 23 — embedding-space duplicate clusters: the CC operator composes
# unchanged over EMBEDDING near-dup edges (same transitive decision as the
# text path; closure-safe here — components stay small, verified ≤30
# vectors at sf0.1)
# ===========================================================================
def q_dedup_embedding_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    pairs = lsh_neardup_pairs(emb, "vec_id", "embedding", threshold=0.3, planes=6)
    return connected_components(pairs).select(
        F.col("id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


ORACLE_DEDUP_EMB_CC = f"""
WITH RECURSIVE pairs AS ({ORACLE_DEDUP_EMB_LSH}),
{_REACH_CTES}
SELECT src::BIGINT AS vec_id, least(src, min(dst))::BIGINT AS cluster_id
FROM reach GROUP BY src
"""


# ===========================================================================
# batch 24 — materialized packing segments (the trainer-facing split form)
# ===========================================================================
def q_curate_pack_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return pack_segments(
        docs, "doc_id", "text", budget=PACK_BUDGET, n_shards=PACK_SHARDS
    )


ORACLE_PACK_SEGMENTS = f"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id, (doc_id % {PACK_SHARDS})::INT AS shard,
         len(string_split(text, ' '))::BIGINT AS tokens
  FROM documents
),
{_segments_sql()}
"""


# ===========================================================================
# batch 25 — REAL baseline-JPEG decode (T.81 from scratch: Huffman + DCT).
# The builder emits per-8x8-block-constant grayscale JPEGs with EVEN luma
# values: a constant block is DC-only and an even value quantizes exactly
# (DC = 8*(c-128), step 16), so the lossy format round-trips bit-exactly
# and the oracle is closed-form.
# ===========================================================================
q_m4_jpeg_decode = _media_query("image", build_jpeg, _q_m1)

ORACLE_M4_JPEG = """
SELECT doc_id::BIGINT AS doc_id,
       24::INT AS width,
       16::INT AS height,
       round((
         (2 * ((doc_id * 7 +  0) % 128)) +
         (2 * ((doc_id * 7 + 11) % 128)) +
         (2 * ((doc_id * 7 + 22) % 128)) +
         (2 * ((doc_id * 7 + 33) % 128)) +
         (2 * ((doc_id * 7 + 44) % 128)) +
         (2 * ((doc_id * 7 + 55) % 128))
       ) / 6.0 / 255.0, 4) AS mean_luma,
       'decoded' AS decode_status
FROM documents
"""


# ===========================================================================
# batch 26 — REAL GIF decode (LZW with dictionary growth; lossless, so an
# arbitrary deterministic gradient has an exact closed-form mean)
# ===========================================================================
q_m5_gif_decode = _media_query("image", build_gif, _q_m1)

ORACLE_M5_GIF = """
SELECT d.doc_id::BIGINT AS doc_id,
       (8 + d.doc_id % 8)::INT AS width,
       (6 + d.doc_id % 5)::INT AS height,
       round(avg(((d.doc_id + 3 * y.y + 7 * x.x) % 256) * 1.0) / 255.0, 4)
         AS mean_luma,
       'decoded' AS decode_status
FROM documents d
JOIN range(0, 11) y(y) ON y.y < 6 + d.doc_id % 5
JOIN range(0, 16) x(x) ON x.x < 8 + d.doc_id % 8
GROUP BY d.doc_id
"""


# ===========================================================================
# batch 27 — REAL TIFF decode (6.0 baseline: strip layout, II/MM byte
# orders, uncompressed + PackBits — both lossless, so the deterministic
# gradient has an exact closed-form mean; the builder alternates byte
# order and compression by doc_id so the contract query covers all four
# combinations)
# ===========================================================================
q_m6_tiff_decode = _media_query("image", build_tiff, _q_m1)

ORACLE_M6_TIFF = """
SELECT d.doc_id::BIGINT AS doc_id,
       (9 + d.doc_id % 7)::INT AS width,
       (5 + d.doc_id % 6)::INT AS height,
       round(avg(((d.doc_id + 5 * y.y + 11 * x.x) % 256) * 1.0) / 255.0, 4)
         AS mean_luma,
       'decoded' AS decode_status
FROM documents d
JOIN range(0, 10) y(y) ON y.y < 5 + d.doc_id % 6
JOIN range(0, 15) x(x) ON x.x < 9 + d.doc_id % 7
GROUP BY d.doc_id
"""


# ===========================================================================
# batch 28 — REAL video frame sampling (MJPEG-in-AVI: RIFF chunk walk +
# per-frame baseline-JPEG decode; frames are even block-constant JPEGs, so
# every sampled frame's mean is closed-form — the "frame-sample" op from
# the training-pipeline spec, no longer a stub for this container)
# ===========================================================================
def _q_m7(media):
    return video_frames(media, every_n=2).select(
        F.col("media_id").alias("doc_id"),
        F.col("frame_idx").cast("int").alias("frame_idx"),
        "width",
        "height",
        F.round(F.col("mean_luma").cast("double"), 4).alias("mean_luma"),
        "decode_status",
    )


q_m7_video_frames = _media_query("video", build_avi, _q_m7)

ORACLE_M7_AVI = """
SELECT d.doc_id::BIGINT AS doc_id,
       f.f::INT AS frame_idx,
       24::INT AS width,
       16::INT AS height,
       round((
         (2 * ((d.doc_id * 7 + f.f * 13 +  0) % 128)) +
         (2 * ((d.doc_id * 7 + f.f * 13 + 11) % 128)) +
         (2 * ((d.doc_id * 7 + f.f * 13 + 22) % 128)) +
         (2 * ((d.doc_id * 7 + f.f * 13 + 33) % 128)) +
         (2 * ((d.doc_id * 7 + f.f * 13 + 44) % 128)) +
         (2 * ((d.doc_id * 7 + f.f * 13 + 55) % 128))
       ) / 6.0 / 255.0, 4) AS mean_luma,
       'decoded' AS decode_status
FROM documents d
JOIN range(0, 6) f(f) ON f.f < 3 + d.doc_id % 4 AND f.f % 2 = 0
"""


# ===========================================================================
# batch 28b — REAL lossless-WebP decode (from-scratch VP8L: canonical
# prefix codes, color cache, LZ77 backward refs, subtract-green — the
# builder enables all three coding features, so the contract query pins
# each bitstream path; lossless → the gray gradient has an exact
# closed-form mean, same integer-avg oracle shape as m5/m6)
# ===========================================================================
q_m8_webp_decode = _media_query("image", build_webp, _q_m1)

ORACLE_M8_WEBP = """
SELECT d.doc_id::BIGINT AS doc_id,
       (16 + d.doc_id % 5)::INT AS width,
       (12 + d.doc_id % 7)::INT AS height,
       round(avg(((d.doc_id + 3 * y.y + 7 * x.x) % 256) * 1.0) / 255.0, 4)
         AS mean_luma,
       'decoded' AS decode_status
FROM documents d
JOIN range(0, 19) y(y) ON y.y < 12 + d.doc_id % 7
JOIN range(0, 21) x(x) ON x.x < 16 + d.doc_id % 5
GROUP BY d.doc_id
"""


# ===========================================================================
# batch 28c — MP3 frame-header walk (exact channels / rate / frame count /
# duration from every frame header; honest 'header_only' status with null
# RMS — PCM decode is codec-bound, same seam policy as lossy-VP8 WebP.
# duration = nf * 1152 / 48000 = nf * 0.024 exactly 3 decimals, so the
# 4-dp round has no cross-engine halfway hazard)
# ===========================================================================
q_m9_mp3_meta = _media_query("audio", build_mp3, _q_m2)

ORACLE_M9_MP3 = """
SELECT doc_id::BIGINT AS doc_id,
       (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END)::INT AS channels,
       48000::INT AS sample_rate,
       (20 + doc_id % 30)::BIGINT AS n_frames,
       round((20 + doc_id % 30) * 1152 / 48000.0, 4) AS duration_s,
       NULL::DOUBLE AS rms,
       'header_only' AS decode_status
FROM documents
"""


# ===========================================================================
# batch 28d — REAL lossy-WebP decode (from-scratch VP8 keyframe decoder,
# functions/vp8.py: boolean coder, token trees, WHT/IDCT, intra
# prediction, loop filter — proven bit-exact vs libwebp in
# tests/test_vp8.py). The builder emits a uniform-luma frame via the
# Y2/WHT cascade (sources/synth_webp.encode_vp8_flat), so mean_luma has
# the closed form V/255 with V = 40 + (doc_id*13) % 180; V*2000/51 has an
# odd denominator, so the 4-dp round can never hit a cross-engine
# halfway case (float checklist, CLAUDE.md).
# ===========================================================================
q_m10_webp_lossy = _media_query("image", build_webp_lossy, _q_m1)

ORACLE_M10_WEBP_LOSSY = """
SELECT doc_id::BIGINT AS doc_id,
       (32 + (doc_id % 5) * 16)::INT AS width,
       (16 + (doc_id % 3) * 16)::INT AS height,
       round((40 + (doc_id * 13) % 180) / 255.0, 4) AS mean_luma,
       'decoded' AS decode_status
FROM documents
"""


# ===========================================================================
# batch 29 — substring-level exact dedup (Lee et al. 2022 family: token
# spans whose every k-gram repeats corpus-wide, merged per doc) + the
# per-doc duplicated-token fraction signal
# ===========================================================================
_SUBSTR_K = 5


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return duplicated_substring_spans(
        docs, "doc_id", "text", k=_SUBSTR_K, min_count=2
    )


ORACLE_SUBSTR_SPANS = f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, string_split(text, ' ') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(range(0, greatest(len(w) - {_SUBSTR_K} + 1, 0))) AS pos,
         unnest(list_transform(range(0, greatest(len(w) - {_SUBSTR_K} + 1, 0)),
                i -> md5(array_to_string(w[i + 1 : i + {_SUBSTR_K}], ' '))))
           AS g
  FROM t
), dup AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
), marked AS (
  SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER win IS NULL
                   OR pos > lag(pos) OVER win + {_SUBSTR_K}
              THEN 1 ELSE 0 END AS brk
  FROM marked WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
), grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
  FROM isl
)
SELECT doc_id,
       min(pos)::INT AS span_start,
       (max(pos) + {_SUBSTR_K})::INT AS span_end,
       (max(pos) + {_SUBSTR_K} - min(pos))::INT AS span_tokens
FROM grp GROUP BY doc_id, gid
"""


def q_dedup_substring_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return duplicated_token_fraction(
        docs, "doc_id", "text", k=_SUBSTR_K, min_count=2
    )


ORACLE_SUBSTR_FRACTION = f"""
WITH spans AS ({ORACLE_SUBSTR_SPANS}),
tot AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(string_split(text, ' '))::INT AS n_tokens
  FROM documents
),
agg AS (
  SELECT doc_id, sum(span_tokens)::INT AS dup_tokens FROM spans
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       coalesce(a.dup_tokens, 0)::INT AS dup_tokens,
       round(coalesce(a.dup_tokens, 0) * 1.0 / greatest(t.n_tokens, 1), 4)
         AS dup_fraction
FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


# ===========================================================================
# batch 30 — temperature mixture sampling (domain rebalancing: rate_d =
# (min_count/count_d)^(1-tau); rates computed in-plan from corpus counts,
# broadcast back; the corpus never shuffles)
# ===========================================================================
_MIX_TAU = 0.3


def q_curate_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )
    return temperature_mixture_sample(docs, "doc_id", "lang", tau=_MIX_TAU).select(
        "doc_id", "lang", "rate", "sampled", "weight"
    )


ORACLE_MIXTURE_SAMPLE = f"""
WITH c AS (
  SELECT lang, count(*) AS n_d FROM documents GROUP BY lang
), m AS (
  SELECT min(n_d) AS n_min FROM c
), r AS (
  SELECT lang, round(pow(m.n_min * 1.0 / c.n_d, {1.0 - _MIX_TAU}), 6) AS rate
  FROM c, m
), t AS (
  SELECT d.doc_id::BIGINT AS doc_id, d.lang, r.rate,
         (('0x' || substring(md5(concat_ws('|', d.lang, d.doc_id)), 1, 4))::BIGINT
            / 65536.0) < r.rate AS sampled
  FROM documents d JOIN r ON r.lang IS NOT DISTINCT FROM d.lang
)
SELECT doc_id, lang, rate, sampled,
       CASE WHEN sampled THEN round(1.0 / rate, 4) ELSE 0.0 END AS weight
FROM t
"""


# ===========================================================================
# batch 31 — temporal joins (operators/temporal.py): as-of join (backward
# with tolerance, forward) and bucketed point-in-interval range join —
# the brief's named custom operators; DuckDB's native ASOF JOIN and an
# inequality join are the oracles
# ===========================================================================
_ASOF_TOL = 604800  # 7 days


def _asof_query(
    event_type: str, direction: str, tolerance: int | None = None
) -> Callable[[SparkSession, str], DataFrame]:
    """Each click as-of joined, per user, to the ``event_type`` event in
    ``direction`` within ``tolerance`` seconds; the matched ts and value
    come out as ``<event_type>_ts_sec`` and ``<event_type>_value``."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = _events(spark, sf_dir)
        clicks = ev.where(F.col("event_type") == "click").select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            "ts",
        )
        right = ev.where(F.col("event_type") == event_type).select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("ts").alias(f"{event_type}_ts"),
            F.col("value").alias(f"{event_type}_value"),
        )
        out = asof_join(
            clicks, right, ["user_id"], "ts", f"{event_type}_ts",
            direction=direction, tolerance=tolerance,
        )
        return out.select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp").cast("long").alias("ts_sec"),
            F.col(f"{event_type}_ts_matched").cast("timestamp").cast("long")
            .alias(f"{event_type}_ts_sec"),
            F.round(f"{event_type}_value_matched", 4)
            .alias(f"{event_type}_value"),
        )

    return q


q_asof_attach_signup = _asof_query("signup", "backward", _ASOF_TOL)

ORACLE_ASOF_SIGNUP = f"""
SELECT l.event_id::BIGINT AS event_id,
       l.user_id::BIGINT AS user_id,
       floor(epoch(l.ts))::BIGINT AS ts_sec,
       CASE WHEN r.ts IS NOT NULL
                 AND floor(epoch(l.ts)) - floor(epoch(r.ts)) <= {_ASOF_TOL}
            THEN floor(epoch(r.ts))::BIGINT END AS signup_ts_sec,
       CASE WHEN r.ts IS NOT NULL
                 AND floor(epoch(l.ts)) - floor(epoch(r.ts)) <= {_ASOF_TOL}
            THEN round(r.value, 4) END AS signup_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'signup') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


q_asof_next_purchase = _asof_query("purchase", "forward")

ORACLE_ASOF_PURCHASE = """
SELECT l.event_id::BIGINT AS event_id,
       l.user_id::BIGINT AS user_id,
       floor(epoch(l.ts))::BIGINT AS ts_sec,
       floor(epoch(r.ts))::BIGINT AS purchase_ts_sec,
       round(r.value, 4) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts <= r.ts
"""

_RANGE_WIN = 21600  # 6-hour error windows


def q_range_join_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").cast("long").alias("view_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").cast("long").alias("view_sec"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").cast("long").alias("error_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").cast("long").alias("win_start"),
        (F.col("ts").cast("timestamp").cast("long") + _RANGE_WIN)
        .alias("win_end"),
    )
    return range_join(
        views, errors, ["user_id"], "view_sec", "win_start", "win_end",
        bucket_width=_RANGE_WIN,
    ).select("view_id", "user_id", "view_sec", "error_id", "win_start")


ORACLE_RANGE_JOIN = f"""
SELECT v.event_id::BIGINT AS view_id,
       v.user_id::BIGINT AS user_id,
       floor(epoch(v.ts))::BIGINT AS view_sec,
       e.event_id::BIGINT AS error_id,
       floor(epoch(e.ts))::BIGINT AS win_start
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON v.user_id = e.user_id
 AND floor(epoch(v.ts)) >= floor(epoch(e.ts))
 AND floor(epoch(v.ts)) < floor(epoch(e.ts)) + {_RANGE_WIN}
"""


# ===========================================================================
# batch 32 — Z-order data layout (OPTIMIZE ZORDER BY analog): the Morton
# z-value is pure integer arithmetic, so the oracle reproduces it bit for
# bit; the layout rewrite itself (repartitionByRange on zvalue) is
# plan/skipping-tested in tests/test_layout.py
# ===========================================================================
_Z_BITS = 16


def q_layout_zorder_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("x"),
        F.floor(F.col("value") * 100).cast("long").alias("y"),
    )
    return zorder_value(src, ["x", "y"], bits=_Z_BITS).select(
        "event_id", "x", "y", F.col("zvalue").cast("long").alias("zvalue")
    )


ORACLE_ZORDER = f"""
WITH src AS (
  SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS x,
         floor(value * 100)::BIGINT AS y
  FROM events
), b AS (
  SELECT min(x) AS xmin, max(x) AS xmax,
         min(y) AS ymin, max(y) AS ymax
  FROM src
), s AS (
  SELECT event_id, x, y,
         CASE WHEN xmax = xmin THEN 0
              ELSE ((x - xmin) * {(1 << _Z_BITS) - 1}) // (xmax - xmin)
         END AS sx,
         CASE WHEN ymax = ymin THEN 0
              ELSE ((y - ymin) * {(1 << _Z_BITS) - 1}) // (ymax - ymin)
         END AS sy
  FROM src, b
)
SELECT event_id, x, y,
       list_sum(list_transform(range(0, {_Z_BITS}),
         i -> (((sx >> i) & 1) << (2 * i))
              + (((sy >> i) & 1) << (2 * i + 1))))::BIGINT AS zvalue
FROM s
"""


# ===========================================================================
# batch 33 — hypertable rollup (multi-resolution continuous aggregate):
# minute → hour → day cascade where each level aggregates the finer
# level's partials; the oracle recomputes every level straight from raw,
# so the cascade's mergeability is what's being checked
# ===========================================================================
def q_events_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return rollup_timeseries(ev, "ts", ["event_type"], "value")


_ROLLUP_LEVEL_SQL = """
SELECT '{lvl}' AS level, date_trunc('{lvl}', ts) AS bucket, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value::DECIMAL(18,2))::DOUBLE, 4) AS sum_value,
       round(min(value), 4) AS min_value, round(max(value), 4) AS max_value,
       ((200 * (sum(value::DECIMAL(18,2)) * 100)::BIGINT + count(*))
          // (2 * count(*))) / 10000.0 AS avg_value
FROM events GROUP BY 2, 3
"""

ORACLE_ROLLUP = " UNION ALL ".join(
    _ROLLUP_LEVEL_SQL.format(lvl=lvl) for lvl in ("minute", "hour", "day")
)


# --- adaptive variant (round 6): choose_rollup_levels prunes levels that
# would not fold rows (the sparse-rollup scale guard), then the same
# cascade runs on the kept suffix. The events table is NATURALLY sparse at
# the minute level (fold 1.0-1.25 across SFs, vs min_fold=2), so the guard
# genuinely fires; the oracle re-derives the keep decisions with EXACT
# distinct counts (Spark uses HLL ±2.3%; every SF's fold sits ≥37% from
# the threshold, so both engines decide identically) and emits the same
# suffix-keep union: minute iff it folds, hour iff minute kept or hour
# folds, day always.
def q_events_rollup_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    kept, _stats = choose_rollup_levels(
        ev, "ts", ["event_type"], ("minute", "hour", "day"), min_fold=2.0
    )
    return rollup_timeseries(ev, "ts", ["event_type"], "value", levels=kept)


# bucket keys coalesce each part to chr(1), matching choose_rollup_levels
# (Spark concat_ws skips NULLs, DuckDB || propagates them — checklist #5)
def _rollup_fold_pred(lvl: str) -> str:
    return (
        "(SELECT count(*) FROM events) >= 2 * (SELECT count(DISTINCT "
        f"coalesce(date_trunc('{lvl}', ts)::VARCHAR, chr(1)) || chr(0) || "
        "coalesce(event_type, chr(1))) FROM events)"
    )


_ROLLUP_KEEP_PRED = {
    "minute": _rollup_fold_pred("minute"),
    "hour": f"{_rollup_fold_pred('minute')} OR {_rollup_fold_pred('hour')}",
    "day": "TRUE",
}

ORACLE_ROLLUP_ADAPTIVE = " UNION ALL ".join(
    f"SELECT * FROM ({_ROLLUP_LEVEL_SQL.format(lvl=lvl)}) "
    f"WHERE {_ROLLUP_KEEP_PRED[lvl]}"
    for lvl in ("minute", "hour", "day")
)


# ===========================================================================
# batch 34 — unicode NFC normalization (functions/textnorm.py): the corpus
# text is ASCII, so both sides append the same decomposed-unicode suffix
# (combining acute + ring) before normalizing — the query exercises real
# composition, and DuckDB's native nfc_normalize is the oracle
# ===========================================================================
_NFC_SUFFIX = " e\u0301 A\u030a fin"  # decomposed: e+combining-acute, A+combining-ring
_NFC_RAW = f"text || '{_NFC_SUFFIX}'"


def q_text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(_NFC_RAW).alias("raw"),
    )
    out = docs.withColumn("norm", nfc_normalize_col("raw"))
    return out.select(
        "doc_id",
        F.md5("norm").alias("norm_md5"),
        (F.length("norm") < F.length("raw")).alias("composed"),
        (F.length("raw") - F.length("norm")).cast("int").alias("chars_folded"),
    )


ORACLE_NFC = f"""
SELECT doc_id::BIGINT AS doc_id,
       md5(nfc_normalize({_NFC_RAW})) AS norm_md5,
       length(nfc_normalize({_NFC_RAW}))
         < length({_NFC_RAW}) AS composed,
       (length({_NFC_RAW})
         - length(nfc_normalize({_NFC_RAW})))::INT
         AS chars_folded
FROM documents
"""


# ===========================================================================
# batch 35 — embedding infrastructure: JL sign random projection (the
# pre-ANN dimensionality squeeze) and per-vector uint8 quantization (the
# 4x storage squeeze) — both row-local, both bit-reproducible (md5 sign
# matrix; floor on identical doubles), both with exact oracles
# ===========================================================================
_JL_DIM = 8


def q_embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    out = random_projection(emb, "vec_id", "embedding", out_dim=_JL_DIM)
    return out.select(
        "vec_id",
        F.posexplode("proj").alias("j", "y"),
    ).select("vec_id", F.col("j").cast("int").alias("j"),
             F.round("y", 6).alias("y"))


def _jl_dot_sql(j: int) -> str:
    return (
        f"list_sum(list_transform(range(0, len(embedding)), "
        f"d -> embedding[d + 1]::DOUBLE * "
        f"((('0x' || substr(md5('jl{j}_' || d), 1, 1))::BIGINT % 2) * 2 - 1)))"
        f" / sqrt({_JL_DIM}::DOUBLE)"
    )


ORACLE_JL = " UNION ALL ".join(
    f"SELECT vec_id::BIGINT AS vec_id, {j}::INT AS j, "
    f"round({_jl_dot_sql(j)}, 6) AS y FROM embeddings"
    for j in range(_JL_DIM)
)


def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    out = quantize_int8(emb, "vec_id", "embedding")
    return out.select(
        "vec_id",
        F.expr("aggregate(q, 0L, (a, v) -> a + v)").alias("q_sum"),
        F.expr("array_min(q)").cast("int").alias("q_lo"),
        F.expr("array_max(q)").cast("int").alias("q_hi"),
        F.round("q_min", 6).alias("q_min"),
        F.round("q_max", 6).alias("q_max"),
        F.round("recon_mse", 8).alias("recon_mse"),
    )


ORACLE_QUANT = """
WITH s AS (
  SELECT vec_id::BIGINT AS vec_id, embedding,
         list_min(embedding)::DOUBLE AS mn,
         list_max(embedding)::DOUBLE AS mx
  FROM embeddings
), q AS (
  SELECT vec_id, embedding, mn, mx,
         CASE WHEN mx = mn THEN list_transform(embedding, x -> 0::BIGINT)
              ELSE list_transform(embedding,
                x -> floor((x::DOUBLE - mn) * 255 / (mx - mn) + 0.5)::BIGINT)
         END AS qs
  FROM s
)
SELECT vec_id,
       list_sum(qs)::BIGINT AS q_sum,
       list_min(qs)::INT AS q_lo,
       list_max(qs)::INT AS q_hi,
       round(mn, 6) AS q_min,
       round(mx, 6) AS q_max,
       round(list_sum(list_transform(range(0, len(embedding)),
               d -> pow(embedding[d + 1]::DOUBLE
                        - (mn + qs[d + 1] * (mx - mn) / 255), 2)))
             / len(embedding), 8) AS recon_mse
FROM q
"""


# ===========================================================================
# batch 36 — interpolated bigram LM (Jelinek-Mercer mixture over a closed
# top-K + <unk> vocab): the rung above quality_lm_nll's unigram toward
# CCNet's KenLM; the full train+score loop has an exact oracle
# ===========================================================================
_BIGRAM_VOCAB = 256
_BIGRAM_LAM = 0.7


# t(doc_id, ws): each document's lower-cased alphanumeric words, the
# tokenizer of operators/search.py::TOKENIZE
_WORDS_CTE = """WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     w -> w <> '') AS ws
  FROM documents
)"""


def q_quality_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return lm_bigram_score(
        docs, "doc_id", "text", vocab_size=_BIGRAM_VOCAB, lam=_BIGRAM_LAM
    )


ORACLE_LM_BIGRAM = f"""
{_WORDS_CTE},
tok AS (
  SELECT doc_id,
         unnest(range(0, len(ws))) AS pos,
         unnest(ws) AS tok
  FROM t
),
counts AS (
  SELECT tok, count(*)::BIGINT AS c FROM tok GROUP BY tok
),
vocab AS (
  SELECT tok FROM counts ORDER BY c DESC, tok LIMIT {_BIGRAM_VOCAB}
),
mapped AS (
  SELECT doc_id, pos,
         CASE WHEN tok IN (SELECT tok FROM vocab) THEN tok
              ELSE '<unk>' END AS m
  FROM tok
),
uni AS (
  SELECT m, count(*)::BIGINT AS cu FROM mapped GROUP BY m
),
total AS (
  SELECT sum(cu)::DOUBLE AS t FROM uni
),
big AS (
  SELECT doc_id, m AS cur,
         lag(m) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM mapped
  QUALIFY prev IS NOT NULL
),
cb AS (
  SELECT prev, cur, count(*)::BIGINT AS c2 FROM big GROUP BY prev, cur
),
cp AS (
  SELECT prev, sum(c2)::BIGINT AS cprev FROM cb GROUP BY prev
)
SELECT b.doc_id,
       count(*)::INT AS n_bigrams,
       round(avg(-ln({_BIGRAM_LAM} * (cb.c2::DOUBLE / cp.cprev)
                     + {1.0 - _BIGRAM_LAM} * (u.cu::DOUBLE / tt.t))), 4)
         AS nll
FROM big b
JOIN cb ON cb.prev = b.prev AND cb.cur = b.cur
JOIN cp ON cp.prev = b.prev
JOIN uni u ON u.m = b.cur, total tt
GROUP BY b.doc_id
"""


# ===========================================================================
# batch 37 — trailing time-range features (point-in-time correctness: only
# past rows in the frame — the feature-engineering shape that avoids
# label leakage); Spark RANGE frame vs DuckDB RANGE frame
# ===========================================================================
_ROLL_WIN = 86400  # trailing 24 h


def q_events_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        "value",
    )
    out = rolling_features(ev, "ts", ["user_id"], "value", _ROLL_WIN)
    return out.select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_sec"),
        "trailing_n", "trailing_sum", "trailing_mean",
    )


ORACLE_ROLLING = f"""
SELECT event_id::BIGINT AS event_id,
       user_id::BIGINT AS user_id,
       floor(epoch(ts))::BIGINT AS ts_sec,
       count(*) OVER w::BIGINT AS trailing_n,
       round((sum(value::DECIMAL(18,2)) OVER w)::DOUBLE, 4) AS trailing_sum,
       ((200 * ((sum(value::DECIMAL(18,2)) OVER w) * 100)::BIGINT
          + count(*) OVER w) // (2 * count(*) OVER w)) / 10000.0
         AS trailing_mean
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT
             RANGE BETWEEN {_ROLL_WIN - 1} PRECEDING AND CURRENT ROW)
"""


# ===========================================================================
# batch 38 — phrase mining (word2vec collocation pass): pairs co-occurring
# far above their parts' frequency product; exact count arithmetic
# ===========================================================================
# Tuned so the contract corpus emits real collocations at every SF (the
# round-3 verdict flagged delta=3/th=1.5 as vacuous: 0 rows at sf0.01, so
# the green cell only proved both engines agree on an empty frame).  With
# delta=1/th=1.0 the gate sees 365/346/332 rows at sf0.001/0.01/0.1.
_PHRASE_DELTA = 1
_PHRASE_THRESHOLD = 1.0


def q_text_phrase_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return mine_phrases(
        docs, "doc_id", "text",
        delta=_PHRASE_DELTA, threshold=_PHRASE_THRESHOLD,
    )


ORACLE_PHRASES = f"""
{_WORDS_CTE},
tok AS (
  SELECT doc_id, unnest(range(0, len(ws))) AS pos, unnest(ws) AS tok
  FROM t
),
uni AS (SELECT tok, count(*)::BIGINT AS c FROM tok GROUP BY tok),
total AS (SELECT sum(c)::DOUBLE AS n FROM uni),
pairs AS (
  SELECT w1, tok AS w2, count(*)::BIGINT AS pair_count
  FROM (SELECT doc_id, pos, tok,
               lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM tok)
  WHERE w1 IS NOT NULL
  GROUP BY w1, tok
  HAVING count(*) > {_PHRASE_DELTA}
)
SELECT p.w1, p.w2, p.pair_count,
       round((p.pair_count - {_PHRASE_DELTA}) * t.n
             / (u1.c * u2.c), 4) AS score
FROM pairs p
JOIN uni u1 ON u1.tok = p.w1
JOIN uni u2 ON u2.tok = p.w2, total t
WHERE (p.pair_count - {_PHRASE_DELTA}) * t.n / (u1.c * u2.c)
        > {_PHRASE_THRESHOLD}
"""


# ===========================================================================
# batch 39 — search layer (operators/search.py): inverted index with a
# statistical stop list (df-ratio cap = the posting-skew guard) and BM25
# top-k with engine-deterministic ranking
# ===========================================================================
_IDX_MAX_DF = 0.78
_BM25_TERMS = ["dup", "window", "merge"]
_BM25_K = 20


def q_search_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    idx = build_inverted_index(
        docs, "doc_id", "text", max_df_ratio=_IDX_MAX_DF
    )
    return idx.select(
        "term", "df", F.explode("postings").alias("p")
    ).select(
        "term", "df",
        F.col("p.doc").cast("long").alias("doc"),
        F.col("p.tf").cast("long").alias("tf"),
    )


ORACLE_INVERTED = f"""
{_WORDS_CTE},
tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
dt AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM dt GROUP BY term),
n AS (SELECT count(*) AS nd FROM documents)
SELECT d.term, f.df, d.doc_id AS doc, d.tf
FROM dt d JOIN dfreq f USING (term), n
WHERE f.df <= n.nd * {_IDX_MAX_DF}
"""


def q_search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return bm25_topk(
        docs, "doc_id", "text", _BM25_TERMS, k=_BM25_K
    )


def _bm25_term_sql(i: int, t: str) -> str:
    return (
        f"sum(CASE WHEN term = '{t}' THEN "
        f"ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
        f" * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) END)"
    )


ORACLE_BM25 = f"""
{_WORDS_CTE},
stats AS (
  SELECT count(*)::DOUBLE AS n_docs,
         sum(len(ws))::DOUBLE / count(*) AS avgdl
  FROM t
),
tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM t),
dt AS (
  SELECT doc_id, term, any_value(dl) AS dl, count(*)::BIGINT AS tf
  FROM tok GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM dt GROUP BY term),
q AS (
  SELECT d.doc_id, d.term, d.dl, d.tf, f.df, s.n_docs, s.avgdl
  FROM dt d JOIN dfreq f USING (term), stats s
  WHERE d.term IN ({", ".join(repr(t) for t in _BM25_TERMS)})
),
scored AS (
  SELECT doc_id,
         {" + ".join(f"coalesce({_bm25_term_sql(i, t)}, 0.0)"
                     for i, t in enumerate(_BM25_TERMS))} AS raw
  FROM q GROUP BY doc_id
)
SELECT doc_id, round(raw, 4) AS score
FROM scored ORDER BY raw DESC, doc_id LIMIT {_BM25_K}
"""


# ===========================================================================
# batch 40 — incremental batch-vs-corpus dedup (the production ingest
# shape: new batch checked against a materialized dedup_index of the
# existing corpus, never corpus×corpus). old = even neardup docs; new = the
# odd near-dup variants plus re-labeled exact copies of every 10th old doc.
# This row classifies against the HASHED index (xxhash64 shingle arrays),
# dedup_incremental_indexed below against the raw-shingle one: one oracle,
# both index formats.
# ===========================================================================
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _sql_ctes(spark, sf_dir, _INCR_SPLIT_SQL, "old", "new")
    # the classifier reads the index three times (hashes, buckets,
    # shingles): fork it so the lazy index is derived once
    index = fork(dedup_index(old, "doc_id", "payload", hashed=True))
    return dedup_incremental_indexed(
        new, index, "doc_id", "payload", threshold=0.2, hashed=True
    )


_INCR_SPLIT_SQL = f"""corpus AS ({NEARDUP_SQL}),
old AS (SELECT doc_id, payload FROM corpus WHERE doc_id % 2 = 0),
new AS (
  SELECT doc_id, payload FROM corpus WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 10000, payload FROM old WHERE doc_id % 10 = 0
)"""


ORACLE_DEDUP_INCR = f"""
WITH {_INCR_SPLIT_SQL},
oh AS (
  SELECT md5(payload) AS h, min(doc_id) AS exact_old_id FROM old GROUP BY 1
),
shn AS (
  SELECT doc_id, {_SHINGLE_SQL} AS shingles
  FROM (SELECT doc_id, string_split(payload, ' ') AS w FROM new)
),
sho AS (
  SELECT doc_id, {_SHINGLE_SQL} AS shingles
  FROM (SELECT doc_id, string_split(payload, ' ') AS w FROM old)
),
sign AS (SELECT doc_id, {_minhash_cols_sql(8)} FROM shn),
sigo AS (SELECT doc_id, {_minhash_cols_sql(8)} FROM sho),
bn AS (
  SELECT doc_id AS new_id, 0 AS band,
         md5(concat_ws('|', m0, m1, m2, m3)) AS bucket FROM sign
  UNION ALL
  SELECT doc_id, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sign
),
bo AS (
  SELECT doc_id AS old_id, 0 AS band,
         md5(concat_ws('|', m0, m1, m2, m3)) AS bucket FROM sigo
  UNION ALL
  SELECT doc_id, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sigo
),
cand AS (
  SELECT DISTINCT a.new_id, b.old_id
  FROM bn a JOIN bo b ON a.band = b.band AND a.bucket = b.bucket
),
near AS (
  SELECT c.new_id AS doc_id, min(c.old_id) AS near_old_id
  FROM cand c
  JOIN shn ON shn.doc_id = c.new_id
  JOIN sho ON sho.doc_id = c.old_id
  WHERE len(list_intersect(shn.shingles, sho.shingles))
        / (len(shn.shingles) + len(sho.shingles)
           - len(list_intersect(shn.shingles, sho.shingles))) >= 0.2
  GROUP BY 1
)
SELECT n.doc_id,
       CASE WHEN oh.exact_old_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.near_old_id IS NOT NULL THEN 'near_dup'
            ELSE 'novel' END AS status,
       coalesce(oh.exact_old_id, nr.near_old_id)::BIGINT AS matched_old_id
FROM new n
LEFT JOIN oh ON oh.h = md5(n.payload)
LEFT JOIN near nr ON nr.doc_id = n.doc_id
"""


# --- raw-shingle index: the same inputs and the same ORACLE as
# dedup_incremental, so both index formats must classify identically.
def q_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _sql_ctes(spark, sf_dir, _INCR_SPLIT_SQL, "old", "new")
    index = dedup_index(old, "doc_id", "payload")
    return dedup_incremental_indexed(
        new, index, "doc_id", "payload", threshold=0.2
    )


# ===========================================================================
# batch 41 — corpus snapshot diff (incremental-reprocessing audit): old =
# documents; new = deterministic perturbation (every 7th changed, every
# 11th dropped, shadow ids added) built identically on both engines
# ===========================================================================
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    new = (
        docs.where(F.col("doc_id") % 11 != 0)
        .select("doc_id", F.expr(_DIFF_NEW_TEXT).alias("text"))
        .unionByName(
            docs.where(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
    )
    return corpus_diff(docs, new, "doc_id", "text")


_DIFF_NEW_TEXT = "CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END"

ORACLE_CORPUS_DIFF = f"""
WITH old AS (
  SELECT doc_id::BIGINT AS doc_id, md5(text) AS h FROM documents
),
new AS (
  SELECT doc_id::BIGINT AS doc_id,
         md5({_DIFF_NEW_TEXT}) AS h
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT (doc_id + 100000)::BIGINT, md5(text)
  FROM documents WHERE doc_id % 13 = 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""


# ===========================================================================
# batch 42 — SimHash Hamming near-dup pairs (Manku et al. 2007 pigeonhole
# banding: chunks > max_hamming ⇒ 100% recall by construction). The oracle
# is deliberately BRUTE-FORCE all-pairs — matching it exactly proves the
# banded path misses nothing.
# ===========================================================================
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return simhash_hamming_pairs(
        docs, "doc_id", "text", bits=32, max_hamming=3, chunks=4
    )


ORACLE_SIMHASH_HAMMING = f"""
WITH fp AS (
  SELECT doc_id::BIGINT AS doc_id,
         ({simhash_oracle_sql('text', 32)})::BIGINT AS f
  FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       bit_count(xor(a.f, b.f))::INT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= 3
"""


# ===========================================================================
# batch 43 — corpus data profile (the pre-curation sanity pass): one
# aggregate row with exact distribution stats; Spark percentile() and
# DuckDB quantile_cont share the same linear-interpolation definition
# ===========================================================================
def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return profile_corpus(docs, "doc_id", "text")


ORACLE_PROFILE = """
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN text IS NULL THEN NULL
              ELSE len(list_filter(
                     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     w -> w <> '')) END AS nt
  FROM documents
)
SELECT count(*)::BIGINT AS n_docs,
       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       sum(CASE WHEN text IS NOT NULL AND trim(text) = '' THEN 1
                ELSE 0 END)::BIGINT AS n_empty,
       count(DISTINCT md5(text))::BIGINT AS n_distinct,
       sum(nt)::BIGINT AS total_tokens,
       min(nt)::BIGINT AS min_tokens,
       max(nt)::BIGINT AS max_tokens,
       quantile_cont(nt, 0.25)::DOUBLE AS p25_tokens,
       quantile_cont(nt, 0.5)::DOUBLE AS p50_tokens,
       quantile_cont(nt, 0.9)::DOUBLE AS p90_tokens,
       ((20000 * sum(nt) + count(nt)) // (2 * count(nt))) / 10000.0
         AS avg_tokens
FROM base
"""


# ===========================================================================
# batch 44 — training-set mechanics: deterministic 3-way split and
# curriculum sharding by LM difficulty (broadcast percentile boundaries +
# row-local assignment — never a global-sort ntile)
# ===========================================================================
def q_curate_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return train_val_test_split(docs, "doc_id")


ORACLE_SPLIT = """
SELECT doc_id::BIGINT AS doc_id,
       CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         ('0x' || substring(md5('split|' || doc_id), 1, 4))::BIGINT
           / 65536.0 AS u
  FROM documents
)
"""


def q_curate_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    scored = lm_quality_score(docs, "doc_id", "text", vocab_size=512)
    return curriculum_shards(scored, "doc_id", "nll", k=4).select(
        "doc_id", "nll", "shard"
    )


ORACLE_CURRICULUM = f"""
WITH scored AS ({ORACLE_QUALITY_LM_NLL}),
b AS (
  SELECT quantile_cont(nll, 0.25) AS q1,
         quantile_cont(nll, 0.5) AS q2,
         quantile_cont(nll, 0.75) AS q3
  FROM scored
)
SELECT s.doc_id, s.nll,
       (1 + (s.nll > b.q1)::INT + (s.nll > b.q2)::INT
          + (s.nll > b.q3)::INT)::INT AS shard
FROM scored s, b
"""


# ===========================================================================
# batch 45 — curation assembly v2: the continuation layers composed as ONE
# lineage query — substring-contamination gate → temperature mixture →
# deterministic train split → sequence packing; composite oracle rebuilt
# from the per-stage oracles
# ===========================================================================
def q_curate_assemble_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang", "text"
    )
    frac = duplicated_token_fraction(
        docs, "doc_id", "text", k=_SUBSTR_K, min_count=2
    ).select("doc_id", "dup_fraction")
    kept = docs.join(frac, "doc_id").where(F.col("dup_fraction") <= 0.3)
    mixed = temperature_mixture_sample(
        kept, "doc_id", "lang", tau=_MIX_TAU
    ).where(F.col("sampled"))
    # fork point (the _chain_corpus rule): train feeds
    # pack_segments AND the lang join-back, and its lineage is the whole
    # k-gram dup-fraction pipeline — measured ~0.7 s re-derived per branch
    train = fork(
        train_val_test_split(mixed, "doc_id").where(F.col("split") == "train")
    )
    packed = pack_segments(
        train, "doc_id", "text", budget=PACK_BUDGET, n_shards=PACK_SHARDS
    )
    return packed.join(
        train.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", "seq_id", "tok_start", "tok_end",
             "offset_in_seq")


ORACLE_ASSEMBLE_V2 = f"""
WITH frac AS ({ORACLE_SUBSTR_FRACTION}),
kept AS (
  SELECT d.doc_id::BIGINT AS doc_id, d.lang, d.text
  FROM documents d JOIN frac f ON f.doc_id = d.doc_id
  WHERE f.dup_fraction <= 0.3
),
c AS (SELECT lang, count(*) AS n_d FROM kept GROUP BY lang),
m AS (SELECT min(n_d) AS n_min FROM c),
r AS (
  SELECT lang, round(pow(m.n_min * 1.0 / c.n_d, {1.0 - _MIX_TAU}), 6)
           AS rate
  FROM c, m
),
mixed AS (
  SELECT k.doc_id, k.lang, k.text
  FROM kept k JOIN r ON r.lang IS NOT DISTINCT FROM k.lang
  WHERE (('0x' || substring(md5(concat_ws('|', k.lang, k.doc_id)), 1, 4))
           ::BIGINT / 65536.0) < r.rate
),
tr AS (
  SELECT doc_id, lang, text FROM mixed
  WHERE ('0x' || substring(md5('split|' || doc_id), 1, 4))::BIGINT
          / 65536.0 < 0.8
),
toks AS (
  SELECT doc_id, lang, (doc_id % {PACK_SHARDS})::INT AS shard,
         len(string_split(text, ' '))::BIGINT AS tokens
  FROM tr
),
{_segments_sql(', lang')}
"""


# ===========================================================================
# batch 46 — product analytics staples: ordered funnel (single-shuffle
# per-user fold, vs k self-joins) and weekly cohort retention
# ===========================================================================
_FUNNEL_STEPS = ["signup", "click", "purchase"]


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "event_type"
    )
    return funnel(ev, "user_id", "ts", "event_type", _FUNNEL_STEPS)


ORACLE_FUNNEL = """
WITH e AS (
  SELECT user_id::BIGINT AS user_id, floor(epoch(ts))::BIGINT AS t,
         event_type AS y
  FROM events
),
s0 AS (SELECT user_id, min(t) AS t0 FROM e WHERE y = 'signup'
       GROUP BY user_id),
s1 AS (SELECT e.user_id, min(e.t) AS t1 FROM e JOIN s0 USING (user_id)
       WHERE e.y = 'click' AND e.t >= s0.t0 GROUP BY e.user_id),
s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE e.y = 'purchase' AND e.t >= s1.t1 GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM e)
SELECT u.user_id, s0.t0 AS t_signup, s1.t1 AS t_click,
       s2.t2 AS t_purchase,
       ((s0.t0 IS NOT NULL)::INT + (s1.t1 IS NOT NULL)::INT
          + (s2.t2 IS NOT NULL)::INT)::INT AS reached
FROM u LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
       LEFT JOIN s2 USING (user_id)
"""


def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "event_type"
    )
    first_signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        activity.join(first_signup, "user_id")
        .where(F.col("activity_week") >= F.col("cohort_week"))
        .groupBy("cohort_week", "activity_week")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


ORACLE_RETENTION = """
WITH fs AS (
  SELECT user_id::BIGINT AS user_id,
         date_trunc('week', min(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
act AS (
  SELECT DISTINCT user_id::BIGINT AS user_id,
         date_trunc('week', ts) AS activity_week
  FROM events
)
SELECT f.cohort_week, a.activity_week,
       count(DISTINCT a.user_id)::BIGINT AS n_users
FROM act a JOIN fs f USING (user_id)
WHERE a.activity_week >= f.cohort_week
GROUP BY 1, 2
"""


# ===========================================================================
# batch 47 — graph kernels over the near-dup edge set (operators/graph.py):
# oriented-wedge triangle counting and fixed-iteration PageRank, both as
# pure joins/aggregates with exact oracles over the LSH pair graph
# ===========================================================================
def _neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _sql(spark, sf_dir, NEARDUP_SQL)
    return lsh_candidate_pairs(corpus, "doc_id", "payload", threshold=0.2)


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_count(_neardup_edges(spark, sf_dir))


ORACLE_TRIANGLES = f"""
WITH pairs AS ({ORACLE_MINHASH_LSH}),
e AS (
  SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v
  FROM pairs WHERE a_id <> b_id
)
SELECT count(*)::BIGINT AS n_triangles
FROM e e1
JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
"""


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(_neardup_edges(spark, sf_dir), iters=3).select(
        F.col("id").cast("long").alias("id"), "rank"
    )


def _pr_round_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT nodes.id,
         (0.15 / n.n + 0.85 * coalesce(s.in_sum, 0.0)) AS rank
  FROM nodes
  LEFT JOIN (
    SELECT sym.dst AS id2, sum({prev}.rank / deg.deg) AS in_sum
    FROM {prev}
    JOIN sym ON sym.src = {prev}.id
    JOIN deg ON deg.src = {prev}.id
    GROUP BY sym.dst
  ) s ON s.id2 = nodes.id, n
)"""


ORACLE_PAGERANK = f"""
WITH pairs AS ({ORACLE_MINHASH_LSH}),
sym AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM sym),
n AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
r0 AS (SELECT id, 1.0 / n.n AS rank FROM nodes, n),
{_pr_round_sql('r0', 'r1')},
{_pr_round_sql('r1', 'r2')},
{_pr_round_sql('r2', 'r3')}
SELECT id::BIGINT AS id, round(rank, 8) AS rank FROM r3
"""


# ===========================================================================
# batch 48 — weighted sampling without replacement (Efraimidis-Spirakis
# exponential race, deterministic md5 uniforms, distributed partial top-k)
# ===========================================================================
_ES_K = 50


def q_curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.col("text"), " ")).cast("double").alias("tokens"),
    )
    return weighted_sample_k(docs, "doc_id", "tokens", k=_ES_K)


ORACLE_WEIGHTED_SAMPLE = f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(string_split(text, ' '))::DOUBLE AS tokens,
         -ln((('0x' || substring(md5('es|' || doc_id), 1, 8))::BIGINT + 1.0)
             / 4294967296.0)
           / len(string_split(text, ' ')) AS k
  FROM documents
)
SELECT doc_id, tokens AS weight, round(k, 8) AS es_key
FROM t ORDER BY k, doc_id LIMIT {_ES_K}
"""


# ===========================================================================
# batch 49 — resample + forward fill (gap filling to a fixed step): the
# scaffold explodes row-locally per key span; the fill is the asof
# union-tag window; event_id breaks epoch-second ties (they exist at
# sf0.1 — without the tiebreak the fill is engine-nondeterministic)
# ===========================================================================
_RESAMPLE_STEP = 21600  # 6-hour buckets


def q_events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        "value",
        F.col("event_id").cast("long").alias("event_id"),
    )
    out = resample_ffill(
        ev, ["user_id"], "ts", "value", _RESAMPLE_STEP,
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id", "bucket", F.round("value_ffill", 4).alias("value_ffill")
    )


ORACLE_RESAMPLE = f"""
WITH e AS (
  SELECT user_id::BIGINT AS user_id,
         floor(epoch(ts))::BIGINT AS t,
         event_id::BIGINT AS eid,
         value
  FROM events
),
obs AS (
  SELECT user_id, t - (t % {_RESAMPLE_STEP}) AS bucket, t, eid, value,
         0 AS side
  FROM e
),
span AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
  FROM obs GROUP BY user_id
),
scaffold AS (
  SELECT user_id, unnest(range(lo, hi + 1, {_RESAMPLE_STEP})) AS bucket,
         NULL::BIGINT AS t, NULL::BIGINT AS eid,
         NULL::DOUBLE AS value, 1 AS side
  FROM span
),
u AS (
  SELECT user_id, bucket,
         coalesce(t, bucket + {_RESAMPLE_STEP} - 1) AS t,
         coalesce(eid, 9223372036854775807) AS eid,
         value, side
  FROM (SELECT * FROM obs UNION ALL SELECT * FROM scaffold)
),
filled AS (
  SELECT user_id, bucket, side,
         last_value(value IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, eid, side
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
  FROM u
)
SELECT user_id, bucket, round(f, 4) AS value_ffill
FROM filled WHERE side = 1
"""


# ===========================================================================
# batch 50 — unicode script profile (multilingual routing signal; pure
# length arithmetic over regexp_replace on both engines) and vocabulary
# drift between snapshots (Monroe-style smoothed log-odds movers)
# ===========================================================================
_SCRIPT_CASE = (
    "CASE doc_id % 4 WHEN 0 THEN text || ' привет' "
    "WHEN 1 THEN text || ' 你好世界' WHEN 2 THEN text || ' مرحبا' "
    "WHEN 3 THEN text || ' 안녕하세요' END"
)


def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(_SCRIPT_CASE).alias("text"),
    )
    return script_profile(docs, "doc_id", "text")


ORACLE_SCRIPT_PROFILE = f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id, {_SCRIPT_CASE} AS t
  FROM documents
),
c AS (
  SELECT doc_id,
       (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')))::INT AS latin,
       (length(t) - length(regexp_replace(t, '[0-9]', '', 'g')))::INT AS digit,
       (length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g')))::INT AS cyrillic,
       (length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g')))::INT AS cjk,
       (length(t) - length(regexp_replace(t, '[\u0600-ۿ]', '', 'g')))::INT AS arabic,
       (length(t) - length(regexp_replace(t, '[가-\ud7af]', '', 'g')))::INT AS hangul,
       (length(t)
          - ((length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))) + (length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))) + (length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g'))) + (length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g'))) + (length(t) - length(regexp_replace(t, '[\u0600-ۿ]', '', 'g'))) + (length(t) - length(regexp_replace(t, '[가-\ud7af]', '', 'g'))))
          - (length(t) - length(regexp_replace(t, '[\\s]', '', 'g'))))::INT
         AS other
  FROM t
)
SELECT doc_id, latin, digit, cyrillic, cjk, arabic, hangul, other,
       CASE WHEN latin >= greatest(digit, greatest(cyrillic, greatest(cjk, greatest(arabic, greatest(hangul, other))))) THEN 'latin' ELSE CASE WHEN digit >= greatest(cyrillic, greatest(cjk, greatest(arabic, greatest(hangul, other)))) THEN 'digit' ELSE CASE WHEN cyrillic >= greatest(cjk, greatest(arabic, greatest(hangul, other))) THEN 'cyrillic' ELSE CASE WHEN cjk >= greatest(arabic, greatest(hangul, other)) THEN 'cjk' ELSE CASE WHEN arabic >= greatest(hangul, other) THEN 'arabic' ELSE CASE WHEN hangul >= other THEN 'hangul' ELSE 'other' END END END END END END AS dominant
FROM c
"""


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    new = docs.where(F.col("doc_id") % 2 == 0).select(
        F.expr(_DRIFT_NEW_TEXT).alias("text")
    )
    return vocab_drift(docs, new, "text", k=20)


_DRIFT_NEW_TEXT = """text || CASE WHEN doc_id % 5 = 0 THEN ' driftterm driftterm'
                        ELSE '' END"""

ORACLE_VOCAB_DRIFT = f"""
WITH old_t AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
           '[^a-z0-9]+'), w -> w <> '')) AS term
  FROM documents
),
new_t AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(
           {_DRIFT_NEW_TEXT}),
           '[^a-z0-9]+'), w -> w <> '')) AS term
  FROM documents WHERE doc_id % 2 = 0
),
co AS (SELECT term, count(*)::BIGINT AS c_old FROM old_t GROUP BY term),
cn AS (SELECT term, count(*)::BIGINT AS c_new FROM new_t GROUP BY term),
no AS (SELECT sum(c_old)::DOUBLE AS n_old FROM co),
nn AS (SELECT sum(c_new)::DOUBLE AS n_new FROM cn),
j AS (
  SELECT coalesce(co.term, cn.term) AS term,
         coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
  FROM co FULL OUTER JOIN cn ON co.term = cn.term
),
s AS (
  SELECT j.term, j.c_old, j.c_new,
         ln((j.c_new + 0.5) / (nn.n_new - j.c_new + 0.5))
           - ln((j.c_old + 0.5) / (no.n_old - j.c_old + 0.5)) AS lo
  FROM j, no, nn
  WHERE j.c_old + j.c_new >= 5
)
SELECT term, c_old, c_new, round(lo, 6) AS log_odds
FROM s ORDER BY abs(lo) DESC, term LIMIT 20
"""


# ===========================================================================
# batch 51 — REAL subword tokenization (greedy longest-match over a
# corpus-derived vocabulary): Spark encodes per distinct word in an
# Arrow-vectorized UDF with the bounded vocab in the closure; the oracle
# replays the SAME greedy walk as a DuckDB recursive CTE — a
# cross-paradigm differential of the exact tokenization
# ===========================================================================
_SW_VOCAB_K = 64


def q_text_subword_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return subword_encode_counts(
        docs, "doc_id", "text", vocab_k=_SW_VOCAB_K, max_piece=6
    )


ORACLE_SUBWORD = f"""
WITH RECURSIVE t AS (
  SELECT doc_id::BIGINT AS doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), w -> w <> '')) AS word
  FROM documents
),
occ AS (SELECT word, count(*)::BIGINT AS occ FROM t GROUP BY word),
subs AS (
  SELECT substr(o.word, s.i, l.L) AS piece, o.occ
  FROM occ o,
       unnest(range(2, 7)) AS l(L),
       unnest(range(1, greatest(length(o.word) - l.L + 2, 1))) AS s(i)
  WHERE length(o.word) >= l.L
),
multi AS (
  SELECT piece FROM (
    SELECT piece, sum(occ) AS c FROM subs GROUP BY piece
  ) ORDER BY c DESC, piece LIMIT {_SW_VOCAB_K}
),
chars AS (
  SELECT DISTINCT substr(o.word, p.i, 1) AS piece
  FROM occ o, unnest(range(1, length(o.word) + 1)) AS p(i)
),
vocab AS (SELECT piece FROM multi UNION SELECT piece FROM chars),
dw AS (SELECT word FROM occ),
pb AS (
  SELECT d.word, p.pos, max(length(v.piece)) AS step
  FROM dw d,
       unnest(range(0, length(d.word))) AS p(pos),
       vocab v
  WHERE substr(d.word, p.pos + 1, length(v.piece)) = v.piece
  GROUP BY d.word, p.pos
),
walk AS (
  SELECT word, 0 AS pos, 0 AS n FROM dw
  UNION ALL
  SELECT w.word, w.pos + pb.step, w.n + 1
  FROM walk w JOIN pb ON pb.word = w.word AND pb.pos = w.pos
  WHERE w.pos < length(w.word)
),
done AS (SELECT word, n FROM walk WHERE pos = length(word))
SELECT t.doc_id, count(*)::BIGINT AS n_words,
       sum(d.n)::BIGINT AS n_subwords
FROM t JOIN done d USING (word)
GROUP BY t.doc_id
"""


# ===========================================================================
# batch 52 — TOC match-back (portable half of E4,
# document_enrichment.py:685-760): sequential greedy assignment of TOC
# entries onto candidate lines, highest-similarity-first with a 0.5
# threshold. TOC entries and candidate lines are synthesized in-plan from
# the word-soup documents (construction shared verbatim with the oracle);
# similarity = levenshtein ratio (built-in on BOTH engines), threshold
# evaluated in integer arithmetic, allocation unrolled one round per TOC
# rank on both sides. Output is all-integer + string — no float columns.
# ===========================================================================
_TOC_RANKS = 4
_TOC_CANDS = 10


def q_toc_match_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        _docs(spark, sf_dir)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != ""
            ).alias("w"),
        )
        .where(F.size("w") >= 12)
    )
    ranks = F.array([F.lit(i) for i in range(1, _TOC_RANKS + 1)])
    toc = (
        words.select("doc_id", "w", F.explode(ranks).alias("toc_i"))
        .withColumn(
            "toc_title",
            F.concat(
                F.element_at("w", F.col("toc_i") * 2),
                F.lit(" "),
                F.element_at("w", F.col("toc_i") * 2 + 1),
            ),
        )
        .withColumn(
            "toc_full",
            F.concat(F.col("toc_i").cast("string"), F.lit(". "),
                     F.col("toc_title")),
        )
        .drop("w")
    )
    cands = F.array([F.lit(j) for j in range(1, _TOC_CANDS + 1)])
    candidates = (
        words.select("doc_id", "w", F.explode(cands).alias("cand_j"))
        .withColumn(
            "base",
            F.concat(
                F.element_at("w", F.col("cand_j")),
                F.lit(" "),
                F.element_at("w", F.col("cand_j") + 1),
            ),
        )
        .withColumn(
            "cand_text",
            F.when(F.col("cand_j") % 3 == 0, F.col("base")).otherwise(
                F.concat(F.col("base"), F.lit(" "),
                         F.element_at("w", F.col("cand_j") + 2))
            ),
        )
        .select("doc_id", "cand_j", "cand_text")
    )
    return toc_match_back(toc, candidates, _TOC_RANKS).orderBy(
        "doc_id", "toc_i"
    )


def _toc_oracle() -> str:
    rounds = []
    prev_names = []
    for i in range(1, _TOC_RANKS + 1):
        excl = ""
        if prev_names:
            excl = " AND " + " AND ".join(
                f"NOT EXISTS (SELECT 1 FROM {p} x WHERE x.doc_id = s.doc_id"
                f" AND x.cand_j = s.cand_j)"
                for p in prev_names
            )
        rounds.append(
            f"""r{i} AS (
  SELECT s.* FROM scored s WHERE s.toc_i = {i}{excl}
  QUALIFY row_number() OVER (
    PARTITION BY s.doc_id ORDER BY s.sim DESC, s.cand_j ASC) = 1
)"""
        )
        prev_names.append(f"r{i}")
    union = "\nUNION ALL\n".join(
        f"SELECT doc_id, toc_i, cand_j, lev_full, lev_title, cand_text FROM {p}"
        for p in prev_names
    )
    return f"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS w
  FROM documents
  WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                        x -> x <> '')) >= 12
),
toc AS (
  SELECT doc_id, i::INT AS toc_i,
         w[2*i] || ' ' || w[2*i+1] AS toc_title,
         i::VARCHAR || '. ' || w[2*i] || ' ' || w[2*i+1] AS toc_full
  FROM w, unnest(range(1, {_TOC_RANKS + 1})) AS t(i)
),
cand AS (
  SELECT doc_id, j::INT AS cand_j,
         CASE WHEN j % 3 = 0 THEN w[j] || ' ' || w[j+1]
              ELSE w[j] || ' ' || w[j+1] || ' ' || w[j+2] END AS cand_text
  FROM w, unnest(range(1, {_TOC_CANDS + 1})) AS t(j)
),
scored AS (
  SELECT t.doc_id, t.toc_i, c.cand_j,
         levenshtein(t.toc_full, c.cand_text)::INT AS lev_full,
         levenshtein(t.toc_title, c.cand_text)::INT AS lev_title,
         c.cand_text,
         greatest(
           1.0 - levenshtein(t.toc_full, c.cand_text)
                 / greatest(length(t.toc_full), length(c.cand_text), 1)::DOUBLE,
           1.0 - levenshtein(t.toc_title, c.cand_text)
                 / greatest(length(t.toc_title), length(c.cand_text), 1)::DOUBLE
         ) AS sim
  FROM toc t JOIN cand c USING (doc_id)
  WHERE 2 * levenshtein(t.toc_full, c.cand_text)
          <= greatest(length(t.toc_full), length(c.cand_text))
     OR 2 * levenshtein(t.toc_title, c.cand_text)
          <= greatest(length(t.toc_title), length(c.cand_text))
),
{",".join(rounds)}
{union}
ORDER BY doc_id, toc_i
"""


# ===========================================================================
# batch 49 — PRODUCTION LSH path: hot-bucket cap (round-6 verdict #4).
# The star-cap mode (max_bucket) is what curate_ingest runs for 100 TB
# but every contract query ran max_bucket=None; this query plants a
# deterministic 40-member near-identical template family (md5-derived words
# — NEVER modular selection, see CLAUDE.md degenerate-corpus warning) so an
# oversized (band, bucket) group genuinely exists, and the oracle computes
# the star expansion in SQL (hub = min id per oversized bucket).
# ===========================================================================
_CAP_FAMILY = 40          # family ids 0..39: shared 50-word template + 1
_CAP_MAX_BUCKET = 8       # distinguishing word -> bucket of ~34 >> cap

# one changed word in 51 => 1 differing trigram in 49: P(identical full
# 8-hash signature) = (48/49)^8 ~ 0.85, so most of the family collides
# into ONE bucket per band — the oversized shape the cap exists for.
_CAP_FAMILY_PAYLOAD = (
    "concat_ws(' ', "
    + ", ".join(f"md5('t|{i}')" for i in range(50))
    + ", md5('d|' || cast(doc_id AS STRING)))"
)

_CAP_PAYLOAD_CASE = (
    f"CASE WHEN doc_id < {_CAP_FAMILY} THEN {_CAP_FAMILY_PAYLOAD} "
    "WHEN doc_id % 2 = 1 "
    "THEN p_text || ' extra tail words appended here' "
    "ELSE text END"
)

CAPPED_CORPUS_SQL = f"""
SELECT doc_id, {_CAP_PAYLOAD_CASE} AS payload FROM (
  SELECT d.doc_id AS doc_id, d.text AS text, p.text AS p_text
  FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1
  WHERE d.doc_id < 200
)
"""


def q_dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _sql(spark, sf_dir, CAPPED_CORPUS_SQL)
    return lsh_candidate_pairs(
        corpus, "doc_id", "payload", threshold=0.2,
        max_bucket=_CAP_MAX_BUCKET,
    )


ORACLE_MINHASH_LSH_CAPPED = f"""
WITH corpus AS ({CAPPED_CORPUS_SQL}),
{_lsh_buckets_sql(' WHERE m0 IS NOT NULL')},
sized AS (
  SELECT b.id, b.band, b.bucket, s._m, s._hub
  FROM buckets b JOIN (
    SELECT band, bucket, count(*) AS _m, min(id) AS _hub
    FROM buckets GROUP BY band, bucket
  ) s USING (band, bucket)
),
cands AS (
  SELECT DISTINCT a_id, b_id FROM (
    -- small buckets: exact all-pairs, as in the uncapped oracle
    SELECT a.id AS a_id, b.id AS b_id
    FROM sized a JOIN sized b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    WHERE a._m <= {_CAP_MAX_BUCKET}
    UNION ALL
    -- oversized buckets: min-id STAR (hub pairs with every member)
    SELECT _hub AS a_id, id AS b_id
    FROM sized WHERE _m > {_CAP_MAX_BUCKET} AND id <> _hub
  )
)
{_LSH_PAIRS_SQL}
"""


# ===========================================================================
# batch 50 — composite INDEXED INGEST loop (round-6 verdict #3): standing
# dedup_index (hashed=True — the at-scale setting) + TWO sequential
# incremental batches, with the novel rows of batch 1 appended to the index
# before batch 2 classifies (append-only maintenance). Decisive rows: batch-2
# docs that duplicate batch-1 NOVELS must classify exact_dup with
# matched_old_id pointing at the batch-1 id — provable only if the index
# append between batches actually works. Oracle re-derives both rounds of
# classification from the text in SQL.
# ===========================================================================
# (corpus, b1, b2) for the incremental-ingest queries, shared by both
# ingest-protocol oracles and run as-is on Spark through _sql_ctes.
# b1: %4==0 exact dup of corpus, %4==1 near dup of corpus, else novel.
# b2: %4==0 duplicates a b1 novel (id-38 is %4==2 -> b1's novel branch),
# %4==1 near dup of corpus, else novel.
_INGEST_TABLES_SQL = """
docs AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
corpus AS (SELECT doc_id, text AS payload FROM docs WHERE doc_id < 120),
b1 AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 4 = 0 THEN s.text
              WHEN d.doc_id % 4 = 1
              THEN s.text || ' extra tail words appended here'
              ELSE d.text END AS payload
  FROM docs d LEFT JOIN docs s ON s.doc_id = d.doc_id - 120
  WHERE d.doc_id >= 120 AND d.doc_id < 160
),
b2 AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 4 = 0 THEN s2.text
              WHEN d.doc_id % 4 = 1
              THEN s.text || ' extra tail words appended here'
              ELSE d.text END AS payload
  FROM docs d
  LEFT JOIN docs s ON s.doc_id = d.doc_id - 160
  LEFT JOIN docs s2 ON s2.doc_id = d.doc_id - 38
  WHERE d.doc_id >= 160 AND d.doc_id < 200
)"""


def q_curate_ingest_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, batch1, batch2 = _sql_ctes(
        spark, sf_dir, _INGEST_TABLES_SQL, "corpus", "b1", "b2"
    )
    idx = dedup_index(corpus, "doc_id", "payload", hashed=True)
    r1 = dedup_incremental_indexed(
        batch1, idx, "doc_id", "payload", threshold=0.2, hashed=True
    )
    novel1 = batch1.join(
        r1.where("status = 'novel'").select("doc_id"), "doc_id", "semi"
    )
    idx2 = idx.unionByName(
        dedup_index(novel1, "doc_id", "payload", hashed=True)
    )
    r2 = dedup_incremental_indexed(
        batch2, idx2, "doc_id", "payload", threshold=0.2, hashed=True
    )
    return r1.withColumn("batch", F.lit(1)).unionByName(
        r2.withColumn("batch", F.lit(2))
    )


def _incr_classify_sql(new: str, old: str, out: str) -> str:
    """CTE block classifying {new}(doc_id, payload) against {old}(doc_id,
    payload): {out}(doc_id, status, matched_old_id) — the SQL twin of
    dedup_incremental_indexed (defaults k=8, bands=2, threshold=0.2)."""
    return f"""
oh_{out} AS (
  SELECT md5(payload) AS h, min(doc_id) AS exact_old_id FROM {old} GROUP BY 1
),
shn_{out} AS (
  SELECT doc_id, {_SHINGLE_SQL} AS shingles
  FROM (SELECT doc_id, string_split(payload, ' ') AS w FROM {new})
),
sho_{out} AS (
  SELECT doc_id, {_SHINGLE_SQL} AS shingles
  FROM (SELECT doc_id, string_split(payload, ' ') AS w FROM {old})
),
sign_{out} AS (SELECT doc_id, {_minhash_cols_sql(8)} FROM shn_{out}),
sigo_{out} AS (SELECT doc_id, {_minhash_cols_sql(8)} FROM sho_{out}),
bn_{out} AS (
  SELECT doc_id AS new_id, 0 AS band,
         md5(concat_ws('|', m0, m1, m2, m3)) AS bucket FROM sign_{out}
  UNION ALL
  SELECT doc_id, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sign_{out}
),
bo_{out} AS (
  SELECT doc_id AS old_id, 0 AS band,
         md5(concat_ws('|', m0, m1, m2, m3)) AS bucket FROM sigo_{out}
  UNION ALL
  SELECT doc_id, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sigo_{out}
),
cand_{out} AS (
  SELECT DISTINCT a.new_id, b.old_id
  FROM bn_{out} a JOIN bo_{out} b ON a.band = b.band AND a.bucket = b.bucket
),
near_{out} AS (
  SELECT c.new_id AS doc_id, min(c.old_id) AS near_old_id
  FROM cand_{out} c
  JOIN shn_{out} sn ON sn.doc_id = c.new_id
  JOIN sho_{out} so ON so.doc_id = c.old_id
  WHERE len(list_intersect(sn.shingles, so.shingles))
        / (len(sn.shingles) + len(so.shingles)
           - len(list_intersect(sn.shingles, so.shingles))) >= 0.2
  GROUP BY 1
),
{out} AS (
  SELECT n.doc_id,
         CASE WHEN oh.exact_old_id IS NOT NULL THEN 'exact_dup'
              WHEN nr.near_old_id IS NOT NULL THEN 'near_dup'
              ELSE 'novel' END AS status,
         coalesce(oh.exact_old_id, nr.near_old_id)::BIGINT AS matched_old_id
  FROM {new} n
  LEFT JOIN oh_{out} oh ON oh.h = md5(n.payload)
  LEFT JOIN near_{out} nr ON nr.doc_id = n.doc_id
)"""


ORACLE_CURATE_INGEST = f"""
WITH {_INGEST_TABLES_SQL},
{_incr_classify_sql('b1', 'corpus', 'cls1')},
old2 AS (
  SELECT * FROM corpus
  UNION ALL
  SELECT b.doc_id, b.payload FROM b1 b
  JOIN cls1 ON cls1.doc_id = b.doc_id AND cls1.status = 'novel'
),
{_incr_classify_sql('b2', 'old2', 'cls2')}
SELECT doc_id, status, matched_old_id, 1 AS batch FROM cls1
UNION ALL
SELECT doc_id, status, matched_old_id, 2 AS batch FROM cls2
"""


# ===========================================================================
# batch 51 — STREAMING replay-guard semantics as a contract row (round-6
# verdict #7): indexed_dedup_processor's per-batch logic replayed as a
# deterministic batch sequence. The crash model: batch 1 ran to completion
# (its novels' index rows sit in the accepted state under batch_id=1) but
# the checkpoint didn't commit, so batch 1 REPLAYS. The replay's old side
# must be corpus index ∪ accepted index WHERE batch_id < 1 — built with the
# SAME guarded_accepted used by the production foreachBatch processor. If
# the guard broke, every batch-1 novel would classify exact_dup of ITSELF
# (its first-attempt accepted row), and the oracle — which encodes the
# guard in SQL over the text — would hash-mismatch.
# ===========================================================================
def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, batch0, batch1 = _sql_ctes(
        spark, sf_dir, _INGEST_TABLES_SQL, "corpus", "b1", "b2"
    )
    corpus_idx = dedup_index(corpus, "doc_id", "payload")
    cols = corpus_idx.columns

    def classify(batch, old):
        # the classifier reads its old side three times (hashes, buckets,
        # shingles); fork it, as the processor reads it from parquet
        return dedup_incremental_indexed(
            batch, fork(old), "doc_id", "payload", threshold=0.2
        )

    def accepted(batch, res, batch_id):
        novels = batch.join(
            res.where("status = 'novel'").select("doc_id"), "doc_id", "semi"
        )
        return dedup_index(novels, "doc_id", "payload").withColumn(
            "batch_id", F.lit(batch_id)
        )

    # batch 0 processes clean: accepted state gains its novels (batch_id 0)
    r0 = classify(batch0, corpus_idx)
    acc0 = accepted(batch0, r0, 0)

    # batch 1 FIRST ATTEMPT: old side = corpus ∪ guarded accepted (only
    # batch 0 rows exist yet); its novels land in accepted under batch_id 1
    r1_first = classify(
        batch1, corpus_idx.unionByName(guarded_accepted(acc0, 1, cols))
    )
    accepted_full = acc0.unionByName(accepted(batch1, r1_first, 1))

    # batch 1 REPLAY: the accepted state now CONTAINS the first attempt's
    # own rows — the guard must exclude exactly those
    r1_replay = classify(
        batch1,
        corpus_idx.unionByName(guarded_accepted(accepted_full, 1, cols)),
    )
    return r0.withColumn("batch", F.lit(0)).unionByName(
        r1_replay.withColumn("batch", F.lit(1))
    )


ORACLE_STREAM_REPLAY = f"""
WITH {_INGEST_TABLES_SQL},
{_incr_classify_sql('b1', 'corpus', 'cls0')},
acc0 AS (
  SELECT b.doc_id, b.payload, 0 AS batch_id FROM b1 b
  JOIN cls0 ON cls0.doc_id = b.doc_id AND cls0.status = 'novel'
),
old_first AS (
  SELECT doc_id, payload FROM corpus
  UNION ALL
  SELECT doc_id, payload FROM acc0 WHERE batch_id < 1
),
{_incr_classify_sql('b2', 'old_first', 'cls1_first')},
accepted_full AS (
  SELECT * FROM acc0
  UNION ALL
  SELECT b.doc_id, b.payload, 1 AS batch_id FROM b2 b
  JOIN cls1_first c ON c.doc_id = b.doc_id AND c.status = 'novel'
),
old_replay AS (
  SELECT doc_id, payload FROM corpus
  UNION ALL
  SELECT doc_id, payload FROM accepted_full WHERE batch_id < 1
),
{_incr_classify_sql('b2', 'old_replay', 'cls1_replay')}
SELECT doc_id, status, matched_old_id, 0 AS batch FROM cls0
UNION ALL
SELECT doc_id, status, matched_old_id, 1 AS batch FROM cls1_replay
"""


# ---------------------------------------------------------------------------
# registry: one (builder, oracle SQL) record per query
# ---------------------------------------------------------------------------
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "s1_content_sniff": (q_s1_content_sniff, ORACLE_S1),
    "s2_doc_hash_limits": (q_s2_doc_hash_limits, ORACLE_S2),
    "b1_html_extract": (q_b1_html_extract, ORACLE_B1),
    "b2_paragraphs": (q_b2_paragraphs, ORACLE_B2),
    "p1_text_quality": (q_p1_text_quality, ORACLE_P1),
    "p6_sanitize": (q_p6_sanitize, ORACLE_P6),
    "o1_compose_vectors": (q_o1_compose_vectors, ORACLE_O1),
    "o6_confidence_agg": (q_o6_confidence_agg, ORACLE_O6),
    "c1_heading_propagation": (q_c1_heading_propagation, ORACLE_C1),
    "c2_chunk_assignment": (q_c2_chunk_assignment, ORACLE_C2),
    "o3_interval_merge": (q_o3_interval_merge, ORACLE_O3),
    "events_sessionize": (q_events_sessionize, ORACLE_SESSIONIZE),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "dedup_minhash": (q_dedup_minhash, ORACLE_MINHASH),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, ORACLE_MINHASH_LSH),
    "dedup_simhash": (q_dedup_simhash, ORACLE_SIMHASH),
    "text_lang_id": (q_text_lang_id, ORACLE_TEXT_LANG_ID),
    "text_token_count": (q_text_token_count, ORACLE_TEXT_TOKEN_COUNT),
    "text_fingerprint": (q_text_fingerprint, ORACLE_TEXT_FINGERPRINT),
    "sim_cosine_scores": (q_sim_cosine_scores, ORACLE_SIM_COSINE),
    "sim_topk": (q_sim_topk, ORACLE_SIM_TOPK),
    "sim_ann_lsh": (q_sim_ann_lsh, ORACLE_SIM_ANN_LSH),
    "join_agg_revenue": (q_join_agg_revenue, ORACLE_JOIN_AGG),
    "events_tumbling": (q_events_tumbling, ORACLE_EVENTS_TUMBLING),
    "b1_html_density": (q_b1_html_density, ORACLE_B1_DENSITY),
    "events_topk_per_user": (q_events_topk_per_user, ORACLE_EVENTS_TOPK),
    "doc_json_roundtrip": (q_doc_json_roundtrip, ORACLE_B1),
    "r4_status_fallback": (q_r4_status_fallback, ORACLE_R4_STATUS),
    "c1_cross_turn_context": (q_c1_cross_turn_context, ORACLE_C1_CONTEXT),
    "pricing_summary": (q_pricing_summary, ORACLE_PRICING),
    "monthly_revenue": (q_monthly_revenue, ORACLE_MONTHLY_REVENUE),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, ORACLE_DEDUP_EMBEDDING),
    "sim_ivf_topk": (q_sim_ivf_topk, ORACLE_SIM_IVF),
    "o2_items_table": (q_o2_items_table, ORACLE_O2_ITEMS),
    "o7_markdown_export": (q_o7_markdown_export, ORACLE_O7_MD),
    "text_quality_profile": (q_text_quality_profile, ORACLE_TEXT_QUALITY_PROFILE),
    "b11_asciidoc_extract": (q_b11_asciidoc_extract, ORACLE_B11),
    "salted_user_stats": (q_salted_user_stats, ORACLE_SALTED),
    "text_repetition": (q_text_repetition, ORACLE_TEXT_REPETITION),
    "text_scrub": (q_text_scrub, ORACLE_TEXT_SCRUB),
    "o1_vector_meta_full": (q_o1_vector_meta_full, ORACLE_O1_FULL),
    "o3_bbox_merge_2d": (q_o3_bbox_merge_2d, ORACLE_O3_BBOX_2D),
    "b3_pdfish_extract": (q_b3_pdfish_extract, ORACLE_B3),
    "b6_md_extract": (q_b6_md_extract, ORACLE_B6),
    "b7_csv_extract": (q_b7_csv_extract, ORACLE_B7),
    "curate_pipeline": (q_curate_pipeline, ORACLE_CURATE),
    "s1_fragment_routing": (q_s1_fragment_routing, ORACLE_FRAGMENT),
    "dedup_simhash_wide": (q_dedup_simhash_wide, ORACLE_SIMHASH_WIDE),
    "text_winnow_fingerprint": (q_text_winnow_fingerprint, ORACLE_WINNOW),
    "sim_ivf_topk_probe2": (q_sim_ivf_topk_probe2, ORACLE_SIM_IVF_P2),
    "dedup_embedding_lsh": (q_dedup_embedding_lsh, ORACLE_DEDUP_EMB_LSH),
    "b9_docx_extract": (q_b9_docx_extract, ORACLE_B9_DOCX),
    "b8_xlsx_extract": (q_b8_xlsx_extract, ORACLE_B8_XLSX),
    "b10_pptx_extract": (q_b10_pptx_extract, ORACLE_B10_PPTX),
    "b12_jats_extract": (q_b12_jats_extract, ORACLE_B12_JATS),
    "b13_uspto_extract": (q_b13_uspto_extract, ORACLE_B13_USPTO),
    "b4_pdf_real": (q_b4_pdf_real, ORACLE_B4_PDF),
    "b14_hwpx_extract": (q_b14_hwpx_extract, ORACLE_B14_HWPX),
    "curate_decontaminate": (q_curate_decontaminate, ORACLE_CURATE_DECONTAM),
    "curate_stratified_sample": (q_curate_stratified_sample, ORACLE_CURATE_SAMPLE),
    "curate_pack_sequences": (q_curate_pack_sequences, ORACLE_CURATE_PACK),
    "o3_bbox_merge_pages": (q_o3_bbox_merge_pages, ORACLE_O3_BBOX_PAGES),
    "curate_assemble": (q_curate_assemble, ORACLE_CURATE_ASSEMBLE),
    "m1_image_decode": (q_m1_image_decode, ORACLE_M1_IMAGE),
    "m2_audio_features": (q_m2_audio_features, ORACLE_M2_AUDIO),
    "m3_video_meta": (q_m3_video_meta, ORACLE_M3_VIDEO),
    "dedup_cc_clusters": (q_dedup_cc_clusters, ORACLE_CC_CLUSTERS),
    "dedup_cc_canonical": (q_dedup_cc_canonical, ORACLE_CC_CANONICAL),
    "quality_lm_nll": (q_quality_lm_nll, ORACLE_QUALITY_LM_NLL),
    "sim_ivf_kmeans": (q_sim_ivf_kmeans, ORACLE_SIM_IVF_KMEANS),
    "curate_assemble_neardup": (q_curate_assemble_neardup, ORACLE_CURATE_NEARDUP),
    "text_tfidf_topk": (q_text_tfidf_topk, ORACLE_TEXT_TFIDF),
    "lang_id_trigram_nb": (q_lang_id_trigram_nb, ORACLE_LANG_ID_NB),
    "dedup_embedding_cc": (q_dedup_embedding_cc, ORACLE_DEDUP_EMB_CC),
    "curate_pack_segments": (q_curate_pack_segments, ORACLE_PACK_SEGMENTS),
    "m4_jpeg_decode": (q_m4_jpeg_decode, ORACLE_M4_JPEG),
    "m5_gif_decode": (q_m5_gif_decode, ORACLE_M5_GIF),
    "m6_tiff_decode": (q_m6_tiff_decode, ORACLE_M6_TIFF),
    "m7_video_frames": (q_m7_video_frames, ORACLE_M7_AVI),
    "m8_webp_decode": (q_m8_webp_decode, ORACLE_M8_WEBP),
    "m9_mp3_meta": (q_m9_mp3_meta, ORACLE_M9_MP3),
    "m10_webp_lossy": (q_m10_webp_lossy, ORACLE_M10_WEBP_LOSSY),
    "dedup_substring_spans": (q_dedup_substring_spans, ORACLE_SUBSTR_SPANS),
    "dedup_substring_fraction": (q_dedup_substring_fraction, ORACLE_SUBSTR_FRACTION),
    "curate_mixture_sample": (q_curate_mixture_sample, ORACLE_MIXTURE_SAMPLE),
    "asof_attach_signup": (q_asof_attach_signup, ORACLE_ASOF_SIGNUP),
    "asof_next_purchase": (q_asof_next_purchase, ORACLE_ASOF_PURCHASE),
    "range_join_error_window": (q_range_join_error_window, ORACLE_RANGE_JOIN),
    "layout_zorder_value": (q_layout_zorder_value, ORACLE_ZORDER),
    "events_rollup_multires": (q_events_rollup_multires, ORACLE_ROLLUP),
    "events_rollup_adaptive": (q_events_rollup_adaptive, ORACLE_ROLLUP_ADAPTIVE),
    "text_nfc_normalize": (q_text_nfc_normalize, ORACLE_NFC),
    "embed_random_projection": (q_embed_random_projection, ORACLE_JL),
    "embed_quantize_int8": (q_embed_quantize_int8, ORACLE_QUANT),
    "quality_lm_bigram": (q_quality_lm_bigram, ORACLE_LM_BIGRAM),
    "events_rolling_features": (q_events_rolling_features, ORACLE_ROLLING),
    "text_phrase_mining": (q_text_phrase_mining, ORACLE_PHRASES),
    "search_inverted_index": (q_search_inverted_index, ORACLE_INVERTED),
    "search_bm25_topk": (q_search_bm25_topk, ORACLE_BM25),
    "dedup_incremental": (q_dedup_incremental, ORACLE_DEDUP_INCR),
    "dedup_incremental_indexed": (q_dedup_incremental_indexed, ORACLE_DEDUP_INCR),
    "corpus_snapshot_diff": (q_corpus_snapshot_diff, ORACLE_CORPUS_DIFF),
    "dedup_simhash_hamming": (q_dedup_simhash_hamming, ORACLE_SIMHASH_HAMMING),
    "corpus_profile": (q_corpus_profile, ORACLE_PROFILE),
    "curate_split": (q_curate_split, ORACLE_SPLIT),
    "curate_curriculum": (q_curate_curriculum, ORACLE_CURRICULUM),
    "curate_assemble_v2": (q_curate_assemble_v2, ORACLE_ASSEMBLE_V2),
    "events_funnel": (q_events_funnel, ORACLE_FUNNEL),
    "events_retention_cohorts": (q_events_retention_cohorts, ORACLE_RETENTION),
    "graph_triangles": (q_graph_triangles, ORACLE_TRIANGLES),
    "graph_pagerank": (q_graph_pagerank, ORACLE_PAGERANK),
    "curate_weighted_sample": (q_curate_weighted_sample, ORACLE_WEIGHTED_SAMPLE),
    "events_resample_ffill": (q_events_resample_ffill, ORACLE_RESAMPLE),
    "text_script_profile": (q_text_script_profile, ORACLE_SCRIPT_PROFILE),
    "vocab_drift": (q_vocab_drift, ORACLE_VOCAB_DRIFT),
    "text_subword_counts": (q_text_subword_counts, ORACLE_SUBWORD),
    "toc_match_back": (q_toc_match_back, _toc_oracle()),
    "dedup_minhash_lsh_capped": (q_dedup_minhash_lsh_capped, ORACLE_MINHASH_LSH_CAPPED),
    "curate_ingest_indexed": (q_curate_ingest_indexed, ORACLE_CURATE_INGEST),
    "stream_dedup_replay": (q_stream_dedup_replay, ORACLE_STREAM_REPLAY),
}

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: builder for name, (builder, _) in _REGISTRY.items()
}
ORACLES: dict[str, str] = {name: sql for name, (_, sql) in _REGISTRY.items()}
