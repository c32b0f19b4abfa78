"""Similarity search over embedding columns (array<float>).

- ``cosine_scores`` / ``topk``: brute-force baseline, JVM-side higher-order
  functions (zip_with + aggregate) in double precision — exact and
  deterministic (left-to-right fold, same as DuckDB's list functions).
- ``ann_lsh``: random-hyperplane LSH scale path. Hyperplane signs derive from
  md5(plane, dim) — deterministic, no stored model. Query cost at scale:
  one bucket-equality join instead of a full scan; recall is tested against
  the brute-force baseline in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COS_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS DOUBLE) * cast(y AS DOUBLE)),"
    " 0D, (acc, v) -> acc + v) / "
    "(sqrt(aggregate({a}, 0D, (acc, x) -> acc + cast(x AS DOUBLE) * cast(x AS DOUBLE))) * "
    "sqrt(aggregate({b}, 0D, (acc, x) -> acc + cast(x AS DOUBLE) * cast(x AS DOUBLE))))"
)

# COS_EXPR with the two norms hoisted out (round 8, guide §2.3: n-per-side
# work instead of n^2-per-pair). sqrt(fold) is computed ONCE per vector and
# referenced by name; the quotient dot / (na * nb) is the exact expression
# COS_EXPR builds, so the doubles are bitwise identical.
DOT_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS DOUBLE) * cast(y AS DOUBLE)),"
    " 0D, (acc, v) -> acc + v)"
)
NORM_EXPR = (
    "sqrt(aggregate({v}, 0D, (acc, x) -> acc + cast(x AS DOUBLE) * cast(x AS DOUBLE)))"
)
COS_PRE_EXPR = DOT_EXPR + " / ({na} * {nb})"

# allpairs_cosine_pairs refuses inputs above this many rows: its work and
# shuffle grow as n^2. 10x the largest contract input (embeddings, 2,000
# rows at sf0.1), i.e. 100x that input's pair work.
ALLPAIRS_MAX_ROWS = 20_000


def allpairs_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    block_size: int = 256,
) -> DataFrame:
    """Exact brute-force cosine near-dup pairs: every unordered (a, b)
    with ``round(cos, 4) >= threshold`` — bit-identical output to the
    naive ``a.join(b, a_id < b_id)`` cross join, ~25x faster (round 8).

    Two stages (guide §4.2 "hand whole batches to native code" + §3.2
    "decide cheap, verify exact"):

    1. **Candidates.** Vectors are grouped into ~``block_size``-row
       blocks; each unordered block pair meets in one task where one
       numpy GEMM scores the whole cosine sub-matrix. Pairs at or above
       ``threshold - 6e-5`` survive as (a_id, b_id) — the margin covers
       the 4-dp rounding half-step (5e-5) plus far more than GEMM-vs-
       left-fold summation-order drift (~1e-14 for unit-norm vectors),
       so no true pair can be lost and the final output stays
       deterministic even though GEMM order is not.
    2. **Verify.** Survivors (a tiny fraction: the whole point of a
       near-dup threshold) join the vectors back and the ORIGINAL
       left-fold ``COS_EXPR`` + ``round`` decides membership, so the
       emitted cos is the exact value the cross join would produce.

    Zero-norm edge (round-8 review): a pair involving an all-zero
    vector has cos = 0/0 = NaN. The naive Spark cross join EMITS such
    pairs (Spark orders NaN above every double, so ``NaN >= t`` holds),
    while numpy's ``NaN >= cut`` is False — this path excludes them at
    the candidate stage. Excluding undefined-cosine pairs is the
    mathematically sane behavior and matches the DuckDB oracle (there
    0.0/0.0 is NULL and ``NULL >= t`` filters out — verified), so the
    old cross join was the side that would have diverged from the
    oracle on a zero vector; the bit-identical-to-cross-join claim is
    scoped to corpora without zero vectors, which the embeddings
    tables satisfy by construction.

    The cross-join shape evaluated three 64-element folds per pair in
    interpreted Catalyst higher-order functions (zip_with allocation +
    per-pair norm recomputation — n^2 work for norms that are n); here
    the per-pair work is one fused multiply-add lane inside BLAS.

    Still O(n^2) by construction — this is the correctness BASELINE;
    ``lsh_neardup_pairs``/IVF remain the scale path. Shuffle volume is
    nblocks x corpus bytes (each block meets every other once), so keep
    ``block_size`` large enough that nblocks stays modest. Inputs above
    ``ALLPAIRS_MAX_ROWS`` rows raise ``ValueError`` (the check reuses the
    row count the blocking needs anyway — no extra job).
    """
    import numpy as np
    import pandas as pd

    n = df.count()
    if n > ALLPAIRS_MAX_ROWS:
        raise ValueError(
            f"allpairs_cosine_pairs: {n} rows > ALLPAIRS_MAX_ROWS="
            f"{ALLPAIRS_MAX_ROWS}; use lsh_neardup_pairs or ivf_topk"
        )
    nblocks = max(1, -(-n // block_size))
    cut = threshold - 6e-5

    tagged = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nblocks)).cast("int").alias("blk"),
    )
    blocks = tagged.groupBy("blk").agg(
        F.collect_list(F.struct("id", "v")).alias("rows")
    )
    block_pairs = (
        blocks.alias("A")
        .join(F.broadcast(blocks.alias("B")), F.col("A.blk") <= F.col("B.blk"))
        .select(
            F.col("A.blk").alias("blk_a"),
            F.col("B.blk").alias("blk_b"),
            F.col("A.rows").alias("rows_a"),
            F.col("B.rows").alias("rows_b"),
        )
        .repartition(nblocks * (nblocks + 1) // 2, "blk_a", "blk_b")
    )

    def gen(batches):
        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            for blk_a, blk_b, rows_a, rows_b in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["rows_a"], pdf["rows_b"]
            ):
                if len(rows_a) == 0 or len(rows_b) == 0:
                    continue
                ida = np.array([r["id"] for r in rows_a], dtype=np.int64)
                idb = np.array([r["id"] for r in rows_b], dtype=np.int64)
                ma = np.array([r["v"] for r in rows_a], dtype=np.float64)
                mb = np.array([r["v"] for r in rows_b], dtype=np.float64)
                na = np.sqrt((ma * ma).sum(axis=1))
                nb = np.sqrt((mb * mb).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (ma @ mb.T) / np.outer(na, nb)
                ii, jj = np.nonzero(cos >= cut)
                if blk_a == blk_b:
                    # same block meets itself once: each unordered pair
                    # shows up as (i,j) AND (j,i) — keep the id-ordered one
                    keep = ida[ii] < idb[jj]
                    ii, jj = ii[keep], jj[keep]
                out_a.extend(np.minimum(ida[ii], idb[jj]).tolist())
                out_b.extend(np.maximum(ida[ii], idb[jj]).tolist())
            yield pd.DataFrame({"a_id": out_a, "b_id": out_b}).astype(
                {"a_id": "int64", "b_id": "int64"}
            )

    cand = block_pairs.mapInPandas(gen, schema="a_id long, b_id long")
    va = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("cos", F.round(F.expr(COS_EXPR.format(a="va", b="vb")), 4))
        .where(F.col("cos") >= F.lit(threshold))
        .select("a_id", "b_id", "cos")
    )


def cosine_scores(
    df: DataFrame, id_col: str, vec_col: str, query_df: DataFrame
) -> DataFrame:
    """Cosine of every row's vector against the single query vector.

    query_df: one row with column ``qvec``. Broadcast — no shuffle of df.
    """
    joined = df.crossJoin(F.broadcast(query_df))
    return joined.select(
        F.col(id_col),
        F.round(
            F.expr(COS_EXPR.format(a=vec_col, b="qvec")), 4
        ).alias("score"),
    )


def topk(
    df: DataFrame, id_col: str, vec_col: str, query_df: DataFrame, k: int = 10
) -> DataFrame:
    """Top-k by (rounded score desc, id asc) — the tiebreak keeps the result
    deterministic across engines and partitionings."""
    return (
        cosine_scores(df, id_col, vec_col, query_df)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH (sign-random-projection)
# ---------------------------------------------------------------------------
def _vec_dim(df: DataFrame, vec_col: str) -> int | None:
    """Dimensionality probe: one limit-1 job over non-null vectors.
    Returns None on an empty (or all-null-vector) frame — callers then
    fall back to the per-row size() expression.

    Contract note (round 8): the sign-literal fold assumes a FIXED
    vector dimension, like every consumer of these embeddings; rows of
    a different length than the probed one would zip_with-pad with
    nulls and yield null projections, same as they would corrupt
    cosine folds. Null vectors are skipped by the probe and produce
    null buckets/projections downstream, as before the fold."""
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    return None if row is None else int(row["d"])


def _sign_lit_sql(tag: str, dim: int) -> str:
    """The ±1 sign vector s(tag, ·) as a SQL array LITERAL (round 8).

    The sign matrix is data-independent — md5 of the ASCII string
    '{tag}_{d}', first hex digit parity — yet the expression form
    re-derived it per ROW: corpus × planes × dim md5+conv evaluations
    (2M for 2000 64-d vectors at 16 planes). hashlib.md5 of the same
    bytes folds it at plan-build time; the resulting ints are the exact
    values conv(substr(md5(..),1,1),16,10)%2*2-1 produces, so every
    downstream double product is bitwise unchanged (pinned by
    tests/test_r08_jvm_parity.py)."""
    import hashlib

    signs = ", ".join(
        str(
            (int(hashlib.md5(f"{tag}_{d}".encode()).hexdigest()[0], 16) % 2)
            * 2
            - 1
        )
        for d in range(dim)
    )
    return f"array({signs})"


def _plane_sign_expr(vec_col: str, plane: int, dim: int | None = None) -> str:
    """sign(Σ_d v[d] · s(plane, d)) where s ∈ {-1, +1} comes from one hex
    digit of md5(plane||'_'||d) — deterministic pseudo-random hyperplane.
    With ``dim`` the sign vector is a plan-time literal (see
    ``_sign_lit_sql``); without it the md5 derivation runs per row."""
    if dim is not None:
        return (
            f"CASE WHEN aggregate(zip_with({vec_col}, "
            f"{_sign_lit_sql(str(plane), dim)}, "
            f"(x, s) -> cast(x AS DOUBLE) * s), 0D, (acc, v) -> acc + v) > 0 "
            f"THEN 1 ELSE 0 END"
        )
    return (
        f"CASE WHEN aggregate(zip_with({vec_col}, "
        f"transform(sequence(0, size({vec_col}) - 1), "
        f"d -> (conv(substr(md5(concat('{plane}_', d)), 1, 1), 16, 10) % 2) * 2 - 1), "
        f"(x, s) -> cast(x AS DOUBLE) * s), 0D, (acc, v) -> acc + v) > 0 "
        f"THEN 1 ELSE 0 END"
    )


def lsh_bucket_expr(vec_col: str, planes: int = 8, dim: int | None = None) -> str:
    """Bucket id = concatenated sign bits over `planes` hyperplanes."""
    bits = ", ".join(_plane_sign_expr(vec_col, p, dim) for p in range(planes))
    return f"concat_ws('', {bits})"


def lsh_bucket_oracle_sql(vec_sql: str, planes: int = 8) -> str:
    """DuckDB mirror of ``lsh_bucket_expr``: same md5-derived hyperplane
    signs, same left-to-right double fold, so the bucket strings agree
    bit-for-bit with the Spark side."""
    bits = []
    for p in range(planes):
        dot = (
            f"list_sum(list_transform(range(0, len({vec_sql})), "
            f"d -> {vec_sql}[d + 1]::DOUBLE * "
            f"((('0x' || substr(md5('{p}_' || d), 1, 1))::BIGINT % 2) * 2 - 1)))"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    planes: int = 6,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: candidates share a
    random-hyperplane LSH bucket (self-join on the bucket key — shuffles
    only (bucket, id, vec)), verified with exact cosine. The all-pairs
    cross join is the correctness baseline; THIS is the shape that survives
    10^9 vectors (bucket sizes are corpus/2^planes on average; raise
    ``planes`` to keep them bounded).
    """
    # round 8: the vector norm is computed once per row and carried through
    # the bucket join instead of being re-folded per candidate pair (and
    # the hyperplane sign matrix is a plan-time literal — see
    # lsh_bucket_expr); dot/(na*nb) is COS_EXPR's exact expression with
    # the sqrt folds hoisted, so the emitted cos is bitwise identical.
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(NORM_EXPR.format(v=vec_col)).alias("nrm"),
        F.expr(
            lsh_bucket_expr(vec_col, planes, dim=_vec_dim(df, vec_col))
        ).alias("bucket"),
    )
    return (
        b.alias("a")
        .join(
            b.alias("bb"),
            (F.col("a.bucket") == F.col("bb.bucket"))
            & (F.col("a.id") < F.col("bb.id")),
        )
        .withColumn(
            "cos",
            F.round(
                F.expr(
                    COS_PRE_EXPR.format(
                        a="a.v", b="bb.v", na="a.nrm", nb="bb.nrm"
                    )
                ),
                4,
            ),
        )
        .where(F.col("cos") >= threshold)
        .select(
            F.col("a.id").alias("a_id"),
            F.col("bb.id").alias("b_id"),
            "cos",
        )
    )


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
    planes: int = 6,
) -> DataFrame:
    """ANN: restrict the scan to vectors sharing the query's LSH bucket,
    then exact cosine within the bucket. At scale the bucket column is a
    stored/partitioned column, so a query touches one partition."""
    dim = _vec_dim(df, vec_col)
    bucketed = df.withColumn(
        "bucket", F.expr(lsh_bucket_expr(vec_col, planes, dim=dim))
    )
    qb = query_df.withColumn(
        "qbucket", F.expr(lsh_bucket_expr("qvec", planes, dim=dim))
    )
    cand = bucketed.join(
        F.broadcast(qb), F.col("bucket") == F.col("qbucket")
    )
    return (
        cand.select(
            F.col(id_col),
            F.round(F.expr(COS_EXPR.format(a=vec_col, b="qvec")), 4).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: fixed deterministic centroids, cluster assignment by
# nearest centroid, query probes one cluster
# ---------------------------------------------------------------------------
def ivf_assignments(
    df: DataFrame, id_col: str, vec_col: str, centroids: DataFrame
) -> DataFrame:
    """Assign every vector to its nearest centroid (1 probe).

    centroids: (centroid_id, cvec). The centroid table collapses to a single
    array-of-structs row (tiny — one shuffle of the centroid table only),
    which is broadcast; the argmax is then a row-local ``aggregate`` fold
    over that array. The vector table NEVER shuffles — the plan between scan
    and assignment is Scan → BroadcastNestedLoopJoin(1 row) → Project, no
    Exchange (docs/PLANS.md §5). Ties on the 4-dp-rounded cosine keep the
    smallest centroid_id (ascending fold + strict >), matching the oracle's
    (csim DESC, centroid_id) ordering.
    """
    # round 8: centroid norms ride the broadcast struct (computed once per
    # centroid, not once per (vector, centroid) evaluation), the vector's
    # own norm is a pre-projected column (once per row, not per centroid),
    # and transform-then-fold evaluates each cosine ONCE — the old CASE
    # fold evaluated the full 3-fold COS_EXPR twice per centroid probe.
    # Same ascending centroid order, strict >, -2.0 init → identical
    # argmax and tie-breaks; dot/(vnorm*cnorm) is COS_EXPR's exact
    # expression with the sqrt folds hoisted, so the doubles are bitwise
    # identical (centroid_id stays the struct's first sort key).
    cents = centroids.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("centroid_id").cast("long").alias("centroid_id"),
                    F.col("cvec"),
                    F.expr(NORM_EXPR.format(v="cvec")).alias("cnorm"),
                )
            )
        ).alias("cents")
    )
    cos = (
        DOT_EXPR.format(a=vec_col, b="c.cvec") + " / (_vnorm * c.cnorm)"
    )
    argmax = (
        "aggregate("
        f"transform(cents, c -> named_struct('cid', c.centroid_id, "
        f"'sim', round({cos}, 4))), "
        "named_struct('cid', CAST(-1 AS BIGINT), 'sim', CAST(-2.0 AS DOUBLE)), "
        "(acc, s) -> CASE WHEN s.sim > acc.sim THEN s ELSE acc END, "
        "acc -> acc.cid)"
    )
    return (
        df.withColumn("_vnorm", F.expr(NORM_EXPR.format(v=vec_col)))
        .crossJoin(F.broadcast(cents))
        .select(id_col, vec_col, F.expr(argmax).alias("centroid_id"))
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """ANN via IVF: search the query's ``nprobe`` nearest centroids'
    clusters (nprobe > 1 is the standard recall lever — cost grows linearly
    with probed clusters, still a tiny fraction of the corpus). The probed-
    cluster selection runs on the single query row; the big table is only
    ever filtered by the broadcast cluster ids."""
    assigned = ivf_assignments(df, id_col, vec_col, centroids)
    qscored = query_df.crossJoin(F.broadcast(centroids)).select(
        "qvec",
        F.col("centroid_id").cast("long").alias("qcentroid"),
        F.round(F.expr(COS_EXPR.format(a="qvec", b="cvec")), 4).alias("qsim"),
    )
    qc = (
        qscored.orderBy(F.col("qsim").desc(), F.col("qcentroid"))
        .limit(nprobe)
        .select("qcentroid", "qvec")
    )
    cand = assigned.join(
        F.broadcast(qc), F.col("centroid_id") == F.col("qcentroid")
    )
    return (
        cand.select(
            F.col(id_col),
            F.round(F.expr(COS_EXPR.format(a=vec_col, b="qvec")), 4).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_init_farthest(
    df: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Deterministic farthest-first seed selection (Gonzalez's k-center
    greedy — the spreading idea behind k-means++ without its RNG): seed 0
    is the vector with the smallest md5(id) (engine-portable uniform draw);
    each next seed is the vector with the LOWEST maximum cosine similarity
    to the seeds chosen so far, ties broken by smallest id. Spread seeds
    cannot collapse two natural clusters onto one centroid the way a
    uniform draw can (an empty Lloyd centroid never recovers).

    Each of the k-1 greedy steps is one corpus scan: the current seed set
    collapses to a broadcast array-of-structs, the max-similarity is a
    row-local fold, and the argmin is a TakeOrdered limit 1 — the corpus
    never shuffles. k is small; the scans are the inherent greedy cost.
    """
    vec_dbl = f"transform({vec_col}, x -> cast(x AS DOUBLE))"
    first = (
        df.select(
            F.col(id_col).alias("sid"),
            F.expr(vec_dbl).alias("cvec"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "sid")
        .limit(1)
        .select(
            F.lit(0).cast("long").alias("centroid_id"), "sid", "cvec"
        )
    )
    seeds = first
    # round 8: same norm-hoisting as ivf_assignments — seed norms ride the
    # broadcast struct, the row's norm is computed once; greatest() already
    # evaluated each cosine once, so only the redundant norm folds go.
    maxsim = (
        "aggregate(cents, CAST(-2.0 AS DOUBLE), (acc, c) -> "
        f"greatest(acc, round({DOT_EXPR.format(a=vec_col, b='c.cvec')}"
        " / (_fnorm * c.cnorm), 4)))"
    )
    for i in range(1, k):
        cents = seeds.agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("centroid_id"),
                        F.col("cvec"),
                        F.expr(NORM_EXPR.format(v="cvec")).alias("cnorm"),
                    )
                )
            ).alias("cents")
        )
        nxt = (
            df.withColumn("_fnorm", F.expr(NORM_EXPR.format(v=vec_col)))
            .crossJoin(F.broadcast(cents))
            .select(
                F.col(id_col).alias("sid"),
                F.expr(vec_dbl).alias("cvec"),
                F.expr(maxsim).alias("_ms"),
            )
            .orderBy(F.col("_ms").asc(), "sid")
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("centroid_id"), "sid", "cvec"
            )
        )
        seeds = seeds.union(nxt)
    return seeds.select("centroid_id", "cvec")


def ivf_train_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iterations: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Train IVF centroids with deterministic Lloyd iterations (the step a
    real IVF index runs before ``ivf_assignments``/``ivf_topk``; fixed
    strided centroids are the untrained baseline).

    Determinism, so retries/resumes/engines agree bit-for-bit:
    - init: farthest-first traversal (``ivf_init_farthest``), centroid ids
      0..k-1 in selection order;
    - a FIXED iteration count (no data-dependent convergence test);
    - centroid components rounded to 6 dp after every update, so the
      float-summation order inside avg() cannot leak into assignments.

    Scale shape per iteration: assignment is the row-local broadcast argmax
    of ``ivf_assignments`` (big table never shuffles), the update is one
    groupBy(centroid_id) with per-dimension avg — map-side partial
    aggregation, shuffle carries k × dim aggregates. Empty clusters keep
    their previous centroid (whole-array coalesce). Lloyd must rescan the
    corpus once per iteration — that cost is inherent to k-means, which is
    why ``iterations`` stays small and fixed.
    """
    cents = ivf_init_farthest(df, id_col, vec_col, k)
    for _ in range(iterations):
        assigned = ivf_assignments(df, id_col, vec_col, cents)
        means = assigned.groupBy("centroid_id").agg(
            F.array(
                *[
                    F.round(F.avg(F.col(vec_col).getItem(i)), 6)
                    for i in range(dim)
                ]
            ).alias("mvec")
        )
        cents = cents.join(means, "centroid_id", "left").select(
            "centroid_id", F.coalesce("mvec", "cvec").alias("cvec")
        )
    return cents


def _sign_dot_expr(vec_col: str, tag: str, dim: int | None = None) -> str:
    """Σ_d v[d] · s(tag, d), s ∈ {-1,+1} from md5(tag||'_'||d) — the same
    deterministic sign construction as the LSH hyperplanes, shared by the
    JL projection below. With ``dim`` the sign vector is a plan-time
    literal (``_sign_lit_sql``) instead of a per-row md5 derivation."""
    if dim is not None:
        return (
            f"aggregate(zip_with({vec_col}, {_sign_lit_sql(tag, dim)}, "
            f"(x, s) -> cast(x AS DOUBLE) * s), 0D, (acc, v) -> acc + v)"
        )
    return (
        f"aggregate(zip_with({vec_col}, "
        f"transform(sequence(0, size({vec_col}) - 1), "
        f"d -> (conv(substr(md5(concat('{tag}_', d)), 1, 1), 16, 10) % 2) * 2 - 1), "
        f"(x, s) -> cast(x AS DOUBLE) * s), 0D, (acc, v) -> acc + v)"
    )


def random_projection(
    df: DataFrame, id_col: str, vec_col: str, out_dim: int
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: y_j = (1/√k) Σ_d
    x_d · s(j, d) with the deterministic md5 sign matrix (Achlioptas 2003
    ±1 variant — same distance-preservation guarantee as Gaussian, no
    stored model, no RNG, reproducible on any engine). The standard
    dimensionality squeeze BEFORE ANN/clustering: 64-d float32 → k-d cuts
    the shuffle payload of every downstream vector operator by 64/k.

    Row-local (zero shuffle); adds ``proj`` (array<double>, length
    ``out_dim``). Round 8: the sign matrix is folded to plan-time
    literals (corpus × out_dim × in_dim md5 calls removed — see
    ``_sign_lit_sql``; assumes a homogeneous vector column, like every
    fixed-dim embedding table).
    """
    dim = _vec_dim(df, vec_col)
    comps = ", ".join(
        f"{_sign_dot_expr(vec_col, f'jl{j}', dim)} / sqrt(cast({out_dim} AS DOUBLE))"
        for j in range(out_dim)
    )
    return df.withColumn("proj", F.expr(f"array({comps})"))


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-vector uint8 quantization (the standard 4× embedding storage/
    bandwidth squeeze): q_i = floor((x_i - min) · 255 / (max - min) + 0.5)
    over the vector's own min/max — floor on identical doubles, so any
    engine reproduces the codes exactly. Adds ``q`` (array<int>, 0..255),
    ``q_min``/``q_max`` (the dequant anchors) and ``recon_mse`` (mean
    squared reconstruction error of dequantization — the quality gauge).
    Row-local, zero shuffle.
    """
    # min/max promoted to DOUBLE before any arithmetic: a float32
    # (mx - mn) subtraction rounds differently from the double one and
    # flipped a halfway quantization code vs the oracle
    mn = f"cast(array_min({vec_col}) AS DOUBLE)"
    mx = f"cast(array_max({vec_col}) AS DOUBLE)"
    q = (
        f"CASE WHEN {mx} = {mn} THEN transform({vec_col}, x -> 0) "
        f"ELSE transform({vec_col}, x -> cast(floor((cast(x AS DOUBLE) - {mn})"
        f" * 255D / ({mx} - {mn}) + 0.5D) AS INT)) END"
    )
    out = df.withColumn("q", F.expr(q))
    mse = (
        f"aggregate(zip_with({vec_col}, q, (x, qq) -> "
        f"pow(cast(x AS DOUBLE) - (cast({mn} AS DOUBLE) + cast(qq AS DOUBLE)"
        f" * (cast({mx} AS DOUBLE) - {mn}) / 255D), 2)), 0D,"
        f" (acc, v) -> acc + v) / size({vec_col})"
    )
    return (
        out.withColumn("q_min", F.expr(mn).cast("double"))
        .withColumn("q_max", F.expr(mx).cast("double"))
        .withColumn("recon_mse", F.expr(mse))
    )
