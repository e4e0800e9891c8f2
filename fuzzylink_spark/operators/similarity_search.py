"""Similarity search over an embedding column (array<float>).

Two paths:
- brute-force cosine top-k: exact baseline. Query side is broadcast (k
  queries × N corpus rows — a map-side nested loop, no shuffle of the
  corpus), dot products in one NumPy GEMM per Arrow batch, then a
  windowed top-k. Right plan up to ~10^4 queries; at 100 TB the corpus
  scan dominates and parallelizes linearly.
- IVF-style bucketed ANN: assign every vector to its nearest of C
  centroids (sign-hash projection centroids — deterministic, no training
  loop needed for a first-cut recall path; a k-means refinement can drop
  in), then search only matching buckets (+ optional probes). Turns the
  all-pairs scan into an equi join on bucket id.

Cosine assumes unit-norm vectors (our encoder guarantees it; normalize
externally-supplied embeddings with ``l2_normalize_col``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzylink_spark.operators.dedup import _bucket_pairs


def l2_normalize_col(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    norm = F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(norm > 0, F.transform(c, lambda x: x / norm)).otherwise(c)


def _fold_dot(u, v) -> F.Column:
    """Left-fold dot product into a float64 accumulator:
    aggregate(zip_with(u,v,*), 0.0, +). The fold order is the array
    order, exactly DuckDB's list_reduce((acc,x) -> acc+x) — identical
    IEEE rounding sequence, bit-identical result."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _gemm_topk_udf(queries: np.ndarray, qids: np.ndarray, k: int,
                   dtype=np.float32):
    """mapInPandas kernel: for each corpus batch, GEMM against all queries
    and emit (qid, corpus id, score) for the per-batch top-k per query.
    Per-batch top-k keeps the shuffle tiny; the global window finishes it."""

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            corpus = np.asarray(pdf["embedding"].tolist(), dtype=dtype)
            ids = pdf["vec_id"].to_numpy()
            scores = queries @ corpus.T  # (Q, B)
            kk = min(k, scores.shape[1])
            idx = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
            out = {
                "query_id": np.repeat(qids, kk),
                "vec_id": ids[idx].ravel(),
                "score": np.take_along_axis(scores, idx, axis=1).ravel().astype(np.float64),
            }
            yield pd.DataFrame(out)

    return fn


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dtype: str = "float32",
) -> DataFrame:
    """Exact cosine top-k: DataFrame[query_id, vec_id, score, rank].

    ``queries`` is collected and broadcast inside the Arrow kernel (bounded:
    ANN queries are per-request small); the corpus is never shuffled — one
    scan, map-side GEMM, then a top-k window over Q×k×partitions rows.
    ``dtype='float64'`` makes scores bit-comparable with double-precision
    oracles; float32 is the fast path at scale.
    """
    np_dtype = np.float64 if dtype == "float64" else np.float32
    qrows = queries.select(query_id_col, vec_col).collect()
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], schema="query_id long, vec_id long, score double, rank int"
        )
    qmat = np.asarray([r[vec_col] for r in qrows], dtype=np_dtype)
    qids = np.asarray([r[query_id_col] for r in qrows])

    partial = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).mapInPandas(
        _gemm_topk_udf(qmat, qids, k, np_dtype),
        schema="query_id long, vec_id long, score double",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF / LSH-bucketed ANN — banded multi-table sign-LSH
# ---------------------------------------------------------------------------
#
# Single-table sign-LSH recall collapses multiplicatively: at cosine 0.95 a
# pair agrees on one random hyperplane w.p. 1 - theta/pi ~ 0.899, so 12
# planes in ONE bucket give recall ~0.28. Banding fixes it exactly like
# MinHash-LSH banding: T independent tables of r planes each — a pair is a
# candidate if it collides in ANY table. Recall = 1 - (1 - p^r)^T; the
# default 4 tables x 6 planes gives ~0.95 recall at cosine 0.95 (and ~0.98
# at 0.97) while keeping buckets selective (2^6 per table).


def lsh_table_buckets_udf(tables: int = 4, planes: int = 6, seed: int = 99):
    """Series→Series pandas UDF: embedding -> array<long> of ``tables``
    bucket ids. One NumPy GEMM per Arrow batch against a deterministic
    (seeded) Gaussian hyperplane matrix; the table index is mixed into the
    bucket id so tables never share bucket space. The hyperplane matrix is
    built lazily per vector dimension — identical on every executor."""
    state: dict[int, np.ndarray] = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        M = np.asarray(vecs.tolist(), dtype=np.float32)
        if M.ndim != 2 or M.shape[0] == 0:
            return pd.Series([[]] * len(vecs))
        d = M.shape[1]
        H = state.get(d)
        if H is None:
            H = np.random.default_rng(seed).standard_normal(
                (d, tables * planes)
            ).astype(np.float32)
            state[d] = H
        signs = (M @ H) > 0
        signs = signs.reshape(len(M), tables, planes)
        weights = (np.int64(1) << np.arange(planes, dtype=np.int64))
        buckets = (signs * weights[None, None, :]).sum(axis=2, dtype=np.int64)
        buckets += np.arange(tables, dtype=np.int64)[None, :] << np.int64(planes)
        return pd.Series(list(buckets))

    return _buckets


def _with_buckets(df: DataFrame, vec_col: str, tables: int, planes: int,
                  seed: int) -> DataFrame:
    """Explode a vector table to one row per (row, table) with ``_bucket``."""
    udf = lsh_table_buckets_udf(tables, planes, seed)
    return df.withColumn("_bucket", F.explode(udf(F.col(vec_col))))


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 64,
    sample: int = 20_000,
    iters: int = 12,
    vec_col: str = "embedding",
    seed: int = 7,
) -> np.ndarray:
    """IVF coarse quantizer: k-means (cosine/spherical) on a bounded,
    deterministic sample. The sample is hash-ordered (not head-of-scan)
    so it is unbiased w.r.t. file layout; the fit is O(sample x C x d)
    NumPy on the driver — independent of corpus size."""
    rows = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("string"), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    X = np.asarray([r[vec_col] for r in rows], dtype=np.float32)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    C[c] = v / n
    return C


def _ivf_bucket_udf(centroids: np.ndarray, nprobe: int):
    """pandas UDF: vector -> array of the ``nprobe`` nearest centroid ids
    (one GEMM per Arrow batch against the broadcast centroid matrix)."""
    C = np.asarray(centroids, dtype=np.float32)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _b(vecs: pd.Series) -> pd.Series:
        M = np.asarray(vecs.tolist(), dtype=np.float32)
        if M.ndim != 2 or len(M) == 0:
            return pd.Series([[]] * len(vecs))
        scores = M @ C.T
        kk = min(nprobe, scores.shape[1])
        idx = np.argpartition(-scores, kk - 1, axis=1)[:, :kk].astype(np.int32)
        return pd.Series(list(idx))

    return _b


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their single nearest-centroid
    cell; queries probe their ``nprobe`` nearest cells; exact cosine
    inside the probed cells, windowed top-k.

    The 100 TB shape: one corpus scan assigns cells (map-side GEMM
    against the broadcast centroid matrix), the search is an equi join on
    cell id — candidate volume ~ corpus/C x nprobe per query, never
    all-pairs. Unlike sign-LSH, cells follow the DATA distribution
    (k-means), so recall holds on clustered embeddings where random
    hyperplanes cut through dense regions."""
    cb = corpus.withColumn(
        "_cell", F.element_at(_ivf_bucket_udf(centroids, 1)(F.col(vec_col)), 1)
    )
    qb = queries.withColumn(
        "_cell", F.explode(_ivf_bucket_udf(centroids, nprobe)(F.col(vec_col)))
    )
    qside = qb.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec"), "_cell"
    )
    joined = cb.join(F.broadcast(qside), "_cell")
    dot = _fold_dot(F.col(vec_col), F.col("_qvec"))
    scored = joined.select(
        "query_id", F.col(id_col).alias("vec_id"), dot.alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    tables: int = 4,
    planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 99,
) -> DataFrame:
    """ANN top-k: band corpus + queries into ``tables`` sign-LSH tables of
    ``planes`` planes, equi-join on bucket (candidates = collision in ANY
    table), exact cosine on the deduped candidates, windowed top-k.

    Expected recall at cosine s is 1-(1-p^planes)^tables with
    p = 1 - arccos(s)/pi (defaults: ~0.95 at s=0.95). The join is an equi
    join on bucket — the 100 TB plan is scan + shuffle-on-bucket, never
    all-pairs; raising ``tables`` buys recall linearly in scan cost.
    """
    cb = _with_buckets(corpus, vec_col, tables, planes, seed)
    qb = _with_buckets(queries, vec_col, tables, planes, seed)
    qside = qb.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        "_bucket",
    )
    # dedupe (query, candidate) across tables BEFORE the dot product so a
    # multi-table collision is scored once
    joined = cb.join(F.broadcast(qside), "_bucket").dropDuplicates(
        ["query_id", id_col]
    )
    dot = _fold_dot(F.col(vec_col), F.col("_qvec"))
    scored = joined.select(
        "query_id", F.col(id_col).alias("vec_id"), dot.alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    tables: int = 4,
    planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 99,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded multi-table
    sign-LSH: DataFrame[a, b, score] with cosine >= threshold.

    Candidates collide in ANY of the ``tables`` tables (recall
    1-(1-p^planes)^tables, ~0.95 at cosine 0.95 with the defaults). The
    bucketing UDF runs once; the shared ``_bucket_pairs`` step turns each
    bucket's member list into a<b pairs (deduped across tables), dropping
    buckets above ``max_bucket`` rows (degenerate directions). Each pair
    is exact-verified with one dot product against the vector table."""
    udf = lsh_table_buckets_udf(tables, planes, seed)
    banded = vectors.select(F.col(id_col), F.posexplode(udf(F.col(vec_col)))
                            .alias("band", "bucket"))
    cand = _bucket_pairs(banded, id_col, max_bucket)
    va = vectors.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    vb = vectors.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    dot = _fold_dot(F.col("_va"), F.col("_vb"))
    return (
        cand.join(va, "a").join(vb, "b")
        .withColumn("score", dot)
        .where(F.col("score") >= threshold)
        .select("a", "b", "score")
    )


# ---------------------------------------------------------------------------
# Engine-portable sign-LSH (round 5): the hyperplanes are ±1 vectors drawn
# from a pure-int64 LCG formula instead of a seeded Gaussian RNG, and every
# float operation (cast to float64, LEFT-FOLD sums, sqrt, divide) has one
# IEEE-754-defined result — so ANY engine replays buckets, candidates, and
# cosines BIT-IDENTICALLY. This moves the near-dup candidate step from a
# rows-only check to an exact DuckDB value oracle (same role
# minhash_portable_udf plays for MinHash). Recall of a ±1
# (Rademacher) plane matches the Gaussian one in expectation — collision
# probability is still 1 - theta/pi in the random-rotation sense — so the
# production variant (`embedding_near_dup_pairs`) and this one differ only
# in which random family seeds the planes.

PORTABLE_LCG_A = 1103515245
PORTABLE_LCG_C = 12345
PORTABLE_LCG_P = 2147483647


def _portable_sign(t: int, p: int, d) -> F.Column:
    """±1.0 hyperplane weight for (table t, plane p, dim d): parity of an
    LCG step on k = t*100003 + p*211 + d. Every intermediate < 2^60, exact
    in int64 on any engine (DuckDB replica: the same expression verbatim)."""
    k = F.lit(t * 100003 + p * 211) + d
    lcg = (F.lit(PORTABLE_LCG_A) * k + F.lit(PORTABLE_LCG_C)) % F.lit(PORTABLE_LCG_P)
    return F.when(lcg % F.lit(2) == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def portable_table_buckets(vec_col, tables: int = 4, planes: int = 6) -> F.Column:
    """array<long> of per-table sign-LSH bucket ids, pure Catalyst (no
    Python in the plan): bucket_t = t*2^planes + sum_p [proj_{t,p} > 0]<<p
    with proj a left-fold float64 sum of ±embedding[d]. Scan-local work,
    O(tables*planes*dim) per row; the only shuffle is the downstream
    bucket equi-join."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    e = F.transform(c, lambda x: x.cast("double"))
    idx = F.sequence(F.lit(0).cast("long"), (F.size(e) - 1).cast("long"))
    out = []
    for t in range(tables):
        bucket = F.lit(t * (1 << planes)).cast("long")
        for p in range(planes):
            proj = F.aggregate(
                F.zip_with(e, idx, lambda x, d: x * _portable_sign(t, p, d)),
                F.lit(0.0), lambda acc, x: acc + x)
            bucket = bucket + F.when(proj > 0, F.lit(1 << p)
                                     ).otherwise(F.lit(0)).cast("long")
        out.append(bucket)
    return F.array(*out)


def embedding_near_dup_portable(
    vectors: DataFrame,
    threshold: float = 0.9,
    tables: int = 4,
    planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 100_000,
) -> DataFrame:
    """Engine-portable twin of ``embedding_near_dup_pairs``: banded
    sign-LSH -> shared ``_bucket_pairs`` step -> exact float64 cosine
    verify -> DataFrame[a, b, score] with cosine >= threshold, every
    number reproducible bit-exactly in ANSI SQL (the DuckDB board oracle
    replays LCG planes, left-fold projections, bucket join, and cosine
    verbatim — the comparison is exact, not tolerance-based). Same 100 TB
    plan shape as the production variant: scan-local bucketing, one
    bounded bucket aggregation (max_bucket drops degenerate directions),
    then the verify against the vector table."""
    banded = vectors.select(F.col(id_col), F.posexplode(
        portable_table_buckets(vec_col, tables, planes)).alias("band", "bucket"))
    cand = _bucket_pairs(banded, id_col, max_bucket)
    e64 = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vv = vectors.select(F.col(id_col).alias("_id"), e64.alias("_e"))
    va = vv.select(F.col("_id").alias("a"), F.col("_e").alias("_va"))
    vb = vv.select(F.col("_id").alias("b"), F.col("_e").alias("_vb"))
    cos = _fold_dot(F.col("_va"), F.col("_vb")) / (
        F.sqrt(_fold_dot(F.col("_va"), F.col("_va")))
        * F.sqrt(_fold_dot(F.col("_vb"), F.col("_vb")))
    )
    return (
        cand.join(va, "a").join(vb, "b")
        .withColumn("_cos", cos)
        .where(F.col("_cos") >= F.lit(threshold))
        .select("a", "b", F.round("_cos", 6).alias("score"))
    )
