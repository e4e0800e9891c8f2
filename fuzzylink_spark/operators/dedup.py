"""Deduplication operators for large-scale document tables.

Beyond the reference's pairwise-distinct (P4, R/fuzzylink.R:189-190), these
are the dedup modes a 100 TB training-data pipeline needs. All are pure
DataFrame plans — the only Python is inside Arrow-batched UDFs where a
kernel genuinely isn't expressible (none below needs one):

- exact dedup: sha256 groupBy, keep min-id representative;
- MinHash + LSH near-dup: char-shingles → k independent min-hashes →
  band buckets → candidate pairs or star edges from each bucket's sorted
  member list (``_bucket_pairs``, shared with the embedding near-dup
  operators; never all-pairs);
- SimHash near-dup: 64-bit sign-sketch over token hashes, Hamming-banded;
- n-gram Jaccard verification: exact Jaccard on shingle sets for LSH
  candidates (the verify step after the LSH recall step);
- embedding-cosine near-dup: delegates to similarity_search bucketing.

Scale notes: every join here is an equi join on a hash bucket; skew on
giant buckets (boilerplate docs) is bounded by ``max_bucket`` — oversized
LSH buckets are dropped before their member list materializes (winnowing
logs a count of the fingerprint buckets it drops). Shuffles in the LSH
step: one on (band, bucket) for the size window and the member
aggregation, one for the final distinct.
"""

from __future__ import annotations

import logging
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzylink_spark.functions.text import char_ngrams_col

log = logging.getLogger(__name__)


def exact_dedup(df: DataFrame, content_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on sha2(content): one row per distinct content, keeping
    the smallest id (deterministic representative). Adds n_dupes."""
    h = F.sha2(F.col(content_col), 256).alias("_h")
    w = Window.partitionBy("_h").orderBy(F.col(id_col))
    return (
        df.withColumn("_h", F.sha2(F.col(content_col), 256))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("n_dupes", F.count("*").over(Window.partitionBy("_h")))
        .where(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def _shingle_hashes(content_col: str, n: int = 5) -> F.Column:
    """Distinct xxhash64 values of the char n-gram shingles of a document."""
    return F.array_distinct(
        F.transform(char_ngrams_col(content_col, n), lambda g: F.xxhash64(g))
    )


_MINHASH_P = np.uint64((1 << 31) - 1)  # Mersenne prime; crc32 < 2^32, a*h < 2^63


def minhash_udf(num_hashes: int = 32, shingle: int = 5, seed: int = 7):
    """Series→Series pandas UDF: text -> array<long> MinHash signature.

    h_i(x) = (a_i * H(shingle) + b_i) mod p, min over shingles — the
    classic affine permutation family. Shingle hashing is fully
    vectorized: H is a polynomial rolling hash over the utf-8 BYTES
    (a sliding-window dot product with natural mod-2^64 wraparound —
    one NumPy pass per document instead of a per-shingle Python loop;
    byte shingles instead of char shingles is a consistent-estimator
    change, not a semantic one, since both documents shingle the same
    way). An all-Catalyst formulation (nested transform over shingles ×
    hashes) is expressible but ~20× slower in practice: higher-order
    array expressions allocate per element and defeat codegen, so this
    is exactly the sanctioned Arrow-batch slow path.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, int(_MINHASH_P), num_hashes, dtype=np.uint64)
    b = rng.integers(0, int(_MINHASH_P), num_hashes, dtype=np.uint64)
    base = np.uint64(1_000_003)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _mh(texts: pd.Series) -> pd.Series:
        # round-6: batch-vectorized — ALL documents' bytes concatenate into
        # one array, the rolling polynomial hash runs once over the blob,
        # windows that cross a document boundary are masked to the sentinel
        # P (== the empty-document signature value, larger than any valid
        # hash), and each permutation's per-document minimum is a single
        # minimum.reduceat. Identical signatures to the per-document
        # kernel (the dropped np.unique only deduped inputs to a min);
        # removes the per-document Python/numpy dispatch overhead.
        n = len(texts)
        encs = [(t or "").lower().encode("utf-8") for t in texts]
        lens = np.fromiter((len(e) for e in encs), dtype=np.int64, count=n)
        out_mat = np.full((n, num_hashes), int(_MINHASH_P), dtype=np.int64)
        vidx = np.nonzero(lens >= shingle)[0]
        if len(vidx):
            blob = b"".join(encs[i] for i in vidx)
            all_b = np.frombuffer(blob, dtype=np.uint8).astype(np.uint64)
            offsets = np.concatenate([[0], np.cumsum(lens[vidx])])
            W = len(all_b) - shingle + 1
            h = np.zeros(W, dtype=np.uint64)
            for j in range(shingle):
                h = h * base + all_b[j : j + W]
            h %= _MINHASH_P
            inv = [
                np.arange(max(offsets[d + 1] - shingle + 1, offsets[d]),
                          min(offsets[d + 1], W))
                for d in range(len(vidx) - 1)
            ]
            inv_idx = (np.concatenate(inv) if inv
                       else np.array([], dtype=np.int64))
            starts = offsets[:-1]
            for i in range(num_hashes):
                vi = (a[i] * h + b[i]) % _MINHASH_P
                if len(inv_idx):
                    vi[inv_idx] = _MINHASH_P
                out_mat[vidx, i] = np.minimum.reduceat(vi, starts).astype(np.int64)
        return pd.Series(out_mat.tolist())

    return _mh


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input is a SMALL file scan — a
    single-file parquet table would otherwise run the per-document
    signature UDF on one core. The probe reads only file METADATA
    (``inputFiles`` + FileSystem sizes): non-file inputs (joins,
    aggregates, local relations) and anything over a few files / 64 MB
    are returned untouched, so no shuffle is ever added at scale and no
    plan is ever eagerly executed (``df.rdd`` under AQE materializes
    upstream stages at plan-build time — measured — so it must not be
    used here). Row order is not semantically relevant to any consumer
    (signatures are per-row; bucket aggregations are order-insensitive
    sets)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — exotic sources: leave untouched
        return df
    if not files or len(files) > 8:
        return df
    try:
        sc = df.sparkSession.sparkContext  # raises under Spark Connect
        jvm = sc._jvm
        hconf = sc._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            total += p.getFileSystem(hconf).getFileStatus(p).getLen()
    except Exception:  # noqa: BLE001 — metadata unavailable: leave untouched
        return df
    if total <= 64 * 1024 * 1024:
        return df.repartition(sc.defaultParallelism)
    return df


def minhash_signature(df: DataFrame, content_col: str = "text",
                      num_hashes: int = 32, shingle: int = 5) -> DataFrame:
    """Add ``minhash: array<bigint>`` of length ``num_hashes``."""
    return _spread_small_scan(df).withColumn(
        "minhash", minhash_udf(num_hashes, shingle)(F.col(content_col))
    )


def _band_buckets(sig: DataFrame, id_col: str, sig_col: str, bands: int,
                  rows: int, key) -> DataFrame:
    """Band a signature array into ``(id, band, bucket)`` rows: band b is
    the ``rows`` values from position b*rows, and ``key`` (array column ->
    column) turns them into the bucket key."""
    return sig.select(
        F.col(id_col),
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: key(F.slice(F.col(sig_col), b * rows + 1, rows)),
        )).alias("band", "bucket"),
    )


def _bucket_pairs(banded: DataFrame, id_col: str, max_bucket: int,
                  emit: str = "pairs") -> DataFrame:
    """The bucket-local pair step every LSH-style operator shares.

    ``banded`` holds ``(id_col, band, bucket)`` rows. ONE aggregation per
    (band, bucket) collects the members as a sorted, de-duplicated list
    (never a bucket self-join), bounded to 2..``max_bucket`` rows — a
    10^6-doc boilerplate bucket would mean 10^12 intra-bucket pairs.
    ``emit='pairs'`` gives DataFrame[a, b] with a < b; ``emit='star'``
    gives DataFrame[src, dst], every member linked to the bucket's min id
    (same connected components as the clique, O(n) edges per bucket).
    A repeated id collapses in the member set, so no a == b row appears.
    """
    # size-filter BEFORE the list materializes: the windowed count spills
    # oversized (band, bucket) groups to disk, so a degenerate 10^7-doc
    # boilerplate bucket never builds a giant aggregation buffer only to
    # be dropped; the groupBy reuses the window's exchange (same keys)
    _wb = Window.partitionBy("band", "bucket")
    members = (
        banded.withColumn("_bsz", F.count("*").over(_wb))
        .where((F.col("_bsz") >= 2) & (F.col("_bsz") <= max_bucket))
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("_ids"))
    )
    if emit == "star":
        edges = members.select(F.col("_ids")[0].alias("src"), F.explode(
            F.slice("_ids", 2, F.size("_ids"))).alias("dst"))
    else:
        # sorted members + position slicing emit each a<b pair exactly
        # once — half the rows of the naive double explode
        edges = (
            members.select(F.posexplode("_ids").alias("_pos", "a"), "_ids")
            .select("a", F.explode(
                F.slice("_ids", F.col("_pos") + 2, F.size("_ids"))).alias("b"))
        )
    return edges.distinct()


def _xxhash_key(band: F.Column) -> F.Column:
    return F.xxhash64(band.cast("string"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    content_col: str = "text",
    shingle: int = 5,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs DataFrame[a, b] with a < b.

    bands × rows layout (rows = num_hashes/bands); docs agreeing on ALL
    rows of any band share a bucket. Pairs are generated per (band, bucket)
    group by ``_bucket_pairs`` — the shuffle key is the bucket hash, never
    a global cross join; buckets above ``max_bucket`` docs are dropped.
    Signatures compute once and one band table is shuffled.
    """
    sig = minhash_signature(df.select(id_col, content_col), content_col,
                            num_hashes, shingle)
    banded = _band_buckets(sig, id_col, "minhash", bands,
                           num_hashes // bands, _xxhash_key)
    return _bucket_pairs(banded, id_col, max_bucket)


def lsh_candidate_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    bands: int = 4,
    shingle: int = 5,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash-LSH candidate pairs over the ENGINE-PORTABLE signature
    family (``minhash_portable_udf``: mod-p polynomial char-gram hash +
    8 LCG permutations, every intermediate < 2^62) — same banded
    bucket-pairs step as the production ``lsh_candidate_pairs``, but
    every number is reproducible in ANSI SQL, so the whole band join is
    hard-oracle-able (DuckDB: list_transform/list_reduce signatures →
    string band keys → self-join). Bucket key is the ':'-joined row
    values of the band (a plain string key; the production variant
    xxhash64-compresses it, which is an engine-specific detail).

    ``bands`` must divide 8 (the portable family size). Same
    ``max_bucket`` bound as production: buckets holding more than this
    many docs are dropped (boilerplate guard — a 10^6-doc bucket is
    10^12 intra-bucket pairs)."""
    if 8 % bands != 0:
        raise ValueError(f"bands={bands} must divide the 8-hash portable family")
    sig = _spread_small_scan(df).select(
        F.col(id_col),
        minhash_portable_udf(shingle=shingle)(F.lower(F.col(content_col))).alias("s"),
    )
    banded = _band_buckets(sig, id_col, "s", bands, 8 // bands,
                           lambda v: F.concat_ws(":", v.cast("array<string>")))
    return _bucket_pairs(banded, id_col, max_bucket)


def lsh_bucket_star_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    content_col: str = "text",
    shingle: int = 5,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Near-dup EDGES for clustering: per (band, bucket), connect every
    member to the bucket's min id (a star) instead of emitting all pairs.

    For connected components the star is equivalent to the clique — same
    components — but emits O(n) edges per bucket instead of O(n^2): a
    boilerplate bucket with 10^5 docs yields 10^5 edges, not 10^10. Use
    ``lsh_candidate_pairs`` when per-pair verification (Jaccard) is the
    goal; use this when transitive clustering is.
    """
    sig = minhash_signature(df.select(id_col, content_col), content_col,
                            num_hashes, shingle)
    banded = _band_buckets(sig, id_col, "minhash", bands,
                           num_hashes // bands, _xxhash_key)
    return _bucket_pairs(banded, id_col, max_bucket, emit="star")


def ngram_jaccard_pairs(df: DataFrame, cand: DataFrame, id_col: str = "doc_id",
                        content_col: str = "text", shingle: int = 5,
                        threshold: float = 0.7) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps pairs with
    jaccard >= threshold. The verify step after LSH recall: |cand| pairs,
    two hash joins + one array intersection per pair, all JVM-side."""
    sh = df.select(
        F.col(id_col), _shingle_hashes(content_col, shingle).alias("_sh")
    )
    a = sh.select(F.col(id_col).alias("a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col(id_col).alias("b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = F.size(F.array_union("_sha", "_shb")).cast("double")
    return (
        cand.join(a, "a").join(b, "b")
        .withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def near_dup_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    jaccard_threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 16,
    shingle: int = 5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """One-call near-duplicate dedup: MinHash-LSH recall -> exact shingle-
    Jaccard verification -> connected components -> keep the min-id
    representative per duplicate cluster. Returns the input restricted to
    representatives, plus ``dup_cluster`` and ``n_dupes`` columns.

    ``candidates`` (DataFrame[a, b]) overrides the MinHash-LSH recall
    stage with a caller-supplied candidate set — e.g. winnowing
    candidates, an external blocking, or an engine-independent pair
    construction for oracle testing; the verify -> cluster -> represent
    chain is identical either way.
    """
    from fuzzylink_spark.operators.clustering import connected_components

    cand = candidates if candidates is not None else lsh_candidate_pairs(
        df, id_col=id_col, num_hashes=num_hashes, bands=bands,
        content_col=content_col, shingle=shingle)
    verified = ngram_jaccard_pairs(df, cand, id_col=id_col,
                                   content_col=content_col, shingle=shingle,
                                   threshold=jaccard_threshold)
    edges = verified.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    assign = connected_components(edges).withColumnRenamed("id", id_col)
    joined = df.join(assign, id_col, "left").withColumn(
        "dup_cluster", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("component")
    w = Window.partitionBy("dup_cluster").orderBy(F.col(id_col))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_dupes", F.count("*").over(Window.partitionBy("dup_cluster")))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def winnowing_udf(k: int = 8, w: int = 16, hashed: bool = True):
    """Series→Series pandas UDF: text -> array of winnowing fingerprints
    (distinct sliding-window minima over k-gram values).

    ``hashed`` (default): grams hash through the same vectorized rolling
    polynomial used by MinHash (unbiased selection; one NumPy pass/doc).
    ``hashed=False``: the lexicographic minimum gram STRING per window —
    selection biased toward low-sorting grams, but engine-independent:
    Python/Spark/DuckDB string comparison all follow code-point order
    (== UTF-8 byte order), so the DuckDB oracle reproduces it verbatim.

    An all-Catalyst formulation (transform over sequence with
    slice + array_min) is expressible but measured ~70x slower — the
    same higher-order-array allocation wall as MinHash shingling; this is
    the sanctioned Arrow slow path."""
    base = np.uint64(1_000_003)
    with np.errstate(over="ignore"):
        pows = base ** np.arange(k - 1, -1, -1, dtype=np.uint64)  # wraps mod 2^64

    def _fps_hashed(t: str) -> list[int]:
        bts = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        if len(bts) < k:
            # Python ints masked to 64 bits: identical wrap semantics to
            # the vectorized uint64 path, without numpy's per-doc
            # "overflow encountered in scalar multiply" RuntimeWarning
            # (noise in executor logs; a raise under warnings-as-errors)
            h = 0
            for b in bts:
                h = (h * 1_000_003 + int(b)) & 0xFFFFFFFFFFFFFFFF
            return [h - (1 << 64) if h >= (1 << 63) else h]
        from numpy.lib.stride_tricks import sliding_window_view

        with np.errstate(over="ignore"):
            grams = (sliding_window_view(bts, k).astype(np.uint64)
                     * pows[None, :]).sum(axis=1, dtype=np.uint64)
        if len(grams) <= w:
            mins = grams.min(keepdims=True)
        else:
            mins = sliding_window_view(grams, w).min(axis=1)
        return [int(x) for x in np.unique(mins).astype(np.int64)]

    def _fps_str(t: str) -> list[str]:
        n = len(t) - k + 1
        if n <= 0:
            return [t]
        grams = [t[i:i + k] for i in range(n)]
        if n <= w:
            return [min(grams)]
        # monotonic-deque sliding minimum: O(n) regardless of w
        from collections import deque

        dq: deque[int] = deque()
        out = set()
        for i, g in enumerate(grams):
            while dq and grams[dq[-1]] >= g:
                dq.pop()
            dq.append(i)
            if dq[0] <= i - w:
                dq.popleft()
            if i >= w - 1:
                out.add(grams[dq[0]])
        return sorted(out)

    ret = T.ArrayType(T.LongType() if hashed else T.StringType())

    @F.pandas_udf(ret)
    def _win(texts: pd.Series) -> pd.Series:
        fn = _fps_hashed if hashed else _fps_str
        return pd.Series([fn((t or "").lower()) for t in texts])

    return _win


def winnowing_fingerprints(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
    hashed: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): per sliding window of ``w`` consecutive ``k``-gram values,
    keep the window minimum. GUARANTEE (unlike MinHash/SimHash, which are
    probabilistic): two documents sharing an exact substring of length
    >= k + w - 1 share at least one fingerprint — the exact-substring
    dedup primitive for training-data pipelines. Documents shorter than
    ``k`` fingerprint as their whole content.

    Output: DataFrame[id_col, fp] (fp long when hashed, else string), one
    row per distinct fingerprint per document; see ``winnowing_udf`` for
    the kernel and the hashed/string selection trade-off."""
    return df.select(
        F.col(id_col),
        F.explode(
            winnowing_udf(k=k, w=w, hashed=hashed)(F.col(content_col))
        ).alias("fp"),
    )


def _bound_fp_buckets(fp: DataFrame, max_bucket: int | None,
                      on_oversized: str, what: str,
                      doc_col: str | None = None) -> DataFrame:
    """Shared fingerprint-bucket bound: drop fingerprints whose bucket
    exceeds ``max_bucket`` DOCUMENTS — but NEVER silently.
    ``on_oversized``:

    - ``'warn'`` (default): count oversized buckets and log how many
      fingerprints were dropped + the largest bucket, so boilerplate-
      concentrated recall loss is visible. NOTE: warn/error modes
      evaluate the fingerprint table EAGERLY at call time (one UDF pass,
      localCheckpoint-cached for the stats job and both join sides);
    - ``'error'``: raise instead of dropping — for pipelines where the
      completeness guarantee is the point;
    - ``'ignore'``: no counting job and a fully LAZY plan (scale path
      where the caller has already characterized the corpus).

    ``doc_col``: when ``fp`` has several rows per (document, fingerprint)
    — the positions table of the anchor verify path — bucket size is the
    DISTINCT document count on this column, so the bound means the same
    thing on every path. ``max_bucket=None`` disables bounding entirely
    (full guarantee; the self-join is then quadratic in the largest
    bucket)."""
    if on_oversized not in ("warn", "error", "ignore"):
        raise ValueError(
            f"on_oversized must be warn|error|ignore, got {on_oversized!r}")
    if max_bucket is None:
        return fp
    if on_oversized in ("warn", "error"):
        # the fingerprint UDF otherwise re-evaluates for the stats job and
        # BOTH self-join sides (4 full passes); localCheckpoint pays it
        # once — storage is released by the ContextCleaner when the result
        # plan is dropped.
        fp = fp.localCheckpoint(eager=True)
    counted = (F.count_distinct(F.col(doc_col)) if doc_col is not None
               else F.count(F.lit(1)))
    sizes = fp.groupBy("fp").agg(counted.alias("_n"))
    if on_oversized in ("warn", "error"):
        row = sizes.agg(
            F.sum(F.when(F.col("_n") > max_bucket, 1).otherwise(0))
            .cast("long").alias("n_over"),
            F.max("_n").alias("largest"),
        ).first()
        n_over = int(row["n_over"] or 0)
        if n_over > 0:
            msg = (
                f"{what}: {n_over} fingerprint bucket(s) exceed "
                f"max_bucket={max_bucket} docs (largest={row['largest']}) "
                "and were dropped — document pairs sharing ONLY text "
                "concentrated in those buckets (licenses, boilerplate) "
                "will be missed. Raise max_bucket, pass max_bucket=None "
                "for the unconditional guarantee, or on_oversized="
                "'ignore' to silence."
            )
            if on_oversized == "error":
                raise ValueError(msg)
            log.warning(msg)
    return fp.join(sizes.where(F.col("_n") <= max_bucket), "fp").drop("_n")


def winnowing_candidate_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
    max_bucket: int | None = 1000,
    on_oversized: str = "warn",
) -> DataFrame:
    """Exact-substring near-dup candidates DataFrame[a, b] (a < b): docs
    sharing a winnowing fingerprint — a superset of all pairs sharing an
    exact (k+w-1)-char substring, COMPLETE up to ``max_bucket``:
    fingerprints shared by more than ``max_bucket`` docs are dropped
    (with a logged count — see ``_bound_fp_buckets``; widely-shared
    boilerplate concentrates in exactly those buckets). Pass
    ``max_bucket=None`` for the unconditional guarantee. Equi self-join
    on the fingerprint; verify survivors with
    ``ngram_jaccard_pairs(shingle=k)`` or a direct content compare.

    NOTE eager default: ``on_oversized`` in ('warn', 'error') runs the
    fingerprint UDF + a counting job AT CALL TIME (localCheckpoint-cached;
    storage released by the ContextCleaner when the result plan is
    dropped) so bucket drops are visible before you act on the result;
    pass ``'ignore'`` for a fully lazy plan."""
    fp = winnowing_fingerprints(df, content_col, id_col, k=k, w=w)
    bounded = _bound_fp_buckets(fp, max_bucket, on_oversized, "winnowing")
    left = bounded.select("fp", F.col(id_col).alias("a"))
    right = bounded.select("fp", F.col(id_col).alias("b"))
    return (
        left.join(right, "fp")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def winnowing_pos_udf(k: int = 8, w: int = 16, max_pos_per_fp: int = 32):
    """Series→Series pandas UDF: text -> array<struct<fp long, pos int>>
    of winnowing fingerprints WITH their character positions (the argmin
    gram offset of each window). The anchor-extend verify kernel needs
    positions, so this variant hashes CHARACTER k-grams (one uint32
    codepoint per char via utf-32) rather than the byte k-grams of
    ``winnowing_udf`` — positions then index the Python string directly
    and the k+w-1 guarantee is in characters for any script.

    Windows with identical contents pick the same argmin offset in every
    document (numpy argmin = leftmost minimum), so two docs sharing a
    >= k+w-1-char substring share at least one (fp, pos) anchor at
    ALIGNED positions inside it — the anchor-extend recall precondition.

    ``max_pos_per_fp`` caps how many positions one fingerprint VALUE may
    emit per document (self-repetitive text like "ababab..." selects the
    same gram at many offsets; the cap bounds the candidate-join fanout).
    Recall weakens only for substrings whose every selected gram repeats
    more than the cap times within one document."""
    base = np.uint64(1_000_003)
    with np.errstate(over="ignore"):
        pows = base ** np.arange(k - 1, -1, -1, dtype=np.uint64)
    ret = T.ArrayType(T.StructType([
        T.StructField("fp", T.LongType()),
        T.StructField("pos", T.IntegerType()),
    ]))

    @F.pandas_udf(ret)
    def _win(texts: pd.Series) -> pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view

        out = []
        for t in texts:
            t = (t or "").lower()
            cps = np.frombuffer(t.encode("utf-32-le", "surrogatepass"),
                                dtype=np.uint32)
            n = len(cps) - k + 1
            if n <= 0:
                h = 0
                for c in cps:
                    h = (h * 1_000_003 + int(c)) & 0xFFFFFFFFFFFFFFFF
                out.append([{"fp": h - (1 << 64) if h >= (1 << 63) else h,
                             "pos": 0}])
                continue
            with np.errstate(over="ignore"):
                grams = (sliding_window_view(cps, k).astype(np.uint64)
                         * pows[None, :]).sum(axis=1, dtype=np.uint64)
            if n <= w:
                pos = np.array([int(grams.argmin())], dtype=np.int64)
            else:
                sw = sliding_window_view(grams, w)
                pos = sw.argmin(axis=1) + np.arange(n - w + 1)
            pos = np.unique(pos)
            vals = grams[pos].astype(np.int64)
            seen: dict[int, int] = {}
            fps = []
            for v, p in zip(vals, pos):
                v = int(v)
                c = seen.get(v, 0)
                if c < max_pos_per_fp:
                    seen[v] = c + 1
                    fps.append({"fp": v, "pos": int(p)})
            out.append(fps)
        return pd.Series(out)

    return _win


def anchor_extend_udf(k: int, max_extend_chars: int | None = 1_000_000):
    """(text_a, text_b, anchors array<struct<pa,pb>>) -> longest common
    substring length THROUGH any aligned anchor, by greedy left/right
    extension on the lowercased texts.

    O(anchors + extended chars) per pair — never O(La*Lb): anchors on the
    same diagonal (pb - pa) are skipped once a previous extension already
    covered them, and each anchor is collision-checked (k-gram equality)
    before extending. Equal to the TRUE longest-common-substring length
    whenever that length >= k+w-1 (the winnowing guarantee places an
    aligned anchor inside every such substring).

    ``max_extend_chars`` is the per-pair EXTENSION BUDGET (total matched
    characters walked across all anchors, default 1M): two highly
    repetitive near-identical documents place surviving anchors on many
    distinct diagonals, and re-extending each diagonal is O(doc len) — the
    budget gives the verify stage a stated per-pair ceiling of
    O(anchors + max_extend_chars). Diagonals are processed DENSEST-FIRST
    (a shared run of length L contributes ~L/w anchors on ONE diagonal),
    so the budget reaches the dominant shared run before scattered noise
    diagonals; a pair that exhausts the budget reports the best completed
    extension — a LOWER BOUND on the true common length — and a warning is
    logged once per worker. ``None`` disables the cap (exact for every
    anchor, unbounded worst case)."""

    warned = [False]  # once-per-python-worker cap warning

    @F.pandas_udf(T.IntegerType())
    def _ext(a: pd.Series, b: pd.Series, anchors: pd.Series) -> pd.Series:
        out = np.zeros(len(a), dtype=np.int32)
        for i, (ta, tb, anc) in enumerate(zip(a, b, anchors)):
            ta = (ta or "").lower()
            tb = (tb or "").lower()
            la, lb = len(ta), len(tb)
            best = 0
            walked = 0
            diag_end: dict[int, int] = {}
            items = [(int(x["pa"]), int(x["pb"])) for x in anc]
            diag_n: dict[int, int] = {}
            for pa, pb in items:
                d = pb - pa
                diag_n[d] = diag_n.get(d, 0) + 1
            # densest diagonal first: the longest shared run has the most
            # anchors on its diagonal, so the budget covers it before any
            # noise diagonal; within a diagonal left-to-right for the
            # diag_end skip
            items.sort(key=lambda t: (-diag_n[t[1] - t[0]], t[1] - t[0], t[0]))
            for pa, pb in items:
                d = pb - pa
                if pa < diag_end.get(d, 0):
                    continue  # inside a previous extension on this diagonal
                if ta[pa:pa + k] != tb[pb:pb + k]:
                    continue  # 64-bit gram-hash collision
                i0, j0 = pa - 1, pb - 1
                while i0 >= 0 and j0 >= 0 and ta[i0] == tb[j0]:
                    i0 -= 1
                    j0 -= 1
                # whole-doc anchors of sub-k documents match on TRUNCATED
                # slices — start the right extension at the true matched
                # length, not pa+k (which would overshoot string ends and
                # inflate common_len)
                m = min(k, la - pa, lb - pb)
                i1, j1 = pa + m, pb + m
                while i1 < la and j1 < lb and ta[i1] == tb[j1]:
                    i1 += 1
                    j1 += 1
                diag_end[d] = i1
                if i1 - i0 - 1 > best:
                    best = i1 - i0 - 1
                walked += i1 - i0 - 1
                if max_extend_chars is not None and walked > max_extend_chars:
                    if not warned[0]:
                        warned[0] = True
                        logging.getLogger(__name__).warning(
                            "anchor_extend: per-pair extension budget "
                            "max_extend_chars=%d exhausted (best completed "
                            "extension=%d chars is reported — a lower bound "
                            "on the true common length). Raise the budget "
                            "or pass None for exact-at-any-cost.",
                            max_extend_chars, best)
                    break
            out[i] = best
        return pd.Series(out)

    return _ext


def exact_substring_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 23,
    k: int = 8,
    w: int = 16,
    max_bucket: int | None = 1000,
    on_oversized: str = "warn",
    verify: str = "anchor",
    max_pos_per_fp: int | None = 32,
    max_extend_chars_per_pair: int | None = 1_000_000,
) -> DataFrame:
    """GUARANTEED exact-substring near-dup pairs DataFrame[a, b,
    common_len]: every document pair sharing an exact substring of length
    >= ``min_len`` appears (winnowing recall is complete above the k+w-1
    threshold — COMPLETE up to the two bounds below), and every emitted
    pair is VERIFIED with the true longest-common-substring length — the
    training-data contamination / license-text / boilerplate detector
    with no probabilistic slack.

    Completeness bounds (each disable-able for the unconditional
    guarantee):
    - ``max_bucket``: fingerprints shared by more than this many DOCUMENTS
      are dropped, with a logged count (``on_oversized='warn'``), a raise
      (``'error'``), or silently+lazily (``'ignore'``); ``None`` disables.
      warn/error modes evaluate the fingerprint pass eagerly at call time.
    - ``max_pos_per_fp`` (anchor path only): at most this many positions
      of ONE fingerprint value are kept per document — recall can drop
      only for substrings whose every selected gram repeats more than the
      cap times within a single document (self-repetitive text such as
      "abab..."); ``None`` disables the cap (must be >= 1 otherwise).
    - ``max_extend_chars_per_pair`` (anchor path only): per-pair extension
      budget in matched characters walked across all anchors — the verify
      stage's stated ceiling, O(anchors + budget) per pair. Diagonals are
      extended densest-first so the budget reaches the dominant shared run
      before noise diagonals; a pair that exhausts it reports a LOWER
      BOUND ``common_len`` (warning logged once per worker). ``None``
      disables the cap.

    Requires ``min_len >= k + w - 1`` (below that the fingerprint recall
    guarantee doesn't hold — lower k/w instead).

    NOTE eager default: ``on_oversized`` in ('warn', 'error') runs the
    fingerprint UDF + a counting job AT CALL TIME (localCheckpoint-cached,
    released by the ContextCleaner with the result plan) so bucket drops
    are visible before you act on the result; pass ``'ignore'`` for a
    fully lazy plan once the corpus is characterized.

    ``verify='anchor'`` (default, the scale path): fingerprints carry
    their character positions; candidates are (fp-bucketed) position
    pairs, and verification greedily extends around each aligned anchor —
    O(anchors + shared-region chars) per pair, so two 100 KB documents
    sharing a 1 KB slice verify in microseconds. ``verify='dp'`` runs the
    batch O(La*Lb) longest-common-substring DP instead (exact for ANY
    length, bounded-input mode: ~10^10 cell updates per 100 KB pair).
    Both report the same ``common_len`` for every emitted pair, because
    anchor-extension equals the true LCS length whenever it is
    >= k+w-1 <= min_len."""
    if max_pos_per_fp is not None and max_pos_per_fp < 1:
        # `or`-defaulting would have treated an explicit 0 as "uncapped"
        raise ValueError(
            f"max_pos_per_fp={max_pos_per_fp} must be >= 1, or None to "
            "disable the per-document position cap"
        )
    if min_len < k + w - 1:
        raise ValueError(
            f"min_len={min_len} is below the winnowing recall guarantee "
            f"threshold k+w-1={k + w - 1}: pairs sharing only a shorter "
            "substring can miss every fingerprint window — lower k or w"
        )
    sc = df.sparkSession.sparkContext
    n_part = max(sc.defaultParallelism * 2, 8)
    texts = df.select(F.col(id_col), F.col(content_col))
    a_txt = texts.select(F.col(id_col).alias("a"), F.col(content_col).alias("_ta"))
    b_txt = texts.select(F.col(id_col).alias("b"), F.col(content_col).alias("_tb"))
    if verify == "dp":
        from fuzzylink_spark.functions.strdist import common_substring_udf

        cand = winnowing_candidate_pairs(df, content_col, id_col, k=k, w=w,
                                         max_bucket=max_bucket,
                                         on_oversized=on_oversized)
        # the verify stage is compute-dense but tiny in BYTES — AQE's
        # byte-based coalescing would collapse it to one task (the same
        # wall the GEMM tiles hit); pin the fan-out explicitly
        joined = cand.join(a_txt, "a").join(b_txt, "b").repartition(n_part)
        verified = joined.withColumn(
            "common_len", common_substring_udf(F.col("_ta"), F.col("_tb")))
    elif verify == "anchor":
        fpp = df.select(
            F.col(id_col),
            F.explode(
                winnowing_pos_udf(
                    k=k, w=w,
                    max_pos_per_fp=(2**31 - 1 if max_pos_per_fp is None
                                    else max_pos_per_fp))(F.col(content_col))
            ).alias("s"),
        ).select(F.col(id_col), F.col("s.fp").alias("fp"), F.col("s.pos").alias("pos"))
        # bucket size counts DISTINCT documents (doc_col), not position
        # rows, so max_bucket means the same thing as on the dp path
        bounded = _bound_fp_buckets(fpp, max_bucket, on_oversized,
                                    "exact_substring_pairs", doc_col=id_col)
        left = bounded.select("fp", F.col(id_col).alias("a"), F.col("pos").alias("pa"))
        right = bounded.select("fp", F.col(id_col).alias("b"), F.col("pos").alias("pb"))
        anchors = (
            left.join(right, "fp")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.collect_list(F.struct("pa", "pb")).alias("_anchors"))
        )
        joined = anchors.join(a_txt, "a").join(b_txt, "b").repartition(n_part)
        verified = joined.withColumn(
            "common_len",
            anchor_extend_udf(k, max_extend_chars_per_pair)(
                F.col("_ta"), F.col("_tb"), F.col("_anchors")),
        )
    else:
        raise ValueError(f"verify must be 'anchor' or 'dp', got {verify!r}")
    return (
        verified
        .where(F.col("common_len") >= min_len)
        .select("a", "b", F.col("common_len").cast("long").alias("common_len"))
    )


def exact_substring_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 23,
    k: int = 8,
    w: int = 16,
    max_bucket: int | None = 1000,
    on_oversized: str = "warn",
    max_extend_chars_per_pair: int | None = 1_000_000,
) -> DataFrame:
    """One-call GUARANTEED exact-substring dedup (the license/boilerplate/
    contamination cleaner): ``exact_substring_pairs`` (winnowing recall +
    anchor-extend verification) -> connected components -> keep the
    min-id representative per group. Returns the input restricted to
    representatives plus ``dup_cluster`` and ``n_dupes`` — the same
    output contract as ``exact_dedup`` / ``near_dup_dedup``, with the
    membership criterion "shares an exact substring of >= min_len chars
    with some group member" (transitively)."""
    from fuzzylink_spark.operators.clustering import connected_components

    pairs = exact_substring_pairs(
        df, content_col, id_col, min_len=min_len, k=k, w=w,
        max_bucket=max_bucket, on_oversized=on_oversized,
        max_extend_chars_per_pair=max_extend_chars_per_pair)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    assign = connected_components(edges).withColumnRenamed("id", id_col)
    joined = df.join(assign, id_col, "left").withColumn(
        "dup_cluster", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("component")
    win = Window.partitionBy("dup_cluster").orderBy(F.col(id_col))
    return (
        joined.withColumn("_rn", F.row_number().over(win))
        .withColumn("n_dupes", F.count("*").over(Window.partitionBy("dup_cluster")))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# 8 classic LCG (multiplier, increment) pairs: the universal-hash
# permutation family of the PORTABLE MinHash variant. All multipliers
# < 2^31, so a*h < 2^62 is exact in int64 on every engine.
PORTABLE_COEFFS = (
    (1664525, 1013904223), (22695477, 1), (69069, 362437),
    (1103515245, 12345), (134775813, 1), (214013, 2531011),
    (16807, 0), (48271, 11),
)
PORTABLE_P = 2_147_483_647  # 2^31 - 1


def minhash_portable_udf(shingle: int = 5, coeffs=PORTABLE_COEFFS,
                         mult: int = 131, p: int = PORTABLE_P):
    """Series→Series pandas UDF: text -> engine-portable MinHash signature
    (array<long>, one min per permutation).

    Same algorithm family as the production ``minhash_udf`` (rolling
    polynomial gram hash + universal-hash permutations + min), but every
    intermediate stays below 2^62 so ANY engine with 64-bit integers
    reproduces it EXACTLY — no wraparound semantics required:

      gram hash   h(g) = fold over codepoints: (acc*mult + cp) mod p
      permutation m_i  = min over grams of (a_i*h + b_i) mod p

    The production variant hashes in the full 2^64 space (lower collision
    rate, byte-level vectorization); this one trades hash width for a
    DuckDB/ANSI-SQL oracle (list_transform + list_reduce + list_aggregate
    computes the identical signature). Collisions at 2^31 only merge
    mins, and only matter for Jaccard ESTIMATION error — acceptable for
    the verification use."""
    pows = np.array([pow(mult, shingle - 1 - j, p) for j in range(shingle)],
                    dtype=np.int64)
    a = np.array([c[0] for c in coeffs], dtype=np.int64)
    b = np.array([c[1] for c in coeffs], dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view

        out = []
        for t in texts:
            t = t or ""
            cps = np.frombuffer(t.encode("utf-32-le", "surrogatepass"),
                                dtype=np.uint32).astype(np.int64)
            n = len(cps) - shingle + 1
            if n <= 0:
                out.append([])
                continue
            # sum(cp * (mult^j mod p)) ≡ the stepwise fold mod p; each
            # term < 2^52, the k-term sum < 2^55 — exact in int64
            g = (sliding_window_view(cps, shingle) * pows[None, :]).sum(axis=1) % p
            mh = ((a[:, None] * g[None, :] + b[:, None]) % p).min(axis=1)
            out.append([int(x) for x in mh])
        return pd.Series(out)

    return _sig


def simhash64_udf(seed: int = 11):
    """Series→Series pandas UDF: text -> 64-bit SimHash (signed long).

    Per token: two crc32s (seeded) give a 64-bit hash; each bit votes ±1;
    sketch bit j = 1 iff the vote sum > 0. NumPy unpacks all token hashes
    to a bit matrix and sums once per document. (A pure-Catalyst
    formulation with 64-element accumulator arrays works but is an order
    of magnitude slower — higher-order array expressions defeat codegen.)
    """

    @F.pandas_udf(T.LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").lower().split()
            if not toks:
                continue
            hs = np.fromiter(
                (
                    (zlib.crc32(w.encode("utf-8"), seed) << 32)
                    | zlib.crc32(w.encode("utf-8"), seed + 1)
                    for w in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            sketch = np.uint64(0)
            for j in np.nonzero(votes > 0)[0]:
                sketch |= np.uint64(1) << np.uint64(j)
            out[i] = np.int64(sketch.astype(np.int64))
        return pd.Series(out)

    return _sh


def _simhash_band_pairs(sk: DataFrame, id_col: str,
                        max_hamming: int) -> DataFrame:
    """Pairs of ``_sk`` sketches within ``max_hamming`` bits: band each
    sketch into 4×16-bit chunks (a 62-bit sketch's top chunk has 14),
    equi-join per chunk, exact Hamming filter via bit_count. By
    pigeonhole, any pair within Hamming distance 3 shares ≥1 exact chunk."""
    banded = sk.select(
        id_col, "_sk",
        F.posexplode(F.array(*[
            F.shiftright(F.col("_sk"), i * 16).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)
        ])).alias("chunk", "val"),
    )
    left = banded.select("chunk", "val", F.col(id_col).alias("a"), F.col("_sk").alias("_ska"))
    right = banded.select("chunk", "val", F.col(id_col).alias("b"), F.col("_sk").alias("_skb"))
    hamming = F.bit_count(F.col("_ska").bitwiseXOR(F.col("_skb")))
    return (
        left.join(right, ["chunk", "val"])
        .where(F.col("a") < F.col("b"))
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


def simhash_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                            content_col: str = "text",
                            max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit sketch into 4×16-bit chunks;
    by pigeonhole, any pair within Hamming distance 3 shares ≥1 exact
    chunk → equi-join per chunk, then exact Hamming filter via bit_count."""
    sk = _spread_small_scan(df).select(
        F.col(id_col), simhash64_udf()(F.col(content_col)).alias("_sk"))
    return _simhash_band_pairs(sk, id_col, max_hamming)


def simhash62_portable_udf(p: int = PORTABLE_P):
    """Series→Series pandas UDF: text -> engine-portable 62-bit SimHash
    (signed long; NULL when the text has no tokens).

    Same algorithm family as the production ``simhash64_udf`` (per-token
    hash -> per-bit ±1 votes -> sign sketch) but every step is exact
    int64 arithmetic ANY engine replays: token hash is the mod-p
    polynomial codepoint fold ((acc*131 + cp) % p, the minhash_portable
    gram hash over the whole token), bit j's universal hash uses LCG-
    derived coefficients a_j|1, b_j, and the sketch keeps 62 bits so the
    BIGINT shift never touches the sign bit. ~10x slower than the
    crc32-vectorized production UDF — use it for oracles and parity
    checks, not the 100 TB hot path."""
    import re as _re

    A, C = 1103515245, 12345
    j = np.arange(62, dtype=np.int64)
    aj = (((A * (j * 211 + 1) + C) % p) | 1)
    bj = ((A * (j * 313 + 7) + C) % p)

    @F.pandas_udf(T.LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = [w for w in _re.split(r"[ \t\n\r\f\v]+", (t or "").lower())
                    if w]
            if not toks:
                out.append(None)
                continue
            hs = np.empty(len(toks), dtype=np.int64)
            for ti, w in enumerate(toks):
                acc = 0
                for ch in w:
                    acc = (acc * 131 + ord(ch)) % p
                hs[ti] = acc
            # (62, ntok): a_j*h < 2^62 — exact in int64
            bits = ((aj[:, None] * hs[None, :] + bj[:, None]) % p) % 2
            votes = (2 * bits - 1).sum(axis=1)
            sk = 0
            for jj in np.nonzero(votes > 0)[0]:
                sk |= 1 << int(jj)
            out.append(sk)
        return pd.Series(out, dtype="object")

    return _sh


def simhash_candidate_pairs_portable(df: DataFrame, id_col: str = "doc_id",
                                     content_col: str = "text",
                                     max_hamming: int = 8) -> DataFrame:
    """Engine-portable twin of ``simhash_candidate_pairs``: band the
    62-bit portable sketch into 4 chunks (16/16/16/14 bits), equi-join
    per chunk, exact Hamming filter via bit_count. Pigeonhole guarantees
    completeness only to Hamming <= 3; above that both engines replay
    the SAME banded recall, so the DuckDB value oracle stays exact.
    Same 100 TB plan shape as the production variant: scan-local
    sketching, bounded chunk equi-join, no all-pairs anywhere."""
    sk = _spread_small_scan(df).select(
        F.col(id_col), simhash62_portable_udf()(F.col(content_col)).alias("_sk"))
    return _simhash_band_pairs(sk.where(F.col("_sk").isNotNull()), id_col,
                               max_hamming)
