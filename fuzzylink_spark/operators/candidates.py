"""Candidate-pair inputs (operator J2): distinct keys per block.

Reference semantics: per block, every *unique* A-string crosses every
unique B-string and gets a cosine score (the per-block dense matrix loop at
R/fuzzylink.R:113-155, melted to long form at :165-172). Relationally that
is a within-block cross join of the two distinct-key sets. The pairs
themselves are generated inside the skew-proof 2-D GEMM tiles of
``features.cogrouped_pair_features``; this module builds the distinct
(block_key, key) sides they cross — pairs are generated over unique
strings, never raw rows (the reference also dedups first,
R/fuzzylink.R:150-151) — and the per-block pair counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unique_keys_per_block(df: DataFrame, by: str) -> DataFrame:
    """Distinct (block_key, key) pairs for one side (P2 within block)."""
    return (
        df.select("block_key", F.col(by).alias("key"))
        .where(F.col("key").isNotNull())
        .distinct()
    )


def pair_stats(uA: DataFrame, uB: DataFrame) -> DataFrame:
    """Per-block candidate-pair counts (metrics/lineage side output)."""
    ca = uA.groupBy("block_key").agg(F.count("*").alias("n_a"))
    cb = uB.groupBy("block_key").agg(F.count("*").alias("n_b"))
    return ca.join(cb, "block_key", "outer").na.fill(0).withColumn(
        "n_pairs", F.col("n_a") * F.col("n_b")
    )
