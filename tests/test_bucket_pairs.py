"""Tests: the shared LSH bucket-pairs step behind the five near-dup operators."""

from __future__ import annotations

import re

import pytest

from fuzzylink_spark.functions.vectors import embed_strings
from fuzzylink_spark.operators.dedup import (
    _spread_small_scan,
    lsh_bucket_star_edges,
    lsh_candidate_pairs,
    lsh_candidate_pairs_portable,
)
from fuzzylink_spark.operators.similarity_search import (
    embedding_near_dup_pairs,
    embedding_near_dup_portable,
)

_BASES = [
    "the quick brown fox jumps over the lazy dog and runs far away home",
    "spark shuffles rows between executors when the join keys disagree",
    "record linkage scores every candidate pair inside a single block",
    "minhash signatures estimate the jaccard similarity of shingle sets",
    "a sorted member list emits each pair of a bucket exactly once",
    "the committee approved the annual budget after a long debate today",
    "fresh bread from the corner bakery sells out before nine each morning",
    "rivers carry sediment downstream and build deltas at their mouths",
    "the orchestra tuned their instruments before the evening concert",
    "volunteers planted two hundred trees along the northern riverbank",
]
_EDITS = ["", " again", " today and tomorrow", "!", " - reprinted"]


@pytest.fixture(scope="module")
def texts():
    # 50 docs: 10 base sentences x 5 light edits, so buckets hold real pairs
    return [b + e for b in _BASES for e in _EDITS]


@pytest.fixture(scope="module")
def docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark, texts):
    mat = embed_strings(texts, dim=64)
    return spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(texts))],
        "vec_id long, embedding array<float>",
    )


_OPERATORS = {
    "lsh_candidate_pairs": lambda d, v: lsh_candidate_pairs(
        d, num_hashes=32, bands=16, shingle=5),
    "lsh_candidate_pairs_portable": lambda d, v: lsh_candidate_pairs_portable(
        d, bands=4, shingle=5),
    "lsh_bucket_star_edges": lambda d, v: lsh_bucket_star_edges(
        d, num_hashes=16, bands=8, shingle=5),
    "embedding_near_dup_pairs": lambda d, v: embedding_near_dup_pairs(
        v, threshold=0.9),
    "embedding_near_dup_portable": lambda d, v: embedding_near_dup_portable(
        v, threshold=0.9),
}


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_duplicate_ids_emit_no_self_pairs(docs, vectors, name):
    """Every id appears twice: no operator may pair an id with itself, and
    the distinct-id pair set equals the single-copy run."""
    op = _OPERATORS[name]

    def id_pairs(df):
        first, second = df.columns[:2]
        return {(r[first], r[second]) for r in df.collect()}

    single = id_pairs(op(docs, vectors))
    doubled = id_pairs(op(docs.unionByName(docs),
                          vectors.unionByName(vectors)))
    assert single, f"{name}: fixture produced no pairs"
    assert not [p for p in doubled if p[0] == p[1]]
    assert doubled == single


def _count(df, pattern: str) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(pattern, plan))


_PY_EVAL = r"ArrowEvalPython|BatchEvalPython"
_BUCKET_SHUFFLE = r"Exchange hashpartitioning\(band#\d+, bucket#"


def test_bucket_pairs_plan_shape(docs, vectors):
    """The bucketing UDF runs once per operator: the embedding near-dup
    plan no longer re-evaluates it per join branch (4 times under the old
    bucket-size join-back + self-join), and each embedding plan shuffles
    the band table once (the size window and the member aggregation
    share that exchange)."""
    emb = embedding_near_dup_pairs(vectors, threshold=0.9)
    assert _count(emb, _PY_EVAL) == 1
    assert _count(emb, _BUCKET_SHUFFLE) == 1
    port = embedding_near_dup_portable(vectors, threshold=0.9)
    assert _count(port, _BUCKET_SHUFFLE) == 1
    assert _count(lsh_candidate_pairs(docs), _PY_EVAL) == 1
    assert _count(lsh_bucket_star_edges(docs), _PY_EVAL) == 1


class _ConnectSession:
    @property
    def sparkContext(self):
        raise RuntimeError("sparkContext is not available under Spark Connect")


class _ConnectFrame:
    sparkSession = _ConnectSession()

    def inputFiles(self):
        return ["file:/data/documents.parquet"]


def test_spread_small_scan_without_spark_context():
    frame = _ConnectFrame()
    assert _spread_small_scan(frame) is frame
