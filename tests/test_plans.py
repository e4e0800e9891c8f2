"""Physical-plan checks: pushdown, broadcast, no accidental cartesians.

These pin the *plan shape*, not results — the properties that decide
whether the same code survives a 100x scale-up."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_filter_and_projection_pushed_to_parquet(spark, docs):
    plan = (
        docs.where(F.col("n_chars") > 300)
        .select("doc_id", "lang")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "n_chars" in plan.split("PushedFilters")[1][:200]
    # projection pruning: the scan must not read the wide text column
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" not in read_schema


def test_blocking_semi_join_broadcasts(spark, docs):
    from fuzzylink_spark.operators.blocking import add_block_key, distinct_blocks, semi_join_blocks

    dfa = docs.limit(100).withColumnRenamed("text", "name")
    blocks = distinct_blocks(dfa.select("name", "lang"), ["lang"])
    pruned = semi_join_blocks(docs.withColumnRenamed("text", "name"), blocks, ["lang"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_whole_stage_codegen_on_text_analysis(spark, docs):
    from fuzzylink_spark.functions.text import quality_score, token_count

    plan = (
        docs.select(token_count("text").alias("t"), quality_score("text").alias("q"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # pure Catalyst: single Project over the scan, zero Python operators
    # (higher-order array functions run JVM-side but outside codegen)
    assert "Python" not in plan
    assert "FileScan parquet" in plan
    assert "*(" in plan  # codegen active on the scan stage


def test_cogroup_partitioning_pinned(spark):
    """The featurization cogroup must hash-partition on the tile key with
    an explicit (AQE-immune) partition count, and every tile output
    (melt, accept, band, histogram) must run the one Arrow kernel."""
    from fuzzylink_spark.operators.candidates import unique_keys_per_block
    from fuzzylink_spark.operators.blocking import add_block_key
    from fuzzylink_spark.functions.vectors import embed_strings
    from fuzzylink_spark.operators.features import (
        cogrouped_pair_features, cogrouped_pair_histogram)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    keyed = add_block_key(docs.select(F.substring("text", 1, 30).alias("k"), "lang"), ["lang"])
    u = unique_keys_per_block(keyed, "k")
    kw = dict(encoder=lambda ks: embed_strings(ks, dim=32), pair_budget=1000)
    accept = (lambda x, y: x, 0.5)
    outputs = {
        "melt": cogrouped_pair_features(u, u, **kw),
        "accept": cogrouped_pair_features(u, u, accept=accept, **kw),
        "band": cogrouped_pair_features(u, u, accept=accept, band=(0.1, 5), **kw),
        "hist": cogrouped_pair_histogram(u, u, **kw),
    }
    for name, df in outputs.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInArrow" in plan, name
        assert "FlatMapCoGroupsInPandas" not in plan, name
        assert "REPARTITION_BY_NUM" in plan or "hashpartitioning" in plan, name
