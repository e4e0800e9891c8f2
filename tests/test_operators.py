"""Unit tests per operator: encoder, cosine, cutoff,
sampling, EM mixture, connected components."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzylink_spark.functions.vectors import embed_strings, embed_keys
from fuzzylink_spark.operators.clustering import (
    clusters_to_pairs,
    connected_components,
    pairwise_f1,
)
from fuzzylink_spark.operators.cutoff import accepted_matches, expected_f1_cutoff
from fuzzylink_spark.operators.sampling import (
    kernel_weight_col,
    top_k_per_group,
    weighted_sample_n,
)
from fuzzylink_spark.operators.scoring import (
    fit_logit,
    fit_mixture_em,
    fit_mixture_multi_init,
)


# --- encoder -----------------------------------------------------------------

def test_encoder_deterministic_and_unit_norm():
    m1 = embed_strings(["alpha", "beta", ""], dim=64)
    m2 = embed_strings(["alpha", "beta", ""], dim=64)
    assert np.array_equal(m1, m2)
    norms = np.linalg.norm(m1, axis=1)
    assert norms[0] == pytest.approx(1.0, abs=1e-5)
    assert norms[2] == 0.0  # empty string -> zero vector


def test_encoder_similarity_ordering():
    m = embed_strings(["joe biden", "joseph biden", "donald trump"], dim=256)
    sim_close = float(m[0] @ m[1])
    sim_far = float(m[0] @ m[2])
    assert sim_close > sim_far


def test_embed_keys_distinct(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",), (None,)], "key string")
    out = embed_keys(df, "key", dim=32)
    assert out.count() == 2
    row = out.where("key = 'a'").first()
    assert len(row["embedding"]) == 32


# --- cutoff ------------------------------------------------------------------

def _pair_df(spark, probs, labels=None):
    labels = labels or [None] * len(probs)
    return spark.createDataFrame(
        [(f"a{i}", f"b{i}", float(p), l) for i, (p, l) in enumerate(zip(probs, labels))],
        "A string, B string, match_probability double, match string",
    )


def test_cutoff_bimodal(spark):
    probs = [0.01] * 50 + [0.95] * 10
    df = _pair_df(spark, probs)
    cut = expected_f1_cutoff(df, exact=True)
    # strict p > cutoff acceptance: the boundary may sit ON the low mode
    assert 0.01 <= cut <= 0.95
    kept = accepted_matches(df, cut)
    assert kept.count() == 10


def test_cutoff_histogram_close_to_exact(spark):
    rng = np.random.default_rng(0)
    probs = list(np.clip(rng.beta(0.5, 8, 400), 0, 1)) + list(
        np.clip(rng.beta(9, 0.6, 60), 0, 1)
    )
    df = _pair_df(spark, probs)
    exact = expected_f1_cutoff(df, exact=True)
    hist = expected_f1_cutoff(df, bins=2000)
    kept_exact = accepted_matches(df, exact).count()
    kept_hist = accepted_matches(df, hist).count()
    assert abs(kept_exact - kept_hist) <= 3


def test_cutoff_fallback_on_empty(spark):
    df = _pair_df(spark, [])
    assert expected_f1_cutoff(df, exact=True, fallback=0.5) == 0.5


def test_accepted_respects_labels(spark):
    df = _pair_df(spark, [0.9, 0.9, 0.1], ["No", None, "Yes"])
    kept = accepted_matches(df, 0.5)
    got = {r["A"] for r in kept.collect()}
    assert got == {"a1", "a2"}  # labeled-No dropped despite p>cutoff; Yes kept


# --- sampling ----------------------------------------------------------------

def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g1", f"b{i}", float(i)) for i in range(10)]
        + [("g2", "b0", 1.0)],
        "A string, B string, sim double",
    )
    out = top_k_per_group(df, "A", "sim", 3)
    assert out.where("A='g1'").count() == 3
    assert out.where("A='g2'").count() == 1
    top = {r["B"] for r in out.where("A='g1'").collect()}
    assert top == {"b7", "b8", "b9"}


def test_weighted_sample_excludes_zero_weight(spark):
    df = _pair_df(spark, [0.5] * 20 + [0.999999999] * 20)
    # kernel weight ~0 for extreme p, high near p=0.5
    w = kernel_weight_col()
    out = weighted_sample_n(df, w, 10, seed=1)
    probs = [r["match_probability"] for r in out.collect()]
    assert len(probs) == 10
    assert all(p == 0.5 for p in probs)


def test_weighted_sample_deterministic(spark):
    df = _pair_df(spark, list(np.linspace(0.05, 0.95, 50)))
    w = kernel_weight_col()
    s1 = sorted(r["A"] for r in weighted_sample_n(df, w, 5, seed=7).collect())
    s2 = sorted(r["A"] for r in weighted_sample_n(df, w, 5, seed=7).collect())
    assert s1 == s2


# --- models ------------------------------------------------------------------

def test_logit_separates(spark):
    rows = [("a", "b", 0.9, 0.85, "Yes")] * 30 + [("c", "d", 0.2, 0.3, "No")] * 30
    df = spark.createDataFrame(rows, "A string, B string, sim double, jw double, match string")
    model = fit_logit(df, ["sim", "jw"])
    scored = df.withColumn("p", model.score_col())
    ps = scored.select("match", "p").collect()
    for r in ps:
        assert (r["p"] > 0.9) == (r["match"] == "Yes")


def test_em_recovers_bimodal():
    rng = np.random.default_rng(3)
    low = rng.normal(0.2, 0.05, 5000)
    high = rng.normal(0.85, 0.04, 300)
    hist: dict[int, int] = {}
    for x in np.concatenate([low, high]):
        b = int(max(0, min(999, (x + 1) / 2 * 1000)))
        hist[b] = hist.get(b, 0) + 1
    hist_list = [(-1 + (b + 0.5) / 500, n) for b, n in hist.items()]
    model = fit_mixture_multi_init(hist_list)
    assert model.mu1 == pytest.approx(0.85, abs=0.05)
    assert model.mu0 == pytest.approx(0.2, abs=0.05)
    assert model.pi1 == pytest.approx(300 / 5300, rel=0.5)


# --- connected components ----------------------------------------------------

def test_cc_two_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "src long, dst long"
    )
    assign = connected_components(edges)
    comp = {r["id"]: r["component"] for r in assign.collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == comp[12] == 10


def test_cc_chain_and_star(spark):
    # long chain exercises multiple star rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "src long, dst long"
    )
    assign = connected_components(edges)
    comps = {r["component"] for r in assign.collect()}
    assert comps == {1}
    assert assign.count() == 30


def test_pairwise_f1_and_expansion(spark):
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "id long, component long"
    )
    pairs = clusters_to_pairs(assign)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5)}
    gold = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (4, 5)], "a long, b long")
    m = pairwise_f1(pairs, gold)
    assert m["f1"] == 1.0
