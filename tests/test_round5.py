"""Round-5 regression tests: explicit ScoredPairs cache ownership,
twopass persist-leak-on-raise, anchor-extend worst-case bound, and the
max_pos_per_fp=0 validation (r4 verdict #6/#7 + ADVICE items 1/2/5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuzzylink_spark.config import LinkConfig
from fuzzylink_spark.sources.synth import voters


def _cached_ids(spark) -> set:
    """Ids of RDDs the context currently tracks as persistent. Compared
    as a SET DIFF (no new ids leaked), not an exact count: the shared
    test session's ContextCleaner collects earlier tests' stale entries
    asynchronously, so absolute counts can shrink mid-test."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_scored_pairs_release_after_transform(spark):
    """The old df._link_intermediates dynamic attribute was silently
    dropped by ANY transformation between producer and consumer; the
    ScoredPairs handle must survive arbitrary downstream transforms and
    actually unpersist the upstream caches."""
    from fuzzylink_spark.pipeline import build_scored_pairs

    dfa, dfb, _ = voters(spark, n_base=40, seed=7)
    cfg = LinkConfig(by="full_name", blocking_keys=["city"], embedding_dim=32)
    before = _cached_ids(spark)
    sp = build_scored_pairs(spark, dfa, dfb, cfg)
    # the handle lists the persisted upstream frames (blocks, uA, uB,
    # salt plan) and they are really persisted
    assert len(sp.intermediates) == 4
    held = list(sp.intermediates)
    assert all(d.storageLevel.useMemory for d in held)

    # transform + materialize downstream of the handle — the exact shape
    # that used to drop the dynamic attribute
    out = sp.df.select("A", "B").where(F.col("sim") >= -1.0).persist()
    assert out.count() > 0
    sp.release_intermediates()
    assert sp.intermediates == []          # idempotent handle drained
    assert all(not d.storageLevel.useMemory for d in held)
    sp.release_intermediates()             # second call is a no-op
    out.unpersist()
    assert _cached_ids(spark) - before == set()  # nothing NEW leaked


def test_twopass_raise_releases_all_persists(spark):
    """ADVICE r4 item 1: a raise DURING setup (after the first persist,
    before the body) must release every cache made so far — the
    no-dfB-overlap ValueError fires after blocks/uA/uB are persisted."""
    from fuzzylink_spark.pipeline import fuzzylink_twopass

    dfa, dfb, _ = voters(spark, n_base=30, seed=11)
    dfb_disjoint = dfb.withColumn("city", F.concat(F.lit("zz_"), F.col("city")))
    before = _cached_ids(spark)
    with pytest.raises(ValueError, match="no overlap"):
        fuzzylink_twopass(spark, dfa, dfb_disjoint, by="full_name",
                          blocking_keys=["city"],
                          config=LinkConfig(embedding_dim=32))
    assert _cached_ids(spark) - before == set()


def test_max_pos_per_fp_zero_rejected():
    """ADVICE r4 item 2: max_pos_per_fp=0 used to silently DISABLE the
    cap (`0 or 2**31-1`); it must raise instead, and None must mean
    'uncapped' explicitly."""
    from fuzzylink_spark.operators.dedup import exact_substring_pairs

    with pytest.raises(ValueError, match="max_pos_per_fp"):
        exact_substring_pairs(None, max_pos_per_fp=0)
    with pytest.raises(ValueError, match="max_pos_per_fp"):
        exact_substring_pairs(None, max_pos_per_fp=-3)


def test_tile_outputs_consistent(spark):
    """Melt, accept, band and histogram all come from the one tile
    kernel: under one salt plan (with a one-sided block, so some cogroup
    groups have an empty side) accept is exactly the melt rows the
    posterior keeps, band extends accept with a matching flag, and the
    histogram is the bincount of the melt's non-exact pairs."""
    import numpy as np

    from fuzzylink_spark.operators.blocking import add_block_key
    from fuzzylink_spark.operators.candidates import unique_keys_per_block
    from fuzzylink_spark.operators.features import (
        block_salt_plan, cogrouped_pair_features, cogrouped_pair_histogram)
    from fuzzylink_spark.functions.vectors import embed_strings

    dfa, dfb, _ = voters(spark, n_base=50, seed=13)
    # a one-sided block, and a case-insensitive exact match
    extra_a = spark.createDataFrame(
        [("only_a", "Solo Person"), ("only_a", "Another Solo"),
         ("both", "Jane Q Public")], "block_key string, key string")
    extra_b = spark.createDataFrame(
        [("both", "JANE Q PUBLIC"), ("both", "John Doe")],
        "block_key string, key string")
    uA = unique_keys_per_block(add_block_key(dfa, ["city"]),
                               "full_name").unionByName(extra_a)
    uB = unique_keys_per_block(add_block_key(dfb, ["city"]),
                               "full_name").unionByName(extra_b)
    plan = block_salt_plan(uA, uB, 1000)
    one_sided = plan.where("block_key = 'only_a'").first()["block_id"]

    def enc(keys):
        return embed_strings(keys, dim=32)

    def _toy_posterior(x, y):
        # float64 arithmetic only: no transcendental whose last bit could
        # depend on how numpy vectorizes a particular array length
        return (x + 2.0 * y) / 3.0

    cut, bins = 0.55, 50
    kw = dict(encoder=enc, pair_budget=1000, salt_plan=plan)
    melt = cogrouped_pair_features(uA, uB, **kw).collect()
    acc = cogrouped_pair_features(uA, uB, accept=(_toy_posterior, cut),
                                  **kw).collect()
    band = cogrouped_pair_features(uA, uB, accept=(_toy_posterior, cut),
                                   band=(0.2, 30, 1), **kw).collect()
    hist = cogrouped_pair_histogram(uA, uB, bins=bins, **kw).collect()

    assert melt and all(r["block_id"] != one_sided for r in melt)
    exact = np.array([r["exact"] for r in melt])
    sim = np.array([r["sim"] for r in melt], dtype=np.float32)
    jw = np.array([r["jw"] for r in melt], dtype=np.float32)
    assert exact.any() and not exact.all()
    p = np.where(exact, 1.0, _toy_posterior(sim.astype(np.float64),
                                            jw.astype(np.float64)))
    by_pair = {tuple(r[:3]): (tuple(r), pi) for r, pi in zip(melt, p)}
    assert len(by_pair) == len(melt)
    want_acc = {k: v for k, v in by_pair.items() if v[0][5] or v[1] > cut}
    assert 0 < len(want_acc) < len(melt)

    got_acc = {tuple(r[:3]): (tuple(r[:6]), r["match_probability"])
               for r in acc}
    assert len(got_acc) == len(acc)
    assert got_acc == want_acc

    got_band = {tuple(r[:3]): r for r in band}
    assert len(got_band) == len(band) > len(acc)
    assert set(got_acc) <= set(got_band)
    for k, r in got_band.items():
        row, pi = by_pair[k]
        assert tuple(r[:6]) == row and r["match_probability"] == pi
        assert r["accepted"] == (k in want_acc)

    lo, hi = -1.0, 1.0
    width = (hi - lo) / bins
    s64 = sim[~exact].astype(np.float64)
    j64 = jw[~exact].astype(np.float64)
    bx = np.clip((s64 - lo) / width, 0, bins - 1).astype(np.int64)
    by = np.clip((j64 - lo) / width, 0, bins - 1).astype(np.int64)
    counts = np.bincount(bx * bins + by, minlength=bins * bins)
    want_hist = {(int(i // bins), int(i % bins)): int(counts[i])
                 for i in np.nonzero(counts)[0]}
    assert {(r["bx"], r["by"]): r["n"] for r in hist} == want_hist


def test_anchor_extend_pathological_repeats_bounded(spark):
    """Verdict r4 item 7: two highly repetitive near-identical docs put
    surviving anchors on MANY distinct diagonals; per-diagonal re-extension
    is each O(doc len). The per-pair extension budget caps total walked
    chars while still returning a correct >= min_len common length (the
    first completed extension already certifies the pair)."""
    from fuzzylink_spark.operators.dedup import exact_substring_pairs

    base = ("lorem ipsum dolor sit amet " * 40)  # ~1080 chars, repetitive
    docs = spark.createDataFrame(
        [(1, base + "X unique tail one"), (2, base + "Y other tail two")],
        "doc_id long, text string",
    )
    out = exact_substring_pairs(
        docs, min_len=30, k=8, w=16,
        max_extend_chars_per_pair=2000,  # far below the uncapped walk
    ).collect()
    assert len(out) == 1
    # capped result is a LOWER BOUND that still clears the threshold
    assert out[0]["common_len"] >= len(base) - 27  # shared prefix found
    # and the uncapped run returns the same pair with >= that length
    full = exact_substring_pairs(docs, min_len=30, k=8, w=16).collect()
    assert len(full) == 1
    assert full[0]["common_len"] >= out[0]["common_len"]


def test_embedding_near_dup_portable_recall_and_plan(spark):
    """Round-5 portable sign-LSH near-dup: (a) bucketing is pure Catalyst
    (no Python UDF node in the plan — scan-local at 100 TB), (b) the
    planted perturbed duplicates are recovered with the documented
    banding recall, (c) scores clear the threshold. Bit-exact
    engine-parity is enforced by the embedding_near_dup DuckDB oracle."""
    import __spark_entry__ as em
    from fuzzylink_spark.operators.similarity_search import (
        embedding_near_dup_portable, portable_table_buckets)

    base = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .select("vec_id", em._portable_norm("embedding").alias("embedding")))
    planted = base.where(F.col("vec_id") % 10 == 0)
    n_planted = planted.count()
    dups = em._perturbed_copy_portable(planted, noise_scale=0.035, seed=17)
    emb = base.unionByName(dups)

    plan = emb.select(portable_table_buckets("embedding"))._jdf \
        .queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan

    got = embedding_near_dup_portable(emb, threshold=0.9).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    hits = sum((v, v + 1_000_000) in pairs
               for v in [r["vec_id"] for r in planted.collect()])
    assert hits >= 0.9 * n_planted          # banding recall
    assert all(r["score"] >= 0.9 for r in got)


def test_simhash_portable_invariants(spark):
    """Round-5 portable SimHash: token-sequence-identical texts (same
    tokens after lowercase + whitespace split) sketch to Hamming 0; a
    heavily edited text does not collide at the tight threshold; empty
    text is excluded (NULL sketch) rather than colliding at sketch 0."""
    from fuzzylink_spark.operators.dedup import (
        simhash62_portable_udf, simhash_candidate_pairs_portable)

    docs = spark.createDataFrame(
        [(1, "The  Quick\tBrown Fox jumps over the lazy dog tonight"),
         (2, "the quick brown fox JUMPS over the lazy dog tonight"),
         (3, "completely different content about spark shuffles and joins"),
         (4, "   "),
         (5, None)],
        "doc_id long, text string",
    )
    sk = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id", simhash62_portable_udf()("text").alias("s")).collect()}
    assert sk[1] == sk[2] and sk[1] is not None
    assert sk[4] is None and sk[5] is None
    assert 0 <= sk[1] < (1 << 62)

    got = simhash_candidate_pairs_portable(docs, max_hamming=3).collect()
    pairs = {(r["a"], r["b"]): r["hamming"] for r in got}
    assert pairs.get((1, 2)) == 0
    assert not any(3 in p or 4 in p or 5 in p for p in pairs)
