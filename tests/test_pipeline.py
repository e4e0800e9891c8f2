"""End-to-end pipeline tests on the reference's own smoke fixtures
(presidents, reference README.md:159-188; voters, data-raw/my_pkg_data.R)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fuzzylink_spark import LinkConfig, fuzzylink
from fuzzylink_spark.operators.labeling import GoldLabeler
from fuzzylink_spark.sources.synth import presidents, repo_files, voters


def test_presidents_no_blocking(spark):
    dfa, dfb, gold = presidents(spark)
    res = fuzzylink(spark, dfa, dfb, by="name", labeler=GoldLabeler(gold),
                    exact_cutoff=True)
    got = {
        (r["name"], r["B"])
        for r in res.linked.where(F.col("B").isNotNull()).collect()
    }
    expected = {(a, b) for a, b in gold.collect()}
    # all 5 correct links recovered
    assert expected <= got, f"missing links: {expected - got}"
    # no distractor linked
    distractors = {"Biff Tannen", "Joe Riley"}
    assert not any(b in distractors for _, b in got)
    # every dfA row is kept (left-join semantics, R/fuzzylink.R:476-478)
    assert res.linked.select("name").distinct().count() == 5


def test_presidents_with_blocking(spark):
    dfa, dfb, gold = presidents(spark)
    res = fuzzylink(spark, dfa, dfb, by="name", blocking_keys=["state"],
                    labeler=GoldLabeler(gold), exact_cutoff=True)
    got = {
        (r["name"], r["B"])
        for r in res.linked.where(F.col("B").isNotNull()).collect()
    }
    # Trump's block mismatch (NY vs FL) must prevent the link
    assert not any(a == "Donald Trump" for a, _ in got)
    # the other 4 gold links survive blocking
    expected = {(a, b) for a, b in gold.collect() if a != "Donald Trump"}
    assert expected <= got, f"missing links: {expected - got}"


def test_voters_f1(spark):
    """BASELINE metric: pairwise F1 >= 0.99 on labeled-pair fixtures at a
    fixed blocking key, with the oracle in the loop exactly as the
    reference runs (its LLM labeler -> our gold labeler)."""
    dfa, dfb, gold = voters(spark, n_base=300, seed=42)
    ga = dfa.select("a_id", F.col("full_name").alias("a_name"))
    gb = dfb.select("b_id", F.col("full_name").alias("b_name"))
    gold_names = (
        gold.where("is_match").join(ga, "a_id").join(gb, "b_id")
        .select("a_name", "b_name")
    )
    res = fuzzylink(
        spark, dfa, dfb, by="full_name", blocking_keys=["city"],
        config=LinkConfig(learner="logit", max_labels=3000),
        labeler=GoldLabeler(gold_names),
    )
    pred = (
        res.linked.where(F.col("B").isNotNull())
        .select("a_id", "b_id")
        .distinct()
    )
    gold_pairs = gold.where("is_match").select("a_id", "b_id")
    tp = pred.join(gold_pairs, ["a_id", "b_id"]).count()
    n_pred, n_gold = pred.count(), gold_pairs.count()
    precision = tp / n_pred if n_pred else 0.0
    recall = tp / n_gold if n_gold else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} (P={precision:.4f}, R={recall:.4f})"


def test_voters_rf_learner(spark):
    """M2: the random-forest learner (reference ranger path) with the full
    lexical feature set through the AL loop."""
    dfa, dfb, gold = voters(spark, n_base=150, seed=11)
    ga = dfa.select("a_id", F.col("full_name").alias("a_name"))
    gb = dfb.select("b_id", F.col("full_name").alias("b_name"))
    gold_names = (
        gold.where("is_match").join(ga, "a_id").join(gb, "b_id")
        .select("a_name", "b_name")
    )
    res = fuzzylink(
        spark, dfa, dfb, by="full_name", blocking_keys=["city"],
        config=LinkConfig(learner="rf", max_labels=1500, al_grad_tol=0.1),
        labeler=GoldLabeler(gold_names),
    )
    pred = res.linked.where(F.col("B").isNotNull()).select("a_id", "b_id").distinct()
    gp = gold.where("is_match").select("a_id", "b_id")
    tp = pred.join(gp, ["a_id", "b_id"]).count()
    npred, ngold = pred.count(), gp.count()
    precision = tp / npred if npred else 0.0
    recall = tp / ngold if ngold else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.97, f"RF pairwise F1 {f1:.4f} (P={precision:.4f}, R={recall:.4f})"


def test_repo_files_sha256_invariant(spark):
    files, _, _ = repo_files(spark, n_clusters=10)
    from fuzzylink_spark.functions.text import content_sha256
    before = files.select("file_id", content_sha256("content").alias("h"))
    # run the content through the linkage surface (key derivation etc.)
    from fuzzylink_spark.operators.blocking import add_block_key
    out = add_block_key(files, ["lang"])
    after = out.select("file_id", content_sha256("content").alias("h"))
    assert before.exceptAll(after).count() == 0


def test_p4_removal_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The driver-computed P4 removal list and the distributed fallback
    (caps forced to the degenerate branch) must produce the same pair
    table on an input with multi-block keys."""
    import fuzzylink_spark.pipeline as pl
    from fuzzylink_spark.config import LinkConfig
    from fuzzylink_spark.pipeline import build_scored_pairs

    rows_a = [(f"key {i % 7}", f"blk{i % 3}") for i in range(40)]
    rows_b = [(f"key {(i + 1) % 7}", f"blk{i % 3}") for i in range(40)]
    dfa = spark.createDataFrame(rows_a, "name string, grp string")
    dfb = spark.createDataFrame(rows_b, "name string, grp string")
    cfg = LinkConfig(by="name", blocking_keys=["grp"], embedding_dim=16,
                     blocks_are_small=True)

    def run():
        sp = build_scored_pairs(spark, dfa, dfb, cfg, attach_strings=False)
        out = sorted(
            (r["block_id"], r["a_id"], r["b_id"], r["sim"], r["jw"])
            for r in sp.df.collect()
        )
        sp.release_intermediates()
        return out

    fast = run()
    monkeypatch.setattr(pl, "_OCC_COLLECT_CAP", 0)
    slow = run()
    assert fast == slow
    assert len(fast) == len({(b, a, c) for b, a, c, *_ in fast})  # deduped
