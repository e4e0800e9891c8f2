"""Pair featurization: cosine similarity + Jaro-Winkler, born inside tiles.

Replaces the reference's per-block dense GEMM + melt
(R/fuzzylink.R:113-172) and its JW feature mutate (R/fuzzylink.R:174-186).
``block_salt_plan`` cuts each block's pair matrix into a ka x kb grid; the
distinct-key sides are salted onto it and cogrouped per tile, where one
Arrow kernel (``_tile_kernel``) computes the features once and an emitter
picks what leaves the tile: every pair, the accepted pairs (+ an
uncertainty band), or the (sim, jw) histogram.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzylink_spark.functions.strdist import jaro_winkler_cross


# ---------------------------------------------------------------------------
# cogrouped per-block GEMM (the production hot path)
#
# The melt IR is NUMERIC and NARROW: (block_id i32, a_id i64, b_id i64,
# sim f32, jw f32, exact bool) = 29 B/pair vs 41 B for the naive
# all-64-bit row and ~60+ B for a string melt. Key ids are xxhash64 of
# the key strings, computed in Catalyst on the O(n) sides before the
# cogroup (collisions ~n^2/2^65 — negligible below ~10^9 distinct keys);
# block ids are DENSE int32 ranks assigned in the salt plan (collision-
# free by construction — a 32-bit *hash* would cross-pair distinct blocks
# at ~10^5 blocks). sim is float32-exact (the GEMM itself runs in f32);
# jw quantizes at ~6e-8, far below any decision threshold. The melted
# O(n^2) rows are the dominant Arrow-serialize + JVM-decode + shuffle
# cost of the whole engine, so every byte/pair here is ~2.5% of the
# hot-path bandwidth. Strings rejoin via the (small) dictionaries only
# where a consumer needs them (``attach_pair_strings``).
# ---------------------------------------------------------------------------

PAIR_IR_SCHEMA = ("block_id int, a_id long, b_id long, "
                  "sim float, jw float, exact boolean")
ACCEPT_IR_SCHEMA = PAIR_IR_SCHEMA + ", match_probability double"
BAND_IR_SCHEMA = ACCEPT_IR_SCHEMA + ", accepted boolean"
HIST_SCHEMA = "bx int, by int, n long"

# upper bound on a block's tile count in the salt plan
_MAX_CELLS = 4096


def _tile_kernel(encoder, emit):
    """The one cogroup kernel (``applyInArrow``) behind every tile output.
    ``encoder`` (list[str] -> unit-norm float32 matrix) embeds the keys in
    place, so the shuffle never moves a vector. Per tile it runs the GEMM,
    batched JW and the exact flag once, then ``emit(cols, na, nb)`` maps
    the row-major flat pair arrays {block_id, a_id, b_id, sim, jw, exact}
    to the columns that leave the tile (zero-copy into the ``pa.Table``).
    A group with an empty side (one-sided block) emits from zero-length
    arrays."""
    import pyarrow as pa

    def _kernel(key, a_tbl: "pa.Table", b_tbl: "pa.Table") -> "pa.Table":
        na, nb = a_tbl.num_rows, b_tbl.num_rows
        if na and nb:
            a_keys = a_tbl.column("key").to_pylist()
            b_keys = b_tbl.column("key").to_pylist()
            sim = (encoder(a_keys) @ encoder(b_keys).T).ravel()  # f32 GEMM
            jw = jaro_winkler_cross(
                [k.lower() for k in a_keys], [k.lower() for k in b_keys]
            ).ravel().astype(np.float32)
        else:
            sim = jw = np.empty(0, dtype=np.float32)
        a_ci = a_tbl.column("ci").to_numpy(zero_copy_only=False)
        b_ci = b_tbl.column("ci").to_numpy(zero_copy_only=False)
        cols = {
            "block_id": np.full(na * nb, key[0].as_py(), dtype=np.int32),
            "a_id": np.repeat(
                a_tbl.column("id").to_numpy(zero_copy_only=False), nb),
            "b_id": np.tile(
                b_tbl.column("id").to_numpy(zero_copy_only=False), na),
            "sim": sim,
            "jw": jw,
            "exact": np.repeat(a_ci, nb) == np.tile(b_ci, na),
        }
        return pa.table(emit(cols, na, nb))

    return _kernel


def _emit_melt(cols, na, nb):
    """Every pair of the tile: the reference's melted dense matrix."""
    return cols


def _emit_accept(posterior_fn, cutoff, band=None):
    """Score pairs IN the tile with the broadcast calibrator
    (``posterior_fn(sim, jw) -> p`` on numpy arrays) and emit ONLY exact
    matches and pairs above ``cutoff``, plus ``match_probability``. This
    is the second pass of the two-pass plan: at 10^12 candidate pairs the
    full pair table is tens of TB — the accepted set is the only thing
    worth materializing.

    ``band`` = (delta, cap[, k_top]): ALSO emit up to ``cap`` non-accepted
    pairs per tile with posterior within ±delta of the cutoff (closest
    first, deterministic index tiebreak), flagged ``accepted=False``. The
    band is the active-learning sample support — exactly the pairs the
    reference's kernel-weighted sampler would draw (R/fuzzylink.R:268-282)
    — emitted WITHOUT ever materializing the full pair table."""

    def emit(cols, na, nb):
        sims, jw, exact = cols["sim"], cols["jw"], cols["exact"]
        # posterior in float64 on the f32-valued features — bit-identical
        # to the classic path, where Catalyst casts the f32 IR columns to
        # double before the same posterior expression
        p = np.where(exact, 1.0,
                     posterior_fn(sims.astype(np.float64),
                                  jw.astype(np.float64)))
        acc = exact | (p > cutoff)
        keep = acc
        if band is not None:
            delta, cap, k_top = band if len(band) == 3 else (*band, 0)
            dist = np.abs(p - cutoff)
            idx = np.nonzero(~acc & (dist <= delta))[0]
            if len(idx) > cap:
                order = np.lexsort((idx, dist[idx]))
                idx = idx[order[:cap]]
            keep = acc.copy()
            keep[idx] = True
            if k_top > 0:
                # per-A top-k under EACH ranking (posterior, sim, jw) —
                # the recall-search support (R/fuzzylink.R:399-433 needs
                # every A-group's best candidates on the board even when
                # all score below the cutoff, and the calibrator's
                # ranking can disagree with either raw feature — a
                # nickname match ranks #1 by sim while the jw-dominated
                # posterior buries it); O(3k * na) extra rows per tile,
                # never O(na*nb)
                k_eff = min(k_top, nb)
                rows_rep = np.repeat(np.arange(na), k_eff) * nb
                for crit in (p, sims, jw):
                    cm = crit.reshape(na, nb)
                    if k_eff == nb:
                        top_cols = np.tile(np.arange(nb), (na, 1))
                    else:
                        top_cols = np.argpartition(-cm, k_eff - 1, axis=1)[:, :k_eff]
                    keep[rows_rep + top_cols.ravel()] = True
        out = {name: col[keep] for name, col in cols.items()}
        out["match_probability"] = p[keep]
        if band is not None:
            out["accepted"] = acc[keep]
        return out

    return emit


def _emit_hist(bins: int, lo: float, hi: float):
    """Pass 1 of the two-pass plan: the tile's 2-D (sim, jw) histogram of
    NON-exact pairs — <= bins^2 rows per tile instead of na*nb. Exact
    pairs are excluded (they are forced to p=1 downstream and would only
    bias the mixture fit)."""
    width = (hi - lo) / bins

    def emit(cols, na, nb):
        nontrivial = ~cols["exact"]
        # bin in float64 so bucket edges match the classic path, which
        # bins the double-cast IR columns
        s64 = cols["sim"][nontrivial].astype(np.float64)
        j64 = cols["jw"][nontrivial].astype(np.float64)
        bx = np.clip(((s64 - lo) / width), 0, bins - 1).astype(np.int64)
        by = np.clip(((j64 - lo) / width), 0, bins - 1).astype(np.int64)
        counts = np.bincount(bx * bins + by, minlength=bins * bins)
        nz = np.nonzero(counts)[0]
        return {
            "bx": (nz // bins).astype(np.int32),
            "by": (nz % bins).astype(np.int32),
            "n": counts[nz].astype(np.int64),
        }

    return emit


def _salted_side(u: DataFrame, block_k: DataFrame, own: tuple, other: tuple,
                 case_insensitive: bool = True) -> DataFrame:
    """Attach int ids + 2-D tile coordinates to one distinct-key side.

    ``block_k`` maps block_key -> (block_id, ka, kb): the within-block pair
    matrix is tiled ka × kb (blocked-GEMM style). Each side hashes into its
    own coordinate and replicates across the other's — so replication is
    O(sqrt(cells)) per side instead of O(cells) on one side, which keeps
    the shuffled volume near-minimal for any block size. ``own`` and
    ``other`` are (grid column, tile coordinate) name pairs: ("ka", "sa")
    and ("kb", "sb") for the A side, swapped for the B side.

    Ids computed here (Catalyst, O(n) side rows — never per pair):
    ``block_id`` = the plan's DENSE int32 rank (collision-free; the melt
    emits it per pair, so 4 bytes beats a 64-bit hash and a 32-bit hash
    would merge distinct blocks); ``id`` = xxhash64 of the key; ``ci`` =
    xxhash64 of the lowercased key, so the kernel's exact-match flag is an
    int compare (case-sensitive mode hashes the raw key, reference
    parity). CONTRACT: ``block_k`` must cover every block key present in
    ``u`` (block_salt_plan's full-outer stats guarantee it when built from
    the same sides); uncovered rows are dropped — grouping them under a
    shared fallback id would cross-pair unrelated blocks."""
    # ka/kb are non-null by plan construction (greatest(..., 1)); rows the
    # plan does not cover have null block_id and are dropped wholesale
    flagged = u.join(F.broadcast(block_k), "block_key", "left").where(
        F.col("block_id").isNotNull()
    )
    (own_k, own_s), (other_k, other_s) = own, other
    ci = F.xxhash64(F.lower(F.col("key"))) if case_insensitive else F.xxhash64(F.col("key"))
    own_salt = F.pmod(F.xxhash64(F.col("key")), F.col(own_k)).cast("int")
    return (
        flagged
        .withColumn("id", F.xxhash64(F.col("key")))
        .withColumn("ci", ci)
        .withColumn(own_s, own_salt)
        .withColumn("_other_raw", F.explode(F.sequence(F.lit(0), F.col(other_k) - 1)))
        .withColumn(other_s, F.col("_other_raw").cast("int"))
        .drop("ka", "kb", "_other_raw", "block_key")
    )


def block_salt_plan(uA: DataFrame, uB: DataFrame, pair_budget: int = 50_000,
                    target_cells: int | None = None) -> DataFrame:
    """Adaptive 2-D tiling plan: per block, split the |uA| x |uB| pair
    matrix into ~(|uA|x|uB|/pair_budget) cells arranged as a ka x kb grid
    with roughly square tiles. Bounds every GEMM cell's pair count (task
    skew AND peak memory) for any blocking-key skew — lang='en' at web
    scale becomes thousands of uniform tiles (at most ``_MAX_CELLS`` per
    block).

    Also assigns each block a DENSE int32 ``block_id`` (its 1-based rank
    by block_key over the union of both sides' blocks) — the
    collision-free 4-byte block identity the melt IR carries per pair.

    ``target_cells`` (usually ~2-3x the cluster's core count) additionally
    SHRINKS the effective budget when the data is small relative to the
    cluster: a 1M-pair default budget is right at 10^12 pairs (amortizes
    the per-tile Arrow hand-off) but would put a 2M-pair run on two cores;
    the budget floors at 50k pairs so tiny inputs don't shatter into
    overhead-dominated confetti.

    Round-6 shape: the per-block stats are COLLECTED and the grid computed
    on the driver — the plan is broadcast-sized by contract (it is
    broadcast onto the sides, and the pre-r6 formulation already ranked it
    through a single-partition window), so the collect is bounded by the
    same assumption. One Spark job replaces three (stats aggregate,
    single-partition rank window, downstream total-cells aggregate): the
    returned local-relation DataFrame carries ``_fl_plan_info``
    (total_cells / total_pairs / sum_na / sum_nb) that downstream
    consumers read instead of re-aggregating the plan. ka/kb/block_id are
    numerically identical to the Catalyst formulation (same double-
    division + ceil ops; Python string sort == Spark UTF8 binary order
    for valid Unicode)."""
    # ONE aggregation over the tagged union replaces two per-side groupBys
    # + a full-outer join (the driver assembles the outer join from the
    # collected (block_key, side, n) rows): fewer chained stages in the
    # stats job. One-sided blocks still get a row (from whichever side has
    # them) and a distinct block_id — they flow through the cogroup as
    # empty-other groups; a shared fallback id would cross-pair them.
    tagged = uA.select("block_key", F.lit(0).alias("_side")).unionByName(
        uB.select("block_key", F.lit(1).alias("_side")))
    counted = tagged.groupBy("block_key", "_side").agg(
        F.count("*").alias("n")).collect()
    na: dict = {}
    nb: dict = {}
    for r in counted:
        (na if r["_side"] == 0 else nb)[r["block_key"]] = r["n"]
    rows = [
        {"block_key": bk, "n_a": na.get(bk, 0), "n_b": nb.get(bk, 0)}
        for bk in set(na) | set(nb)
    ]
    total_pairs = sum(r["n_a"] * r["n_b"] for r in rows)
    if target_cells:
        pair_budget = int(max(50_000,
                              min(pair_budget, total_pairs / target_cells)))
    out_rows = []
    total_cells = 0
    for bid, r in enumerate(sorted(rows, key=lambda r: r["block_key"]), 1):
        n_a, n_b = r["n_a"], r["n_b"]
        cells = min(max(math.ceil(n_a * n_b / pair_budget), 1), _MAX_CELLS)
        # square-ish grid: ka/kb proportional to side sizes, ka*kb >= cells
        ka = min(max(math.ceil(math.sqrt(cells * n_a / max(n_b, 1))), 1),
                 max(n_a, 1))
        kb = max(math.ceil(cells / ka), 1)
        total_cells += ka * kb
        out_rows.append((r["block_key"], ka, kb, bid))
    plan = uA.sparkSession.createDataFrame(
        out_rows, schema="block_key string, ka int, kb int, block_id int")
    plan._fl_plan_info = {
        "total_cells": total_cells,
        "total_pairs": total_pairs,
        "sum_na": sum(r["n_a"] for r in rows),
        "sum_nb": sum(r["n_b"] for r in rows),
        "block_ids": {r[0]: r[3] for r in out_rows},
    }
    return plan


def plan_info_of(plan: DataFrame, uA: DataFrame, uB: DataFrame) -> dict:
    """The salt plan's collected stats. Plans built by ``block_salt_plan``
    in this session carry them as ``_fl_plan_info``; a plan restored from
    storage or passed through a transformation (which drops Python
    attributes) recomputes them here with bounded jobs instead of
    surfacing an AttributeError deep in the pipeline."""
    info = getattr(plan, "_fl_plan_info", None)
    if info is not None:
        return info
    rows = plan.select("block_key", "ka", "kb", "block_id").collect()
    return {
        "total_cells": sum(r["ka"] * r["kb"] for r in rows),
        "total_pairs": None,
        "sum_na": uA.count(),
        "sum_nb": uB.count(),
        "block_ids": {r["block_key"]: r["block_id"] for r in rows},
    }


def prepare_tiles(
    uA: DataFrame,
    uB: DataFrame,
    pair_budget: int = 250_000,
    case_insensitive: bool = True,
    salt_plan: DataFrame | None = None,
) -> tuple:
    """Build the salted/repartitioned tile sides ONCE for reuse across
    several per-tile passes (two-pass linkage runs 2-3 passes over the
    SAME tiling — round-6: persisting the prepared sides lets the later
    passes read cached, already-partitioned blocks and elide both the
    side-prep compute and the cogroup exchange).

    Returns ``(cogroup, persisted)``: pass ``cogroup`` to
    ``cogrouped_pair_features(..., prepared=cogroup)`` /
    ``cogrouped_pair_histogram(..., prepared=cogroup)``; the CALLER owns
    the two persisted side DataFrames in ``persisted`` and must unpersist
    them when done."""
    a, b = _tile_sides(uA, uB, pair_budget, case_insensitive, salt_plan)
    a = a.persist()
    b = b.persist()
    return _cogroup(a, b), [a, b]


def _tile_sides(
    uA: DataFrame,
    uB: DataFrame,
    pair_budget: int,
    case_insensitive: bool,
    salt_plan: DataFrame | None = None,
):
    """Shared tile machinery: adaptive 2-D salt plan, id/tile-coordinate
    attachment and the pinned repartition of both sides, ready for
    ``_cogroup``. Pass a pre-computed (persisted) ``salt_plan`` to share
    one tiling across multiple passes over the same sides (the production
    pipelines all do — fewer planning jobs, guaranteed-identical tile
    boundaries across passes, and the CALLER owns the persist/unpersist
    lifecycle). Without one, the plan is built inline UNPERSISTED
    (recomputed by each of its ~4 consumers — fine for one-shot/test use,
    and nothing is left cached behind the caller's back)."""

    def _fresh(df: DataFrame) -> DataFrame:
        return df.select(*[F.col(c).alias(c) for c in df.columns])

    sc = uA.sparkSession.sparkContext
    block_k = salt_plan if salt_plan is not None else block_salt_plan(
        uA, uB, pair_budget, target_cells=sc.defaultParallelism * 3)
    info = getattr(block_k, "_fl_plan_info", None)
    if info is not None:
        total_cells = max(int(info["total_cells"]), 1)
    else:  # plan from storage/checkpoint: aggregate it (one tiny job)
        row = block_k.agg(
            F.sum(F.col("ka").cast("long") * F.col("kb")).alias("c")).first()
        total_cells = int(row["c"] or 1)
    # 2 partition slots per tile: a tile is ~25 ms of kernel compute since
    # the r6 native JW kernel (was seconds), so a hash collision of two
    # tiles into one partition is a ~25 ms straggler — the old 4x headroom
    # bought nothing while its extra empty partitions cost ~0.2 s of task
    # launches per action (measured: melt noop 0.905s @4x, 0.702s @2x).
    # AQE is pinned off this exchange by the explicit repartition-by-num.
    n_part = int(min(max(sc.defaultParallelism * 2, total_cells * 2), 65536))
    a = _salted_side(_fresh(uA), _fresh(block_k), ("ka", "sa"), ("kb", "sb"),
                     case_insensitive)
    b = _salted_side(_fresh(uB), _fresh(block_k), ("kb", "sb"), ("ka", "sa"),
                     case_insensitive)
    return (a.repartition(n_part, "block_id", "sa", "sb"),
            b.repartition(n_part, "block_id", "sa", "sb"))


def _cogroup(a: DataFrame, b: DataFrame):
    """The (block_id, sa, sb) tile cogroup of two salted sides."""
    return a.groupby("block_id", "sa", "sb").cogroup(b.groupby("block_id", "sa", "sb"))


def cogrouped_pair_histogram(
    uA: DataFrame,
    uB: DataFrame,
    encoder,
    bins: int = 200,
    lo: float = -1.0,
    hi: float = 1.0,
    pair_budget: int = 250_000,
    case_insensitive: bool = True,
    salt_plan: DataFrame | None = None,
    prepared=None,
) -> DataFrame:
    """Pass 1 of the two-pass plan: the bounded 2-D (sim, jw) histogram of
    every NON-exact candidate pair, computed tile-locally and merged with
    one tiny shuffle (<= bins^2 rows). The pair table itself is never
    materialized — at 10^12 candidate pairs this is the only way to
    calibrate. Multi-block duplicate pairs are counted once per block
    (a <=0.01%-mass bias on realistic blocking; the calibrator fits
    distribution shape, not exact counts)."""
    cg = prepared if prepared is not None else _cogroup(
        *_tile_sides(uA, uB, pair_budget, case_insensitive, salt_plan))
    per_tile = cg.applyInArrow(_tile_kernel(encoder, _emit_hist(bins, lo, hi)),
                               schema=HIST_SCHEMA)
    return per_tile.groupBy("bx", "by").agg(F.sum("n").alias("n"))


def cogrouped_pair_features(
    uA: DataFrame,
    uB: DataFrame,
    encoder,
    pair_budget: int = 250_000,
    case_insensitive: bool = True,
    accept=None,
    band=None,
    salt_plan: DataFrame | None = None,
    prepared=None,
) -> DataFrame:
    """Candidate generation + cosine + JW in ONE cogrouped Arrow pass,
    emitting the NUMERIC pair IR (block_id, a_id, b_id, sim, jw, exact).

    Inputs are distinct (block_key, key) sides and a deterministic local
    ``encoder``: keys are embedded inside each tile, so the shuffle moves
    only strings. Pairs and their features are *born* inside the
    per-(block, sa, sb) GEMM tile — shuffle volume never includes a
    per-pair vector, and the melted O(n^2) rows never include a string
    (join them back with ``attach_pair_strings`` where needed). Every
    block is adaptively 2-D tiled so no tile exceeds ``pair_budget``
    pairs: uniform tasks, bounded memory.

    ``accept`` = (posterior_fn, cutoff) turns this into pass 2 of the
    two-pass plan: pairs are scored in-tile with the broadcast calibrator
    and only exact matches + pairs above the cutoff are emitted (schema
    gains ``match_probability``) — the full pair table never exists.
    ``band`` = (delta, per_tile_cap[, k_top]) additionally emits the
    bounded uncertainty band around the cutoff with an ``accepted`` flag
    (the active-learning sample support; see ``_emit_accept``).
    """
    if band is not None and accept is None:
        raise ValueError("band emission requires accept=(posterior_fn, cutoff)")
    cg = prepared if prepared is not None else _cogroup(
        *_tile_sides(uA, uB, pair_budget, case_insensitive, salt_plan))
    if accept is None:
        emit, schema = _emit_melt, PAIR_IR_SCHEMA
    else:
        emit = _emit_accept(*accept, band=band)
        schema = ACCEPT_IR_SCHEMA if band is None else BAND_IR_SCHEMA
    return cg.applyInArrow(_tile_kernel(encoder, emit), schema=schema)


def pair_dictionaries(uA: DataFrame, uB: DataFrame,
                      salt_plan: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(key_dict, block_dict): the id -> string dictionaries for the pair
    IR, built from the distinct sides (O(distinct keys), tiny relative to
    the O(n^2) pair table). ``salt_plan`` (from ``block_salt_plan`` over
    the same sides) is the authority for the dense block_id -> block_key
    mapping — the ids are ranks assigned there, not hashes, so the
    dictionary must come from the same plan the melt ran under."""
    keys = uA.select("key").unionByName(uB.select("key")).distinct()
    key_dict = keys.select(F.xxhash64("key").alias("id"), "key")
    block_dict = salt_plan.select("block_id", "block_key")
    return key_dict, block_dict


def attach_pair_strings(pairs: DataFrame, key_dict: DataFrame,
                        block_dict: DataFrame | None = None) -> DataFrame:
    """Join A/B key strings (and block_key) back onto the numeric pair IR.

    The dictionaries are the DISTINCT key sets — orders of magnitude
    smaller than the pair table — so AQE turns these into broadcast hash
    joins whenever they fit (no hint: at extreme key cardinality it
    falls back to a shuffle join instead of OOMing the driver). Column
    pruning drops the string columns from any downstream consumer that
    doesn't project them."""
    ka = key_dict.select(F.col("id").alias("a_id"), F.col("key").alias("A"))
    kb = key_dict.select(F.col("id").alias("b_id"), F.col("key").alias("B"))
    out = pairs.join(ka, "a_id", "left").join(kb, "b_id", "left")
    if block_dict is not None:
        # no broadcast hint: under a high-cardinality blocking key the
        # block dictionary is O(distinct blocks) — let AQE broadcast it
        # when runtime stats say it fits (same policy as key_dict above)
        out = out.join(block_dict, "block_id", "left")
    return out
