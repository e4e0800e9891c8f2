"""Pipeline configuration.

Mirrors the surface of the reference's ``fuzzylink()`` signature
(reference R/fuzzylink.R:32-45: by, blocking.variables, record_type,
model/learner, fmla features, max_labels, embedding_dimensions, seed)
re-expressed for a Spark pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class LinkConfig:
    # --- matching surface (reference R/fuzzylink.R:32-45) ---
    by: str = "name"
    blocking_keys: list[str] = field(default_factory=list)
    record_type: str = "entity"           # prompt context (R/fuzzylink.R:34; passed to labelers)
    instructions: str | None = None       # extra prompt instructions (R/check_match.R:50-54)
    learner: str = "em"                   # 'em' (mixture, offline) | 'logit' (labeled fit)
    features: list[str] = field(default_factory=lambda: ["sim", "jw"])
    # learner='rf' scale mode: False (default) fits AND scores on the
    # in-tile numeric-IR features (sim, jw) with compiled-tree Catalyst
    # scoring — no string attach, no per-pair Python. True restores the
    # reference's full lexical feature set (osa/lcs/q-gram/soundex,
    # R/fuzzylink.R:179-186): an Arrow-batch DP pass over EVERY candidate
    # pair — bounded-input mode only.
    rf_full_features: bool = False
    max_labels: int = 10_000              # label budget (R/fuzzylink.R:43)
    embedding_dim: int = 256              # R/fuzzylink.R:39
    seed: int = 42
    # exact-match short-circuit case handling. The reference compares
    # case-SENSITIVELY (R/fuzzylink.R:390, R/check_match.R:59-63); True
    # (default) lowercases first — a deliberate, documented deviation.
    exact_case_insensitive: bool = True

    # --- active learning (R/fuzzylink.R:252-259) ---
    initial_train_n: int = 500            # n_t cap, R/fuzzylink.R:203-204
    al_batch: int = 100                   # batch of 100 per AL iteration
    al_kernel_sd: float = 0.2             # dnorm(qlogis(p), 0, 0.2)
    al_grad_tol: float = 0.01             # rolling-5 gradient threshold (glm)
    al_rolling_window: int = 5

    # --- cutoff search (R/fuzzylink.R:344-371) ---
    fallback_cutoff: float = 0.5          # NaN-F1 guard, R/fuzzylink.R:366-370
    cutoff_bins: int = 2000               # histogram resolution for scale mode
    # True = return the F1-argmax probability itself (reference-exact,
    # R/fuzzylink.R:368-370 — the strict p > cutoff filter then excludes
    # the argmax row); False (default) places the cutoff just below the
    # argmax so the optimal set is what is accepted.
    cutoff_strict_parity: bool = False

    # --- scale / physical plan knobs ---
    # blocking-key cardinality declaration: None = probe with a count and
    # guard the broadcast (safe default); True = keys are known
    # low-cardinality (e.g. lang), broadcast without the probe job;
    # False = known high-cardinality, shuffle semi join without probing
    blocks_are_small: bool | None = None
    # pair budget per GEMM cell (adaptive 2-D tiling). 1M pairs/tile ~=
    # tens of MB working set and ~5 s of kernel compute: large enough to
    # amortize the per-tile Arrow/Python hand-off (measured 45 s -> 34 s
    # at 96M pairs, local[32]), small enough that a 10^12-pair run still
    # yields ~10^6 tiles (ample waves for any executor count)
    salt_pair_threshold: int = 1_000_000
    broadcast_threshold_rows: int = 1_000_000

    # --- checkpointing / lineage ---
    work_dir: str | None = None           # stage checkpoint root; None = no persistence
    resume: bool = True                   # reuse existing stage outputs when fingerprints match

    # --- encoder (replaces the reference's remote embedding service,
    #     R/get_embeddings.R:21-197, with a deterministic local encoder) ---
    encoder_ngrams: tuple[int, ...] = (2, 3, 4)
    encoder_seed: int = 1234


DEFAULT_CONFIG = LinkConfig()
