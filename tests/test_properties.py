"""Property-based kernel tests (hypothesis): the batched/bit-parallel
implementations must agree with the scalar reference kernels on arbitrary
inputs, and metric axioms must hold."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import fuzzylink_spark.functions._jw_native as njw
from fuzzylink_spark.functions.strdist import (
    jaro_winkler,
    jaro_winkler_cross,
    lcs_distance,
    osa_distance,
    qgram_jaccard_dist,
)
from fuzzylink_spark.functions.vectors import embed_strings

# keys cover ascii + unicode + whitespace + boundary lengths (incl. >64)
_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    min_size=0, max_size=80,
)
_short = st.text(min_size=0, max_size=24)


@settings(max_examples=200, deadline=None)
@given(x=_text, ys=st.lists(_text, min_size=1, max_size=8))
def test_jw_cross_row_matches_scalar(x, ys):
    # exact on both kernel paths: native (when it builds) and forced numpy;
    # the loader state is swapped here because hypothesis rejects
    # function-scoped fixtures such as monkeypatch. Copies of ys behind a
    # 6-char prefix of x reach the 4-char cap on the prefix bonus.
    ys = ys + [x[:6] + y for y in ys]
    want = np.array([jaro_winkler(x, y) for y in ys])
    assert np.array_equal(jaro_winkler_cross([x], ys)[0], want), (x, ys)
    saved = njw._FN, njw._TRIED
    njw._FN, njw._TRIED = None, True
    try:
        assert np.array_equal(jaro_winkler_cross([x], ys)[0], want), (x, ys)
    finally:
        njw._FN, njw._TRIED = saved


@settings(max_examples=200, deadline=None)
@given(a=_short, b=_short)
def test_jw_symmetry_and_bounds(a, b):
    # stringdist JW is symmetric in [0,1]; identity gives exactly 1
    assert abs(jaro_winkler(a, b) - jaro_winkler(b, a)) < 1e-12
    assert 0.0 <= jaro_winkler(a, b) <= 1.0
    assert jaro_winkler(a, a) == 1.0


@settings(max_examples=150, deadline=None)
@given(a=_short, b=_short)
def test_osa_metric_properties(a, b):
    d = osa_distance(a, b)
    assert d == osa_distance(b, a)
    assert d == 0 if a == b else d >= 1
    assert d <= max(len(a), len(b))


@settings(max_examples=150, deadline=None)
@given(a=_short, b=_short)
def test_lcs_and_jaccard_bounds(a, b):
    assert 0 <= lcs_distance(a, b) <= len(a) + len(b)
    assert 0.0 <= qgram_jaccard_dist(a, b) <= 1.0
    assert qgram_jaccard_dist(a, a) == 0.0


@settings(max_examples=50, deadline=None)
@given(keys=st.lists(_text, min_size=1, max_size=12))
def test_encoder_unit_norm_and_batch_independence(keys):
    m = embed_strings(keys, dim=64)
    norms = np.linalg.norm(m, axis=1)
    for k, n in zip(keys, norms):
        if k:
            assert abs(n - 1.0) < 1e-4, repr(k)
    # batch independence: embedding of a key is the same regardless of
    # which other keys share the batch (critical: tiles see random subsets)
    solo = embed_strings([keys[0]], dim=64)[0]
    assert np.allclose(m[0], solo, atol=1e-6)
