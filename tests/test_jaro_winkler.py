"""Jaro-Winkler cross kernel pins: the native C path and the numpy 2-D
path must both be bit-identical to the scalar ``jaro_winkler``, and the
native kernel must only load from a private cache dir."""

import random
import string

import numpy as np

from fuzzylink_spark.functions.strdist import jaro_winkler, jaro_winkler_cross


def _scalar_cross(xs, ys, p=0.1):
    """The scalar reference kernel over every (x, y) cell: the matrix both
    cross-kernel paths must reproduce bit-for-bit."""
    out = np.empty((len(xs), len(ys)), dtype=np.float64)
    for i, x in enumerate(xs):
        for j, y in enumerate(ys):
            out[i, j] = jaro_winkler(x, y, p)
    return out


def test_jw_cross_2d_matches_scalar_kernel():
    rng = random.Random(7)
    words = ("key agg row scan slow fast table value part hash batch "
             "window spark order data column").split()
    xs = [" ".join(rng.choice(words) for _ in range(rng.randint(1, 8)))[:48]
          for _ in range(120)]
    ys = [" ".join(rng.choice(words) for _ in range(rng.randint(1, 8)))[:48]
          for _ in range(150)]
    assert np.array_equal(jaro_winkler_cross(xs, ys), _scalar_cross(xs, ys))


def test_jw_cross_2d_edge_cases():
    edge = ["", "a", "ab" * 40, "résumé café",
            "日本語のテキスト", "ZZZ",
            "spark" * 13, "x" * 64, "y" * 65, "same same"]
    assert np.array_equal(jaro_winkler_cross(edge, edge),
                          _scalar_cross(edge, edge))


def test_jw_cross_2d_fuzz_unicode():
    rng = random.Random(11)
    alpha = string.ascii_letters + "  éü日本あ0123"
    strs = ["".join(rng.choice(alpha) for _ in range(rng.randint(0, 70)))
            for _ in range(160)]
    xs, ys = strs[:80], strs[80:]
    assert np.array_equal(jaro_winkler_cross(xs, ys), _scalar_cross(xs, ys))


def test_jw_cross_2d_chunk_boundaries(monkeypatch):
    import fuzzylink_spark.functions._jw_native as njw
    import fuzzylink_spark.functions.strdist as sd

    # only the numpy path chunks x rows
    monkeypatch.setattr(njw, "_FN", None)
    monkeypatch.setattr(njw, "_TRIED", True)
    rng = random.Random(3)
    xs = ["".join(rng.choice(string.ascii_lowercase) for _ in range(10))
          for _ in range(37)]
    ys = ["".join(rng.choice(string.ascii_lowercase) for _ in range(10))
          for _ in range(41)]
    want = _scalar_cross(xs, ys)
    for chunk in (1, 7, 100, 1 << 16):
        monkeypatch.setattr(sd, "_JW_CHUNK_PAIRS", chunk)
        assert np.array_equal(jaro_winkler_cross(xs, ys), want)


def test_jw_cross_all_degenerate_y_sides(monkeypatch):
    """A tile whose b side is entirely empty/overlong strings must not
    crash either kernel path (regression: the numpy fallback indexed an
    empty code table)."""
    import fuzzylink_spark.functions._jw_native as njw

    xs = ["abc", "a b c", "z" * 64]
    for ys in (["", ""], ["x" * 70, "y" * 100], ["", "x" * 70]):
        want = _scalar_cross(xs, ys)
        assert np.array_equal(jaro_winkler_cross(xs, ys), want)
        monkeypatch.setattr(njw, "_FN", None)
        monkeypatch.setattr(njw, "_TRIED", True)
        assert np.array_equal(jaro_winkler_cross(xs, ys), want)
        monkeypatch.setattr(njw, "_TRIED", False)


def test_jw_cross_native_and_numpy_paths_agree(monkeypatch):
    """The C kernel (when a compiler exists) and the numpy 2-D kernel must
    produce identical bits; both must match the scalar reference."""
    import fuzzylink_spark.functions._jw_native as njw

    rng = random.Random(13)
    alpha = string.ascii_letters + "  éü日本あ0123"
    xs = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 64)))
          for _ in range(60)]
    ys = ["".join(rng.choice(alpha) for _ in range(rng.randint(0, 70)))
          for _ in range(70)]
    want = _scalar_cross(xs, ys)
    got_default = jaro_winkler_cross(xs, ys)
    assert np.array_equal(got_default, want)
    # force the numpy fallback path regardless of compiler availability
    monkeypatch.setattr(njw, "_FN", None)
    monkeypatch.setattr(njw, "_TRIED", True)
    assert np.array_equal(jaro_winkler_cross(xs, ys), want)


def test_jw_native_refuses_shared_cache_dir(tmp_path, monkeypatch, caplog):
    """A group/world-writable cache dir (even the explicit override) could
    hold a planted shared object: the loader must refuse it, keep the
    numpy path and warn exactly once."""
    import logging

    import fuzzylink_spark.functions._jw_native as njw

    shared = tmp_path / "shared"
    shared.mkdir()
    shared.chmod(0o777)
    monkeypatch.setenv("FUZZYLINK_NATIVE_CACHE", str(shared))
    monkeypatch.setattr(njw, "_FN", None)
    monkeypatch.setattr(njw, "_TRIED", False)
    with caplog.at_level(logging.WARNING, logger=njw.__name__):
        assert njw.jw_cross_native() is None
        assert njw.jw_cross_native() is None
    warned = [r for r in caplog.records if r.name == njw.__name__]
    assert len(warned) == 1 and warned[0].levelno == logging.WARNING
    assert "world-writable" in warned[0].getMessage()
    assert list(shared.iterdir()) == []
    assert jaro_winkler_cross(["martha"], ["marhta"])[0, 0] > 0.9


def test_jw_native_default_cache_dir_is_private(tmp_path, monkeypatch):
    """Without the override the cache lives in a per-user dir created
    0700 under the temp dir."""
    import os
    import stat
    import tempfile

    import fuzzylink_spark.functions._jw_native as njw

    monkeypatch.delenv("FUZZYLINK_NATIVE_CACHE", raising=False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = njw._cache_dir()
    assert d == os.path.join(str(tmp_path), f"fuzzylink_native-{os.getuid()}")
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700


def test_jw_cross_2d_scalar_parity_spot():
    # cell-by-cell against the scalar kernel on short keys with empties
    rng = random.Random(5)
    xs = ["".join(rng.choice(string.ascii_lowercase + " ")
                  for _ in range(rng.randint(0, 20))) for _ in range(25)]
    ys = ["".join(rng.choice(string.ascii_lowercase + " ")
                  for _ in range(rng.randint(0, 20))) for _ in range(25)]
    got = jaro_winkler_cross(xs, ys)
    for i, x in enumerate(xs):
        for j, y in enumerate(ys):
            assert got[i, j] == jaro_winkler(x, y)
