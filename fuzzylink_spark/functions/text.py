"""Text normalization + training-data-pipeline text analysis.

Normalization mirrors the reference's lowercase-before-distance contract
(reference R/fuzzylink.R:174,180-185) plus whitespace collapse for the
blocking keys of the repo-file linkage surface. The analysis functions
(language ID, quality score, token counts, fingerprints) are the
large-scale-pipeline extensions; all are pure Catalyst expressions — no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# normalization
# ---------------------------------------------------------------------------


def norm_key(col: Column | str) -> Column:
    """Lowercase + collapse whitespace + trim: the canonical fuzzy-key
    normalization (reference lowercases only; we add whitespace collapse
    for token-normalized blocking per the target input shape)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def initcap_first_word(col: Column | str) -> Column:
    """Reference label normalization: first word, title case
    (R/check_match.R:119,141,159,180,200)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.initcap(F.regexp_extract(c, r"^\w+", 0))


# ---------------------------------------------------------------------------
# tokenization / counting
# ---------------------------------------------------------------------------


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokens as array<string> (empty string -> empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(ws_tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-flavored token estimate: words + digits + punctuation runs each
    count; long words count extra per 4 chars (a cheap, deterministic
    proxy for subword tokenizers)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
    long_word_extra = F.aggregate(
        F.filter(
            F.transform(ws_tokens(c), lambda t: F.length(t)),
            lambda n: n > F.lit(4),
        ),
        F.lit(0),
        lambda acc, n: acc + F.floor((n - F.lit(1)) / F.lit(4)).cast("int"),
    )
    return (pieces + long_word_extra).cast("int")


def char_ngrams_col(col: Column | str, n: int = 3) -> Column:
    """Array of character n-grams (for shingling / Jaccard / MinHash).
    Documents shorter than ``n`` yield one whole-text shingle (floor the
    window count at 1: ``F.sequence(1, 0)`` would yield the DESCENDING
    [1, 0], never an empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)
    count = F.greatest(F.length(lowered) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.substring(lowered, i, n),
    )


# ---------------------------------------------------------------------------
# language ID: Unicode script-range ratios first (CJK / Cyrillic — these
# languages are not space-delimited or use non-Latin scripts, so stopword
# votes can never see them), then the stopword vote for Latin-script
# languages. Pure Catalyst throughout (regexp_count + arrays).
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con"],
    "fr": ["le", "la", "les", "des", "une", "est", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
}

# script ranges as literal characters: identical char-class syntax in Java
# regex (Spark) and RE2 (DuckDB oracle)
_SCRIPT_RANGES: dict[str, str] = {
    "han": f"[{chr(0x4E00)}-{chr(0x9FFF)}]",
    "hiragana": f"[{chr(0x3040)}-{chr(0x309F)}]",
    "katakana": f"[{chr(0x30A0)}-{chr(0x30FF)}]",
    "hangul": f"[{chr(0xAC00)}-{chr(0xD7AF)}]",
    "cyrillic": f"[{chr(0x0400)}-{chr(0x04FF)}]",
}

# minimum fraction of non-space characters in a script to call the language
_SCRIPT_RATIO = 0.15


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID. Script-range ratios decide CJK/Cyrillic
    (kana present -> 'ja'; hangul -> 'ko'; han without kana -> 'zh';
    cyrillic -> 'ru'); otherwise the stopword-marker argmax decides the
    Latin-script languages, 'und' when nothing hits."""
    c = F.col(col) if isinstance(col, str) else col
    n_nonspace = F.greatest(
        F.length(F.regexp_replace(c, r"\s", "")), F.lit(1)
    ).cast("double")
    script = {
        name: F.regexp_count(c, F.lit(rx)).cast("double")
        for name, rx in _SCRIPT_RANGES.items()
    }
    kana = script["hiragana"] + script["katakana"]
    cjk_mass = kana + script["han"]

    toks = ws_tokens(F.lower(c))
    best = F.lit("und")
    best_score = F.lit(0)
    for lang, markers in _LANG_MARKERS.items():
        lit_arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(toks, lambda t: F.array_contains(lit_arr, t)))
        better = score > best_score
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_score = F.when(better, score).otherwise(best_score)

    r = F.lit(_SCRIPT_RATIO)
    return (
        F.when((kana > 0) & (cjk_mass / n_nonspace > r), F.lit("ja"))
        .when(script["hangul"] / n_nonspace > r, F.lit("ko"))
        .when(script["han"] / n_nonspace > r, F.lit("zh"))
        .when(script["cyrillic"] / n_nonspace > r, F.lit("ru"))
        .otherwise(best)
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = [
    "the", "and", "of", "to", "is", "in", "a", "that", "with", "for",
    "el", "la", "de", "que", "le", "les", "der", "die", "das", "und",
]


def quality_features(col: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features for a text
    column; combine into a score with ``quality_score``."""
    c = F.col(col) if isinstance(col, str) else col
    toks = ws_tokens(c)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(c).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(F.transform(toks, F.lower), lambda t: F.array_contains(stop_arr, t))).cast("double")
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]")).cast("double")
    mean_word_len = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "stopword_ratio": F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "mean_word_len": mean_word_len,
    }


def quality_score(col: Column | str) -> Column:
    """Scalar quality score in [0,1]: rewards stopword presence and
    reasonable word lengths, penalizes punctuation soup and tiny docs."""
    f = quality_features(col)
    length_ok = F.least(f["n_tokens"] / F.lit(20.0), F.lit(1.0))
    stop_ok = F.least(f["stopword_ratio"] * F.lit(4.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - f["punct_ratio"] * F.lit(4.0), F.lit(0.0))
    wordlen_ok = F.when(
        (f["mean_word_len"] >= 2.5) & (f["mean_word_len"] <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.4))
    return (length_ok * 0.3 + stop_ok * 0.3 + punct_pen * 0.2 + wordlen_ok * 0.2)


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------


def content_sha256(col: Column | str) -> Column:
    """Per-row invariant: sha2(content, 256) (the input_hint contract)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def rolling_fingerprint(col: Column | str, window: int = 8,
                        hashed: bool = True) -> Column:
    """Deterministic document fingerprint: minimum over rolling character
    windows (a winnowing-style min-sample of local values). Pure
    Catalyst: substring windows -> (xxhash64 ->) array_min.

    ``hashed`` (default): min xxhash64 of the windows — an 8-byte
    fingerprint, the scale path. ``hashed=False``: the minimum window
    SUBSTRING itself — engine-independent (binary string comparison is
    identical across Spark/DuckDB/Python), the oracle-checkable variant.
    Documents shorter than ``window`` fingerprint as their whole
    (lowercased) content on both variants."""
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)
    count = F.greatest(F.length(lowered) - F.lit(window - 1), F.lit(0))
    # guard on count > 0, NOT on the windows array: F.sequence(1, 0)
    # yields the descending [1, 0], never an empty array
    windows = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: F.substring(lowered, i, window),
    )
    if hashed:
        return F.when(
            count > 0,
            F.array_min(F.transform(windows, lambda s: F.xxhash64(s))),
        ).otherwise(F.xxhash64(lowered))
    return F.when(count > 0, F.array_min(windows)).otherwise(lowered)
