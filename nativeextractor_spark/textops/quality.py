"""Text analysis operators: language-ID, quality scoring, token counts,
document fingerprinting. All JVM-side expressions (WSCG) except the Gopher
quality rule (:func:`gopher_quality_filters`), which is one Python
function run by an Arrow kernel so that the standalone operator and the
curation pipeline's fused filter share a single implementation.
"""

from __future__ import annotations

import re
from math import floor
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny deterministic stopword profiles (n-gram heuristic, public knowledge)
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las"],
    "de": ["der", "die", "und", "das", "nicht", "mit", "ist", "ein", "zu"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "que", "pour"],
    "cs": ["je", "se", "na", "to", "že", "by", "ale", "jako", "pro"],
}


def _tokens(text_col: str):
    return F.split(F.lower(F.col(text_col)), r"\s+")


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID. Returns (doc_id, lang_pred, lang_score).

    Score per language = fraction of tokens in the language's stopword list;
    argmax wins, ties broken by language code order. Pure SQL expressions —
    oracle-reproducible.
    """
    toks = _tokens(text_col)
    scores = []
    for lang, words in sorted(_LANG_STOPWORDS.items()):
        arr = F.array(*[F.lit(w) for w in words])
        score = (
            F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
            / F.greatest(F.size(toks), F.lit(1))
        )
        scores.append(F.struct(score.alias("s"), F.lit(lang).alias("l")))
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col).alias("doc_id"),
        best["l"].alias("lang_pred"),
        F.round(best["s"], 6).alias("lang_score"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length, punctuation ratio, stopword ratio,
    mean word length, and a composite score. Pure SQL expressions."""
    toks = _tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    en = F.array(*[F.lit(w) for w in _LANG_STOPWORDS["en"]])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(en, t))) / F.greatest(
        F.size(toks), F.lit(1)
    )
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    mean_word_len = n_chars / F.greatest(F.size(toks), F.lit(1))
    composite = (
        F.least(n_chars / F.lit(500.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
    )
    # floor-based truncation to 6dp: identical on any engine computing the
    # same doubles (round() half-up vs half-even differs across engines)
    def t6(c):
        return F.floor(c * 1000000) / 1000000

    return df.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        t6(punct_ratio).alias("punct_ratio"),
        t6(stop_ratio).alias("stopword_ratio"),
        t6(mean_word_len).alias("mean_word_len"),
        t6(composite).alias("quality_score"),
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + BPE-ish subword piece count (regex split on
    non-alnum boundaries — a cheap proxy for tokenizer budget planning)."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    pieces = F.size(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
            lambda t: F.length(t) > 0,
        )
    ) + F.size(
        F.filter(
            F.split(F.col(text_col), r"[a-zA-Z0-9\s]+"), lambda t: F.length(t) > 0
        )
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        ws.alias("ws_tokens"),
        pieces.alias("subword_pieces"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized lowercased text
    (oracle-reproducible) + xxhash64 (cheap 64-bit flavor for joins)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm).alias("fp_md5"),
        F.xxhash64(norm).alias("fp_xx64"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    rolling-hash technique): hash every k-char gram of the normalized text,
    then keep the minimum hash of each ``window`` consecutive grams — any
    shared substring of length >= k + window - 1 between two documents is
    GUARANTEED to share a selected fingerprint.

    Engine-portable hash ordering: the per-gram hash is the first 16 hex
    chars of md5 — fixed-width lowercase hex, so lexicographic MIN equals
    numeric MIN of the unsigned value in Spark and DuckDB alike. Everything
    is JVM expressions (transform/slice/array_min); returns distinct
    (doc_id, fp) rows.
    """
    norm = f"regexp_replace(trim(lower({text_col})), '\\\\s+', ' ')"
    grams = (
        f"transform(sequence(1, greatest(length({norm}) - {k - 1}, 1)),"
        f" i -> substring(md5(substring({norm}, i, {k})), 1, 16))"
    )
    mins = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size({grams}) - {window - 1}, 1)),"
        f" i -> array_min(slice({grams}, i, {window}))))"
    )
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.expr(mins)).alias("fp")
    ).distinct()


# Gopher quality rule: stopword list and the output columns of
# _doc_gopher_quality, in order, with their Spark types
_GOPHER_STOPWORDS = frozenset(
    ["the", "be", "to", "of", "and", "that", "have", "with"]
)
_QUALITY_COLUMNS = [
    ("n_words", "int"),
    ("mean_word_len", "double"),
    ("symbol_ratio", "double"),
    ("alpha_word_ratio", "double"),
    ("n_stopwords", "int"),
    ("ok_word_count", "boolean"),
    ("ok_mean_word_len", "boolean"),
    ("ok_symbol_ratio", "boolean"),
    ("ok_alpha_words", "boolean"),
    ("ok_stopwords", "boolean"),
    ("gopher_pass", "boolean"),
]
# nullable pandas dtypes, so a NULL document's row stays NULL through Arrow
_PANDAS_DTYPES = {"int": "Int32", "double": "Float64", "boolean": "boolean"}
_WS_ASCII = re.compile(r"\s+", re.ASCII)
_ALPHA_RE = re.compile(r"[a-zA-Z]")


def _t6f(num: int, den: int) -> float:
    """floor(num * 1e6 / den) / 1e6 with the DuckDB oracles' IEEE-double
    operation order (num→double, *1e6, /den, floor, /1e6), so the
    fractions are bit-equal to the oracle's."""
    return floor(num * 1000000.0 / max(den, 1)) / 1000000


def _doc_gopher_quality(text) -> tuple:
    """One document's Gopher quality metrics and flags, in
    ``_QUALITY_COLUMNS`` order; all NULL for a NULL document.

    Tokens are ``lower(text)`` split on ASCII ``\\s+`` with empties kept
    (a leading separator yields a leading empty token, ``""`` is one empty
    token); on single-spaced text this is the oracle's split on ``' '``.
    Ratios are truncated with :func:`_t6f`; the flags compare the
    untruncated IEEE-double ratios."""
    if text is None:
        return (None,) * len(_QUALITY_COLUMNS)
    toks = _WS_ASCII.split(text.lower())
    n_words = len(toks)
    ciw = n_sym = n_alpha = n_stop = 0
    search = _ALPHA_RE.search
    for t in toks:
        ciw += len(t)
        if "#" in t or "..." in t:
            n_sym += 1
        if search(t):
            n_alpha += 1
        if t in _GOPHER_STOPWORDS:
            n_stop += 1
    ok_words = 50 <= n_words <= 100000
    ok_mwl = 3 <= ciw / n_words <= 10
    ok_sym = n_sym / n_words <= 0.1
    ok_alpha = n_alpha / n_words >= 0.8
    ok_stop = n_stop >= 2
    return (
        n_words,
        _t6f(ciw, n_words),
        _t6f(n_sym, n_words),
        _t6f(n_alpha, n_words),
        n_stop,
        ok_words,
        ok_mwl,
        ok_sym,
        ok_alpha,
        ok_stop,
        ok_words and ok_mwl and ok_sym and ok_alpha and ok_stop,
    )


def gopher_quality_filters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public) as
    boolean flags + overall pass — the standard pre-training web filter set.

    Rules: word count in [50, 100k]; mean word length in [3, 10]; symbol-
    to-word ratio (# or ellipsis) <= 0.1; >=80% of words contain an
    alphabetic char; >=2 common-English stopwords present.

    Engine: one ``mapInPandas`` pass over :func:`_doc_gopher_quality`, the
    only implementation of the rule — the curation pipeline's fused filter
    kernel (``textops.lines.gopher_filter_keep_kernel``) calls the same
    function. The DuckDB oracle row ``gopher_filters`` pins it. Returns
    one row per input row: (doc_id, metrics, flags, ``gopher_pass``).
    """
    from nativeextractor_spark.operators.extract import coalesce_for_kernel

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"doc_id {id_type}, " + ", ".join(
        f"{name} {typ}" for name, typ in _QUALITY_COLUMNS
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_doc_gopher_quality(t) for t in pdf["_text"]]
            cols = zip(*rows) if rows else [()] * len(_QUALITY_COLUMNS)
            data = {"doc_id": pdf["doc_id"]}
            for (name, typ), vals in zip(_QUALITY_COLUMNS, cols):
                data[name] = pd.array(list(vals), dtype=_PANDAS_DTYPES[typ])
            yield pd.DataFrame(data)

    return coalesce_for_kernel(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    ).mapInPandas(kernel, schema=schema)
