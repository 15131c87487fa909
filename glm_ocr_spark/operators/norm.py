"""Shared text-normalization column expressions.

ONE definition of "normalized text" and "word list" for every operator and
its DuckDB oracle twin (the `_NORM` string in __spark_entry__.py mirrors
`norm_text_col`; oracles that consume words mirror `real_words_col` with
`list_filter(string_split(_NORM, ' '), x -> x != '')`). Re-spelling these
per operator is how oracle equality silently rots — a change applied to
one copy and not the others still "verifies" because both engines drift
together (round-3 review finding).

Semantics note: `trim` (JVM and DuckDB alike) strips 0x20 only, so text
with leading/trailing tabs/newlines normalizes to a leading/trailing
space and splits into an EMPTY token. The dedup/shingle family keeps that
token deliberately (byte-parity with `shingles_py` and the shingle
oracles); word-counting operators (Gopher rules, BM25, n-grams, passages)
must NOT count it — they use `real_words_col`, which filters empties.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Java \s is ASCII-only; match it (re.ASCII) — parity with dedup.shingles_py
_WS_RE = re.compile(r"\s+", re.ASCII)


def norm_text_col(col: str = "text") -> Column:
    """trim (spaces only) -> collapse ASCII whitespace -> lower."""
    return F.lower(F.regexp_replace(F.trim(F.col(col)), r"\s+", " "))


def content_hash_col(col: str = "text") -> Column:
    """md5 hex of the UTF-8 normalized text: the one content hash that
    exact dedup, fingerprints, curation and streaming dedup agree on."""
    return F.md5(F.encode(norm_text_col(col), "UTF-8"))


def norm_words_col(col: str = "text") -> Column:
    """Normalized text split on single spaces — MAY contain empty tokens
    for text with leading/trailing non-space whitespace (see module
    docstring); the shingle family depends on keeping them."""
    return F.split(norm_text_col(col), " ")


def real_words_col(col: str = "text") -> Column:
    """Non-empty normalized words — what word-counting operators mean by
    "words". Empty text (or whitespace-only text) yields a 0-length array."""
    return F.filter(norm_words_col(col), lambda w: w != "")


def norm_text_py(text: str | None) -> str:
    """Python mirror of norm_text_col: trim spaces only -> collapse ASCII
    whitespace -> lower. Null or empty text normalizes to ""."""
    return _WS_RE.sub(" ", text.strip(" ")).lower() if text else ""


def real_words_py(text: str | None) -> list[str]:
    """Python mirror of real_words_col (byte-equal; parity-tested):
    `norm_text_py`, split, drop empty tokens."""
    return [w for w in norm_text_py(text).split(" ") if w]


def real_words_udf():
    """Arrow-batched twin of real_words_col, for operators that consume
    the word array MANY times per row (sliding n-grams, passage chunks).

    Why it exists: Catalyst performs no CSE inside higher-order-function
    lambda bodies and re-inlines producing expressions across collapsed
    projections, so `transform(seq, i -> f(real_words_col()))` re-runs
    the whole trim/regex/lower/split/filter tree PER ELEMENT — O(words)
    regex passes per document. One Arrow pass materializes the array
    once; downstream slice/concat on the attribute is cheap. (Same
    lambda-CSE rule as dedup.shingles_udf — see SCALE.md.)
    """
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _words(s: pd.Series) -> pd.Series:
        return s.map(real_words_py)

    return _words("text")


def ngrams_col(n: int, words: Column | None = None) -> Column:
    """Sliding word n-grams (space-joined strings) of the normalized
    non-empty word list; < n words yields an empty array. ONE definition
    shared by decontaminate / top_ngrams / rep_ngram_fractions and their
    oracles. Pass `words` as a MATERIALIZED attribute (real_words_udf
    output) when the caller explodes or re-references the result — the
    default expression form re-runs the normalization tree per element
    (no CSE in lambda bodies)."""
    if words is None:
        words = real_words_col()
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
