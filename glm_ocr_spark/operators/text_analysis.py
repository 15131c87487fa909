"""Text-analysis operators over a documents table (doc_id, text, lang,
source, n_chars).

Pure column expressions (JVM-side, whole-stage codegen) except the
winnowing fingerprint, whose per-doc k-gram loop lives in one Arrow-batched
pandas UDF (the lambda-CSE rule — see SCALE.md). Each operator has an exact
ANSI-SQL twin in __spark_entry__.oracle_sql so DuckDB can verify it.

Scale notes: every operator here is a narrow map over the scan — no shuffle,
filters and column pruning push down to parquet. At 100 TB these run at
scan speed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from glm_ocr_spark.operators.norm import (
    content_hash_col,
    norm_text_py,
    real_words_col,
)

# Shared spec constants — the SQL oracles in __spark_entry__ must use the
# same values/patterns.
STOPWORD_PATTERN = r"\b(the|a|an|of|and|in|to|is|for|on|with)\b"
PUNCT_PATTERN = r"[.,;:!?]"
CJK_PATTERN = "[\\u4e00-\\u9fff]"


def token_count_col(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def with_token_count(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", token_count_col(F.col("text")).alias("n_tokens")
    )


def with_quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality score in [0, 1]
    (the Arc90/trafilatura-style boilerplate scoring of SURVEY.md §7.1.3,
    lifted from per-block to per-document granularity)."""
    n_chars = F.length("text")
    n_tokens = token_count_col(F.col("text"))
    n_stop = F.regexp_count(F.col("text"), F.lit(STOPWORD_PATTERN))
    n_punct = F.regexp_count(F.col("text"), F.lit(PUNCT_PATTERN))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    length_term = F.least(F.lit(1.0), n_chars / F.lit(500.0))
    score = (
        F.lit(0.4) * length_term
        + F.lit(0.4) * F.least(F.lit(1.0), stop_ratio * 4)
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio * 10))
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def with_lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: CJK codepoints -> zh, else stopword votes
    between en/de/es/fr function words; unknown -> und."""
    text = F.col("text")
    votes = {
        "en": F.regexp_count(text, F.lit(r"\b(the|and|of|is|are)\b")),
        "de": F.regexp_count(text, F.lit(r"\b(der|die|das|und|ist)\b")),
        "es": F.regexp_count(text, F.lit(r"\b(el|la|los|las|es|y)\b")),
        "fr": F.regexp_count(text, F.lit(r"\b(le|la|les|est|et|une)\b")),
    }
    best = (
        F.when(F.regexp_count(text, F.lit(CJK_PATTERN)) > 0, F.lit("zh"))
        .when(
            (votes["en"] >= votes["de"]) & (votes["en"] >= votes["es"])
            & (votes["en"] >= votes["fr"]) & (votes["en"] > 0), F.lit("en"))
        .when((votes["de"] >= votes["es"]) & (votes["de"] >= votes["fr"])
              & (votes["de"] > 0), F.lit("de"))
        .when((votes["es"] >= votes["fr"]) & (votes["es"] > 0), F.lit("es"))
        .when(votes["fr"] > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    return docs.select("doc_id", "lang", best.alias("lang_pred"))


def with_fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (the content-hash half of the dedup family)."""
    return docs.select("doc_id", content_hash_col().alias("fingerprint"))


# BPE-style pre-tokenizer classes: letter runs, digit runs, single
# non-alnum marks (the GPT-2 pre-tokenizer shape without byte merges).
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def with_token_count_bpe(docs: DataFrame) -> DataFrame:
    """Subword-ish token count: letter runs + digit runs + punctuation marks
    each count once — the standard pre-BPE segmentation, a tighter
    training-cost proxy than whitespace counting (e.g. "don't" = 3)."""
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_PATTERN))
        .alias("n_tokens_bpe"),
    )


WINNOW_K = 8   # k-gram length (chars)
WINNOW_W = 5   # winnowing window (k-grams per window)


def winnow_py(text: str, k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """Winnowing fingerprint (Schleimer et al., SIGMOD 2003): hash every
    char k-gram of the normalized text, keep the min hash of each sliding
    window of w k-grams, return the sorted distinct selection joined ','.

    Guarantees: any shared substring of length >= k+w-1 between two docs
    contributes at least one common selected hash — the local, position-
    robust fingerprint the brief's "rolling hash" names. Hashes are the
    first 8 hex chars of md5 (string min == lexicographic, identical in
    DuckDB, so the oracle is exact)."""
    import hashlib

    norm = norm_text_py(text)
    if len(norm) >= k:
        hs = [hashlib.md5(norm[i:i + k].encode("utf-8")).hexdigest()[:8]
              for i in range(len(norm) - k + 1)]
    else:
        hs = [hashlib.md5(norm.encode("utf-8")).hexdigest()[:8]]
    if len(hs) >= w:
        mins = [min(hs[i:i + w]) for i in range(len(hs) - w + 1)]
    else:
        mins = [min(hs)]
    return ",".join(sorted(set(mins)))


def with_winnow_fingerprint(docs: DataFrame) -> DataFrame:
    """Per-doc winnowing fingerprints via one Arrow-batched pandas UDF
    (k-gram hashing is a per-doc pure function — map-side, no shuffle;
    the lambda-CSE rule keeps it out of JVM `transform`)."""
    @F.pandas_udf(T.StringType())
    def _fp(text: pd.Series) -> pd.Series:
        return pd.Series([winnow_py(t) for t in text])

    return docs.select("doc_id", _fp(F.col("text")).alias("winnow_fp"))


# --------------------------------------------------------- quality filtering

# Gopher-style (Rae et al. 2021, table A1) document-quality rules, adapted
# to this corpus's single-block text. Shared with the SQL oracle.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1
GOPHER_SYMBOL_PATTERN = "[#…]"
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_quality_filter(docs: DataFrame) -> DataFrame:
    """Per-document Gopher-rule evaluation: word-count bounds, mean word
    length bounds, symbol-word ratio, stopword-hit floor, plus the overall
    pass flag. A 100 TB pre-training corpus filter is exactly this shape:
    pure column expressions, whole-stage codegen, no shuffle — runs at
    scan speed and the pass flag predicate-pushes into downstream reads.
    (Reference family: the drop/abandon filter chain of
    glmocr/pipeline/layout_postprocess_utils.py F1-F9, lifted from block
    to document granularity.)"""
    words = real_words_col()
    n_words = F.size(words)
    total_len = F.aggregate(
        F.transform(words, lambda w: F.length(w)),
        F.lit(0), lambda acc, v: acc + v)
    mean_wl = F.when(n_words > 0, total_len / n_words).otherwise(F.lit(0.0))
    n_symbol_words = F.size(
        F.filter(words, lambda w: w.rlike(GOPHER_SYMBOL_PATTERN)))
    symbol_ratio = F.when(n_words > 0,
                          n_symbol_words / n_words).otherwise(F.lit(0.0))
    n_stop = F.regexp_count(F.lower("text"), F.lit(STOPWORD_PATTERN))
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_mean = (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN) & \
              (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
    ok_symbol = symbol_ratio <= GOPHER_MAX_SYMBOL_WORD_RATIO
    ok_stop = n_stop >= GOPHER_MIN_STOPWORD_HITS
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        n_stop.alias("n_stopword_hits"),
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_symbol.alias("ok_symbol_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mean & ok_symbol & ok_stop).alias("passes"),
    )


# --------------------------------------------------------------- BM25 scoring

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(docs: DataFrame, terms: list[str],
                k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set.

    Corpus statistics (N, avgdl, per-term document frequency) are one
    aggregate over the scan, broadcast back as literals via crossJoin of a
    1-row DataFrame — the docs table itself never shuffles; the scoring
    pass is a narrow map. idf = ln((N - df + 0.5)/(df + 0.5) + 1) (the
    Robertson/Sparck-Jones form Lucene uses); expression structure is
    mirrored in the DuckDB oracle so doubles agree to rounding.
    """
    words = real_words_col()
    dl = F.size(words)
    # NB: a `lambda w, t=t:` default here would change the lambda's arity —
    # PySpark treats 2-arg higher-order lambdas as (element, index)
    def _tf(term: str) -> Column:
        return F.size(F.filter(words, lambda w: w == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)]
    base = docs.select("doc_id", dl.alias("dl"), *tf_cols)
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(terms))],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5) + 1.0)
        score = score + idf * (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    return scored.select(
        "doc_id", F.col("dl").alias("n_words"),
        F.round(score, 6).alias("bm25"),
    )


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-wide top-k word n-grams with a deterministic tie-break
    (count desc, ngram asc) — the wordcount-at-scale shape: map-side
    partial aggregation into one shuffle on the n-gram, then
    TakeOrderedAndProject (each partition keeps k rows, the driver merges
    k x partitions — no global sort).

    The word array is materialized ONCE per doc via the Arrow twin
    (norm.real_words_udf): the pure-expression form re-ran the whole
    normalization tree per n-gram element (no CSE in lambda bodies),
    measured 12-19 s -> sub-second at sf0.1."""
    from glm_ocr_spark.operators.norm import ngrams_col, real_words_udf

    grams = ngrams_col(n, words=F.col("ws"))
    return (
        docs.filter(F.trim("text") != "")
        .select(real_words_udf().alias("ws"))
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram").agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def rep_ngram_fractions(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher repetition signals per document: the duplicate-n-gram
    fraction (1 - distinct/total) and the top-n-gram fraction (occurrences
    of the doc's most frequent n-gram / total), the two rules the Gopher
    repetition family adds beyond the static quality checks. High values
    mark looping/boilerplate text a whole-doc hash never catches.

    Word array materialized once (norm.real_words_udf — lambda-CSE rule);
    the rest is JVM array algebra over the attribute: zero shuffle, scan
    speed. Tie-break for the top n-gram is max count (value irrelevant —
    only the count enters the fraction).
    """
    from glm_ocr_spark.operators.norm import ngrams_col, real_words_udf

    grams = ngrams_col(n, words=F.col("ws"))
    base = docs.select("doc_id", real_words_udf().alias("ws")) \
        .select("doc_id", grams.alias("grams"))
    total = F.size("grams")
    distinct = F.size(F.array_distinct("grams"))
    # max run length over the SORTED gram array = max occurrence count —
    # O(w log w) per doc. The first form (per-distinct-gram filter scans)
    # was O(distinct x total): quadratic, minutes on one pathological
    # 50k-word boilerplate doc — exactly the input this filter targets
    # (review finding). Accumulator: (prev gram, current run, max run).
    top_count = F.aggregate(
        F.array_sort("grams"),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, g: F.when(
            g == acc["prev"],
            F.struct(g.alias("prev"), (acc["run"] + 1).alias("run"),
                     F.greatest(acc["best"], acc["run"] + 1).alias("best")),
        ).otherwise(
            F.struct(g.alias("prev"), F.lit(1).alias("run"),
                     F.greatest(acc["best"], F.lit(1)).alias("best"))),
        lambda acc: acc["best"],
    )
    return base.select(
        "doc_id",
        total.alias("n_ngrams"),
        F.when(total > 0, F.round(1.0 - distinct / total, 6))
        .otherwise(F.lit(0.0)).alias("dup_ngram_fraction"),
        F.when(total > 0, F.round(top_count / total, 6))
        .otherwise(F.lit(0.0)).alias("top_ngram_fraction"),
    )
