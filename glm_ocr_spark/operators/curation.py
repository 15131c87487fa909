"""Corpus-curation operators a 100 TB training-data pipeline needs beyond
dedup: PII scrubbing, benchmark decontamination, and C4-style rule filters.

All three are expressed as pure DataFrame plans (JVM-side regex /
higher-order array functions — no Python in the hot path) with exact
ANSI-SQL twins in __spark_entry__.oracle_sql. Regex patterns are written in
the common Java-regex / RE2 subset (char classes, bounded repeats, no
backreferences or lookaround) so Spark and DuckDB agree byte-for-byte.

Scale notes per operator are inline; the common theme: PII scrub and the
filter rules are narrow maps (scan speed, no shuffle); decontamination
shuffles only distinct n-gram keys and broadcasts the benchmark side.

Reference family: the drop/redact/normalize text-hygiene chain of
glmocr/pipeline/result_postprocess_utils.py (T1-T8) and the block filter
chain of layout_postprocess_utils.py (F1-F9), lifted from block to
document granularity for corpus curation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from glm_ocr_spark.operators.norm import content_hash_col, real_words_col

# ------------------------------------------------------------- PII scrubbing
# Shared spec constants — the SQL oracles in __spark_entry__ must use the
# same patterns/tokens verbatim (Java regex == RE2 for this subset).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = (
    r"(\+?[0-9]{1,2}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ][0-9]{4}"
)
EMAIL_TOKEN = "<EMAIL>"
PHONE_TOKEN = "<PHONE>"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails and phone numbers, keeping per-doc redaction counts.

    Order matters and is part of the spec: emails first (an email never
    contains a phone match because PHONE requires a `[-. ]` separator
    before the final 4 digits, but scrubbing emails first also keeps the
    counts independent of each other by construction).

    100 TB shape: two regexp_count + two regexp_replace over the scan —
    whole-stage codegen, zero shuffle, runs at scan speed. The redaction
    counts aggregate map-side if rolled up downstream.
    """
    text = F.col(text_col)
    n_emails = F.regexp_count(text, F.lit(EMAIL_PATTERN))
    no_email = F.regexp_replace(text, EMAIL_PATTERN, EMAIL_TOKEN)
    n_phones = F.regexp_count(no_email, F.lit(PHONE_PATTERN))
    scrubbed = F.regexp_replace(no_email, PHONE_PATTERN, PHONE_TOKEN)
    return docs.select(
        "doc_id",
        scrubbed.alias("text_scrubbed"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
    )


# -------------------------------------------------- benchmark decontamination

DECONTAM_NGRAM = 5


# shared n-gram spec — ONE definition in norm.py (review finding: three
# hand-inlined copies had crept in across curation/text_analysis)
from glm_ocr_spark.operators.norm import ngrams_col  # noqa: E402,F401


def decontaminate(docs: DataFrame, benchmark_sources: list[str],
                  n: int = DECONTAM_NGRAM,
                  hash_keys: bool = False) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Gopher appendix procedure):
    flag every training document that shares any word n-gram with a held
    benchmark set — here the docs whose `source` is in benchmark_sources.

    Returns one row per NON-benchmark doc: (doc_id, n_overlap,
    contaminated) where n_overlap counts the doc's DISTINCT n-grams that
    appear anywhere in the benchmark set.

    100 TB shape: the benchmark side (a few thousand eval documents) is
    distinct-reduced and broadcast, so the corpus never shuffles — the
    per-doc explode feeds a broadcast-hash semi-match and a single
    map-side-partial groupBy(doc_id). `hash_keys=True` is the 10^12-doc
    switch: both sides join on xxhash64(ngram) so the broadcast table and
    the probe stream carry 8-byte keys instead of ~40-byte n-gram strings
    (~5x smaller broadcast, cheaper probe hashing — same key-compression
    rule as passage_dedup / minhash banding). A cross-n-gram 64-bit
    collision can only over-count n_overlap for a doc that already shares
    the benchmark's vocabulary; probability ~b*g/2^64 per doc (b =
    benchmark n-grams, g = doc n-grams) — negligible, and flag-biased
    toward caution. Equivalence on collision-free inputs is tested.
    """
    from glm_ocr_spark.operators.norm import real_words_udf

    grams = ngrams_col(n, words=F.col("ws"))

    # key compression happens on the ARRAY before the explode (a generator
    # cannot nest inside xxhash64(...)): transform to 8-byte hashes
    # row-locally, then explode longs instead of strings — the exploded
    # stream itself is already compressed, not just the join key
    def _keyed(arr):
        return F.transform(arr, lambda x: F.xxhash64(x)) if hash_keys \
            else arr

    bench = (
        docs.filter(F.col("source").isin(benchmark_sources))
        .select(real_words_udf().alias("ws"))
        .select(F.explode(_keyed(grams)).alias("ng")).distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = docs.filter(~F.col("source").isin(benchmark_sources))
    # per-doc distinct BEFORE the explode (array_distinct is row-local):
    # a post-explode dropDuplicates([doc_id, ng]) forced an Exchange over
    # the full exploded n-gram stream plus a second one for the groupBy —
    # two corpus-wide shuffles where this form needs none (review finding)
    doc_grams = corpus.select(
        "doc_id", real_words_udf().alias("ws")
    ).select(
        "doc_id",
        F.explode_outer(_keyed(F.array_distinct(grams))).alias("ng"),
    )
    joined = doc_grams.join(F.broadcast(bench), "ng", "left")
    return (
        joined.groupBy("doc_id")
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).alias("n_overlap"))
        .select(
            "doc_id",
            F.col("n_overlap").cast("long").alias("n_overlap"),
            (F.col("n_overlap") > 0).alias("contaminated"),
        )
    )


# --------------------------------------------------------- C4-style filters
# Shared spec constants for the rule set (C4 / "Colossal Clean Crawled
# Corpus" heuristics, adapted to single-block text). The SQL oracle
# mirrors these values.
C4_MIN_WORDS = 5
C4_MAX_WORD_CHARS = 25
# `$` parity traps, listed explicitly so both engines agree:
# - Java rlike's `$` matches BEFORE a final Unicode line terminator
#   (U+2028/U+2029/U+0085) while RE2's (DuckDB) `$` only matches true
#   end-of-text, and neither engine's `\s` absorbs those characters;
# - Java `\s` = [ \t\n\x0B\f\r] INCLUDES vertical tab but RE2's
#   `\s` = [\t\n\f\r ] does NOT — so \x0B is listed too, making
#   RE2 absorb a trailing period+VT exactly like Java already does.
C4_TERMINAL_PUNCT = "[.!?][\\s\u000b\u2028\u2029\u0085]*$"
C4_BAD_SUBSTRINGS = ("lorem ipsum", "javascript", "{")


def c4_filters(docs: DataFrame) -> DataFrame:
    """Per-document C4 rule flags: terminal punctuation, word-count floor,
    over-long-word cap, and bad-substring blocklist, plus the combined
    keep flag. Emitting flags (not a filtered table) keeps every rule
    auditable — the production filter is `WHERE keep`, which predicate-
    pushes into the scan.

    100 TB shape: pure column expressions, no shuffle, scan speed.
    """
    words = real_words_col()
    n_words = F.size(words)
    max_word_len = F.coalesce(
        F.array_max(F.transform(words, lambda w: F.length(w))), F.lit(0))
    low = F.lower("text")
    ok_terminal = F.col("text").rlike(C4_TERMINAL_PUNCT)
    ok_min_words = n_words >= C4_MIN_WORDS
    ok_word_len = max_word_len <= C4_MAX_WORD_CHARS
    ok_blocklist = ~(
        low.contains(C4_BAD_SUBSTRINGS[0])
        | low.contains(C4_BAD_SUBSTRINGS[1])
        | low.contains(C4_BAD_SUBSTRINGS[2])
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        max_word_len.alias("max_word_len"),
        ok_terminal.alias("ok_terminal_punct"),
        ok_min_words.alias("ok_min_words"),
        ok_word_len.alias("ok_word_len"),
        ok_blocklist.alias("ok_blocklist"),
        (ok_terminal & ok_min_words & ok_word_len & ok_blocklist)
        .alias("keep"),
    )


# -------------------------------------------------- end-to-end curation run

CURATION_MIN_WORDS = 30
CURATION_MAX_OVERLAP = 2
CURATION_QUOTA = 5


def curation_pipeline(docs: DataFrame, benchmark_sources: list[str],
                      min_words: int = CURATION_MIN_WORDS,
                      max_overlap: int = CURATION_MAX_OVERLAP,
                      quota: int = CURATION_QUOTA) -> DataFrame:
    """The full corpus-curation run as ONE declarative plan — the U4
    pipeline-composition showcase (reference analog: the staged
    detect->filter->format chain of glmocr/pipeline/pipeline.py, lifted to
    corpus granularity). Stage order is part of the spec (and mirrored in
    the SQL oracle):

      1. quality floor: non-benchmark docs with >= min_words real words
      2. decontamination: drop docs sharing > max_overlap distinct 5-grams
         with the benchmark sources
      3. exact dedup: keep the lowest-doc_id owner of each normalized-text
         fingerprint
      4. per-source quota: keep the first `quota` survivors per source

    100 TB shape: one broadcast join (benchmark n-grams), one map-side-
    partial aggregate on doc_id, then the window shuffles. The fingerprint
    window is hash-keyed (no skew by construction); the source quota is
    not — one crawl domain can be 90% of the corpus — but it is the same
    single `row_number` window as `relational.quota_per_source`, whose
    map-side `WindowGroupLimit` Partial sends at most `quota` rows per
    source from each map partition to the hot source's reducer (while
    `quota` <= spark.sql.optimizer.windowGroupLimitThreshold; SCALE.md).
    Catalyst pipelines the filters into the scans; nothing is materialized
    between stages.
    """
    base = (
        docs.filter(~F.col("source").isin(benchmark_sources))
        .select("doc_id", "lang", "source", "text",
                F.size(real_words_col()).alias("n_words"))
        .filter(F.col("n_words") >= min_words)
    )
    overlap = decontaminate(docs, benchmark_sources)
    decon = (
        base.join(overlap, "doc_id", "left")
        .filter(F.coalesce(F.col("n_overlap"), F.lit(0)) <= max_overlap)
    )
    fp = decon.withColumn("fingerprint", content_hash_col())
    w_fp = Window.partitionBy("fingerprint").orderBy(F.asc("doc_id"))
    dedup = (
        fp.withColumn("rk", F.row_number().over(w_fp))
        .filter(F.col("rk") == 1)
    )
    w_src = Window.partitionBy("source").orderBy(F.asc("doc_id"))
    return (
        dedup.withColumn("qk", F.row_number().over(w_src))
        .filter(F.col("qk") <= quota)
        .select("doc_id", "lang", "source", "n_words")
    )
