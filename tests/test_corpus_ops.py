"""Training-corpus operator tests: Gopher quality rules, BM25, quota
capping, stratified sampling (the full-value gate is the DuckDB oracle in
driver_sim; these cover edges the corpus doesn't exercise)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF1 = "/root/testdata/sf0.001"


def test_gopher_rules_edges(spark):
    from glm_ocr_spark.operators.text_analysis import gopher_quality_filter

    docs = spark.createDataFrame(
        [(1, ""),                                  # empty
         (2, "short text only"),                   # < 50 words
         (3, " ".join(["the"] * 60)),              # stopwordy, len-3 words
         (4, " ".join(["supercalifragilistic"] * 60)),  # mean len > 10
         (5, " ".join(["#tag"] * 30 + ["the", "of"] + ["word"] * 30))],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_quality_filter(docs).collect()}
    assert rows[1]["n_words"] == 0 and not rows[1]["passes"]
    assert not rows[2]["ok_word_count"]
    assert rows[3]["ok_word_count"] and rows[3]["ok_stopwords"]
    assert not rows[4]["ok_mean_word_len"]
    assert not rows[5]["ok_symbol_ratio"]  # 30/62 symbol words


def test_gopher_word_count_ignores_empty_tokens(spark):
    """trim strips spaces only, so a leading newline used to yield an
    empty leading token that counted as a word — a 49-word doc with a
    leading '\\n' passed the 50-word floor (round-3 review finding). Both
    the operator and its oracle now count non-empty words only."""
    from glm_ocr_spark.operators.text_analysis import gopher_quality_filter

    base = " ".join(
        f"w{i:02d}" for i in range(49))  # 49 real words, mean len 3
    docs = spark.createDataFrame(
        [(1, "\n" + base), (2, base + "\t"), (3, "\t"), (4, base + " the of")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_quality_filter(docs).collect()}
    assert rows[1]["n_words"] == 49 and not rows[1]["ok_word_count"]
    assert rows[2]["n_words"] == 49
    assert rows[3]["n_words"] == 0
    assert rows[4]["n_words"] == 51 and rows[4]["ok_word_count"]


def test_bm25_orders_by_relevance(spark):
    """A doc dense in a rare term outranks one without it; a term present
    in every doc (df == N) still gets positive idf under the +1 form."""
    from glm_ocr_spark.operators.text_analysis import bm25_scores

    docs = spark.createDataFrame(
        [(1, "model model model training data"),
         (2, "the cat sat on the mat"),
         (3, "model of the data pipeline")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"] for r in
           bm25_scores(docs, ["model", "data"]).collect()}
    assert got[1] > got[3] > got[2] == 0.0


def test_quota_and_stratified_determinism(spark):
    from glm_ocr_spark.operators.relational import (
        quota_per_source,
        stratified_sample,
    )

    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    q = quota_per_source(docs, max_per_source=2)
    counts = {r["source"]: r["n"] for r in
              q.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert max(counts.values()) <= 2
    # keeper is the min doc_id per source (deterministic, not arbitrary)
    first = q.filter(F.col("rank_in_source") == 1) \
        .select("source", "doc_id").collect()
    mins = {r["source"]: r["min_id"] for r in
            docs.groupBy("source").agg(F.min("doc_id").alias("min_id"))
            .collect()}
    assert all(mins[r["source"]] == r["doc_id"] for r in first)

    s1 = {r["doc_id"] for r in
          stratified_sample(docs, {"en": 0.5}, 0.1).collect()}
    s2 = {r["doc_id"] for r in
          stratified_sample(docs, {"en": 0.5}, 0.1).collect()}
    assert s1 == s2 and len(s1) > 0  # hash sampling: identical re-runs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_corpus_op_plan_shapes(spark):
    """Plan-quality assertions — the shapes that decide 100 TB viability:
    - bm25: corpus stats reach the scorer via broadcast, never a
      sort-merge join; the docs relation has no Exchange before scoring
    - gopher/stratified: pure narrow maps, zero Exchange
    - quota_per_source / passage_dedup: exactly one Exchange (the window
      partition key) — nothing re-shuffles after
    """
    from glm_ocr_spark.operators.dedup import passage_dedup
    from glm_ocr_spark.operators.relational import (
        quota_per_source,
        stratified_sample,
    )
    from glm_ocr_spark.operators.text_analysis import (
        bm25_scores,
        gopher_quality_filter,
    )

    docs = spark.read.parquet(f"{SF1}/documents.parquet")

    assert "Exchange" not in _plan(gopher_quality_filter(docs))
    assert "Exchange" not in _plan(stratified_sample(docs, {"en": 0.5}))

    bm25 = _plan(bm25_scores(docs, ["data", "model"]))
    assert "BroadcastNestedLoopJoin" in bm25 or "BroadcastExchange" in bm25
    assert "SortMergeJoin" not in bm25

    # passage_dedup: exactly one data-moving exchange (the passage window)
    p = _plan(passage_dedup(docs))
    assert p.count("Exchange hashpartitioning") == 1, p

    # quota_per_source: one exchange on source, with WindowGroupLimit's
    # map-side Partial top-k BELOW it (Spark 4 pushes rank<=k pre-shuffle),
    # so the exchange carries at most k rows per source per map partition
    q = _plan(quota_per_source(docs, 3))
    assert q.count("Exchange hashpartitioning") == 1, q
    below = q[q.index("Exchange hashpartitioning"):]
    assert "WindowGroupLimit" in below and "Partial" in below, q


def test_real_words_udf_parity(spark):
    """The Arrow twin must be byte-equal to the JVM expression on every
    whitespace edge (trim strips 0x20 only; Java \\s is ASCII-only)."""
    from glm_ocr_spark.operators.norm import real_words_col, real_words_udf

    texts = ["Hello  World", "\tleading tab", "trailing\n", " nbsp",
             "  spaces  ", "", None, "A\tB\nC", "mixed　ideographic",
             "ONE", " x "]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    both = docs.select(
        "doc_id",
        real_words_col().alias("jvm"),
        real_words_udf().alias("arrow"),
    ).collect()
    for r in both:
        jvm = r["jvm"] if r["jvm"] is not None else []
        assert list(r["arrow"]) == list(jvm), (r["doc_id"], jvm, r["arrow"])


def test_rep_ngram_fractions(spark):
    from glm_ocr_spark.operators.text_analysis import rep_ngram_fractions

    docs = spark.createDataFrame(
        [(1, "a b a b a b"),      # bigrams: ab,ba,ab,ba,ab -> 5 total, 2 dist
         (2, "w x y z"),          # 3 bigrams, all distinct
         (3, "solo"),             # < 2 words -> 0 ngrams
         (4, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in rep_ngram_fractions(docs).collect()}
    assert rows[1]["n_ngrams"] == 5
    assert rows[1]["dup_ngram_fraction"] == 0.6      # 1 - 2/5
    assert rows[1]["top_ngram_fraction"] == 0.6      # 'a b' x3 / 5
    assert rows[2]["dup_ngram_fraction"] == 0.0
    assert rows[2]["top_ngram_fraction"] == round(1 / 3, 6)
    assert rows[3]["n_ngrams"] == 0
    assert rows[3]["dup_ngram_fraction"] == 0.0
    assert rows[4]["n_ngrams"] == 0


def test_q14_q19_plan_shapes(spark):
    """Q14/Q19: part broadcasts; the date filter pushes into the lineitem
    scan (Q14); no cartesian products anywhere."""
    from glm_ocr_spark.operators.relational import (
        q14_promo_revenue,
        q19_disjunctive_revenue,
    )

    li = spark.read.parquet(f"{SF1}/lineitem.parquet")
    part = spark.read.parquet(f"{SF1}/part.parquet")
    p14 = q14_promo_revenue(li, part)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in p14
    assert "PushedFilters: [" in p14 and "l_shipdate" in p14
    p19 = q19_disjunctive_revenue(li, part)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in p19
    assert "CartesianProduct" not in p19


def _broadcast_subtrees(plan: str) -> list[str]:
    """The text of every BroadcastExchange node and the nodes below it."""
    lines = plan.splitlines()

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    subtrees = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" in ln:
            sub = [ln]
            for nxt in lines[i + 1:]:
                if depth(nxt) <= depth(ln):
                    break
                sub.append(nxt)
            subtrees.append("\n".join(sub))
    return subtrees


def test_growing_tables_never_forced_to_broadcast(spark):
    """With broadcasting switched off, no join may still broadcast a table
    that grows with the data: customer, part, or ngram_jaccard_pairs'
    one-row-per-doc shingle-count table (`count(1)` grouped by doc_id).
    Checked on the initial and the final adaptive plan."""
    import re

    from glm_ocr_spark.operators.dedup import ngram_jaccard_pairs
    from glm_ocr_spark.operators.relational import (
        order_customer_join,
        q10_returned_items,
        q14_promo_revenue,
        q19_disjunctive_revenue,
        revenue_by_nation,
    )

    def t(name):
        return spark.read.parquet(f"{SF1}/{name}.parquet")

    size_agg = re.compile(
        r"HashAggregate\(keys=\[doc_id#\d+L\], functions=\[count\(1\)\]")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plans = {
            "order_customer_join": order_customer_join(t("orders"),
                                                       t("customer")),
            "revenue_by_nation": revenue_by_nation(t("orders"), t("customer"),
                                                   t("nation")),
            "q10": q10_returned_items(t("customer"), t("orders"),
                                      t("lineitem"), t("nation")),
            "q14": q14_promo_revenue(t("lineitem"), t("part")),
            "q19": q19_disjunctive_revenue(t("lineitem"), t("part")),
            "ngram_jaccard_pairs": ngram_jaccard_pairs(t("documents")),
        }
        for name, df in plans.items():
            df.collect()
            for sub in _broadcast_subtrees(_plan(df)):
                assert "customer.parquet" not in sub, (name, sub)
                assert "part.parquet" not in sub, (name, sub)
                assert not size_agg.search(sub), (name, sub)
    finally:
        spark.conf.set(key, old)


def test_passage_dedup_hash_keys_equivalence(spark):
    """The 100 TB key-compression switch (window partitioned on
    xxhash64(passage) instead of the passage text) must produce the
    identical survivor set on a collision-free corpus."""
    from glm_ocr_spark.operators.dedup import passage_dedup

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    plain = {tuple(r) for r in passage_dedup(docs).collect()}
    hashed = {tuple(r) for r in
              passage_dedup(docs, hash_keys=True).collect()}
    assert plain == hashed and len(plain) > 0


def test_decontaminate_hash_keys_equivalence(spark):
    """The decontamination key-compression switch (join on xxhash64(ngram)
    instead of the n-gram string) must produce identical overlap counts on
    a collision-free corpus, and the benchmark side must still broadcast."""
    from glm_ocr_spark.operators.curation import decontaminate

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    bench_sources = ["src0", "src1"]
    plain = {tuple(r) for r in decontaminate(docs, bench_sources).collect()}
    hashed = {tuple(r) for r in
              decontaminate(docs, bench_sources, hash_keys=True).collect()}
    assert plain == hashed and len(plain) > 0
    p = decontaminate(docs, bench_sources, hash_keys=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "xxhash64" in p
