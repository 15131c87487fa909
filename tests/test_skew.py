"""Skew handling: a pathologically long conversation must spread across
partitions (north rule: "partitioning / shuffle / skew handled explicitly";
SURVEY.md §7.3.4)."""

from pyspark.sql import functions as F

from glm_ocr_spark.data.gen import transcripts_df


def test_salted_rollup_on_100k_turn_conversation(spark):
    """A ~10^5-turn conversation must roll up correctly through the
    two-level salted aggregate (round 1's single collect_list per conv_id
    would build the whole 10^5-element array on one reducer). Includes
    null-markdown (skip-task) turns, which must vanish without leaving a
    stray delimiter, exactly like single-level array_join null-skipping."""
    from glm_ocr_spark.pipeline import conversation_rollup

    n = 100_000
    turns = spark.range(n).select(
        F.lit("big").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        # every 7th turn is a skip-task turn: markdown NULL
        F.when(F.col("id") % 7 == 0, F.lit(None))
         .otherwise(F.concat(F.lit("t"), F.col("id"))).alias("markdown"),
        F.lit(1).alias("n_blocks"),
    )
    out = conversation_rollup(turns, salt_block=1024).head()
    assert out["n_turns"] == n
    assert out["n_blocks_total"] == n
    expected = "\n\n".join(f"t{i}" for i in range(n) if i % 7 != 0)
    assert out["conversation_markdown"] == expected


def test_salted_rollup_matches_single_level_on_null_edge(spark):
    """Tiny adversarial cases: blocks made entirely of null markdown, empty
    strings vs nulls, block boundaries."""
    from glm_ocr_spark.pipeline import conversation_rollup

    rows = [
        ("c", 0, "a", 1), ("c", 1, None, 0), ("c", 2, "b", 1),
        ("c", 3, None, 0), ("c", 4, None, 0),  # block of only nulls (blk=1 @2)
        ("c", 5, "", 1),                        # empty string is kept
        ("d", 0, None, 0), ("d", 1, None, 0),   # all-null conversation
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, markdown string, n_blocks int")
    got = {r["conv_id"]: r for r in
           conversation_rollup(df, salt_block=2).collect()}
    assert got["c"]["conversation_markdown"] == "a\n\nb\n\n"
    assert got["c"]["n_turns"] == 6
    assert got["d"]["conversation_markdown"] == ""


def test_generated_corpus_has_heavy_conversations(spark):
    df = transcripts_df(spark, 0.001)
    counts = df.groupBy("conv_id").count()
    stats = counts.agg(F.max("count").alias("mx"),
                       F.expr("percentile(count, 0.5)").alias("med")).head()
    # FIXTURES.md: a few conversations at 10x+ the median turn count
    assert stats["mx"] >= 10 * stats["med"]


def test_generation_partitions_are_uniform(spark):
    # global-ordinal generation: partition sizes within 2x of each other
    df = transcripts_df(spark, 0.001, num_partitions=16)
    sizes = [r["count"] for r in
             df.withColumn("pid", F.spark_partition_id())
               .groupBy("pid").count().collect()]
    assert len(sizes) == 16
    assert max(sizes) <= 2 * min(sizes)


def test_salted_quota_on_90pct_one_source_corpus(spark):
    """`partitionBy(source)` is a skewed-key shuffle when one source holds
    90% of the corpus. The quota is one `row_number` window: it must give
    the reference window's answer, and its plan must bound the hot source
    with Spark 4's map-side `WindowGroupLimit` Partial below the single
    exchange on source, so each map partition ships at most k rows per
    source to the hot reducer."""
    from pyspark.sql import Window

    from glm_ocr_spark.operators.relational import quota_per_source

    n = 20_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # 90% of the corpus is one source, the rest spread over 100
        F.when(F.col("id") % 10 != 0, F.lit("megacrawl"))
         .otherwise(F.concat(F.lit("s"), F.col("id") % 100)).alias("source"),
        F.lit("en").alias("lang"),
    )
    k = 5
    got = quota_per_source(docs, max_per_source=k)
    plan = got._jdf.queryExecution().executedPlan().toString()
    w = Window.partitionBy("source").orderBy(F.asc("doc_id"))
    want = (
        docs.select("doc_id", "source", "lang",
                    F.row_number().over(w).alias("rank_in_source"))
        .filter(F.col("rank_in_source") <= k)
    )
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))

    exchanges = [ln for ln in plan.splitlines()
                 if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(source#" in exchanges[0], plan
    below = plan[plan.index("Exchange hashpartitioning"):]
    assert "WindowGroupLimit" in below and "Partial" in below, plan
