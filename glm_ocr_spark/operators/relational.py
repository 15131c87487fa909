"""Relational operator slices: the SQL-expressible skeleton of the engine.

Two families:

1. Extraction analogs over `documents`/`events` — the reference's T/F/O/J/A
   ops (SURVEY.md §2) re-expressed as Catalyst-native column expressions and
   window functions that the DuckDB oracle verifies. The T-op columns are
   `functions/text.py`'s relational spellings, which differ from the
   kernel's on some inputs (see that module).

2. Classic relational queries over the TPC-H-ish tables — aggregation, joins,
   windows, sessionization — demonstrating the shuffle-conscious plan shapes
   the 100 TB deployment uses.

Join strategy follows the data: only fixed-size dimensions (`nation`,
`region`) carry a broadcast hint. Tables that grow with the data
(`customer`, `part`) join unhinted, so the optimizer and AQE broadcast
them while their runtime size is under
`spark.sql.autoBroadcastJoinThreshold` and fall back to a sort-merge join
past it, instead of a forced broadcast running the driver out of memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from glm_ocr_spark.functions.text import (
    clean_punct_runs_col,
    enum_normalize_col,
    ordered_join_col,
    title_format_col,
)

# ------------------------------------------------- extraction analogs (T ops)

def t1_clean_punct_runs(docs: DataFrame) -> DataFrame:
    """T1 punctuation-run collapse (`clean_punct_runs_col`)."""
    return docs.select(
        "doc_id", clean_punct_runs_col(F.col("text")).alias("cleaned"))


def t5_title_format(docs: DataFrame) -> DataFrame:
    """T5 title normalization (`title_format_col`); the class is derived
    from doc_id parity here."""
    return docs.select("doc_id", title_format_col(
        F.col("text"), F.col("doc_id") % 2 == 0).alias("title"))


def t7_enum_normalize(docs: DataFrame) -> DataFrame:
    """T7 bullet/enumeration normalization (`enum_normalize_col`) of the
    trimmed text."""
    return docs.select(
        "doc_id",
        enum_normalize_col(F.trim(F.col("text"))).alias("normalized"))


def f9_nonempty_filter(docs: DataFrame) -> DataFrame:
    """F9 empty-content drop + F2 degenerate filter (min length)."""
    return docs.filter(
        (F.trim(F.col("text")) != "") & (F.col("n_chars") >= 50)
    ).select("doc_id", "n_chars")


def o3_reindex(docs: DataFrame) -> DataFrame:
    """O3 index reassignment: dense 0-based index per group after filtering
    (result_formatter.py:174-178) as row_number over a window."""
    w = Window.partitionBy("source").orderBy("doc_id")
    return docs.filter(F.col("n_chars") >= 100).select(
        "doc_id", "source", (F.row_number().over(w) - 1).alias("new_index")
    )


def a5_concat_per_group(docs: DataFrame) -> DataFrame:
    """A5 markdown concatenation: ordered per-group join with '\\n\\n'
    (`ordered_join_col`)."""
    return (
        docs.select("source", "doc_id", F.substring("text", 1, 30).alias("frag"))
        .groupBy("source")
        .agg(
            ordered_join_col("doc_id", "frag", "\n\n").alias("markdown"),
            F.count("*").alias("n_blocks"),
        )
    )


def j1_adjacent_merge_events(events: DataFrame) -> DataFrame:
    """J1 formula⋈formula_number adjacency-merge analog over events:
    a 'click' immediately followed by a 'purchase' (same user, event order)
    absorbs its value as a tag; the consumed row is dropped
    (mirrors result_formatter.py:446-534 lead/consume semantics)."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    with_next = events.select(
        "event_id", "user_id", "event_type", "value",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    merged = with_next.withColumn(
        "merged_value",
        F.when(
            (F.col("event_type") == "click") & (F.col("next_type") == "purchase"),
            F.round(F.col("value") + F.col("next_value"), 6),
        ).otherwise(F.round(F.col("value"), 6)),
    )
    # drop consumed rows: a purchase whose previous event was a click
    return merged.filter(
        ~((F.col("event_type") == "purchase") & (F.col("prev_type") == "click"))
    ).select("event_id", "user_id", "event_type", "merged_value")


# ------------------------------------------------- classic relational slices

def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with map-side partial agg."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
             .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def order_customer_join(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """orders ⋈ customer grouped by market segment. Unhinted: customer
    grows with the data, so it broadcasts (orders never shuffles) only
    while it fits the broadcast threshold; past it the join sort-merges."""
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment" if "c_mktsegment" in customer.columns
                 else "c_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"),
             F.count("*").alias("n_orders"))
    )


def revenue_by_nation(orders: DataFrame, customer: DataFrame,
                      nation: DataFrame) -> DataFrame:
    """orders ⋈ customer ⋈ nation, grouped by nation name. nation (a
    fixed 25-row dim) is always broadcast; customer is left to the
    optimizer's runtime size choice, as in `order_customer_join`."""
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation),
              customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count("*").alias("n_orders"))
        .orderBy(F.desc("revenue"))
    )


def topk_events_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Window rank: top-k events by value per user. Single shuffle on
    user_id; rank prunes before any downstream join."""
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.select("user_id", "event_id", "event_type",
                      F.round("value", 6).alias("value"),
                      F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: gap > threshold starts a new session; session id is a
    running sum of boundary flags (X4 readiness-watermark analog,
    pipeline.py:389-428, as pure window algebra)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    flagged = events.select(
        "user_id", "event_id", "ts",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
         .alias("is_start"),
    )
    return flagged.select(
        "user_id", "event_id",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_id"),
    )


def events_hourly_rollup(events: DataFrame) -> DataFrame:
    """Time-bucketed rollup (hypertable-rollup style): truncate to hour,
    aggregate per (hour, event_type)."""
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("hour", "event_type")
    )


def q3_shipping_priority(customer: DataFrame, orders: DataFrame,
                         lineitem: DataFrame, segment: str = "BUILDING",
                         cutoff: str = "1996-01-01") -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filtered both sides of the date cutoff,
    grouped revenue, top 10.

    Plan shape at scale: customer is the small dim (broadcast); orders and
    lineitem join on orderkey (the one big shuffle); partial aggregation
    map-side; TakeOrderedAndProject for the top-10 (each partition keeps 10
    rows). Filters push to the parquet scans. Deterministic tiebreak on
    l_orderkey so LIMIT is stable across engines.
    """
    return (
        customer.filter(F.col("c_mktsegment") == segment)
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit(cutoff))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit(cutoff))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def q5_local_supplier_volume(customer: DataFrame, orders: DataFrame,
                             lineitem: DataFrame, supplier: DataFrame,
                             nation: DataFrame, region: DataFrame,
                             region_name: str = "ASIA",
                             year_start: str = "1995-01-01",
                             year_end: str = "1996-01-01") -> DataFrame:
    """TPC-H Q5 shape: 6-way join with the local-supplier condition
    (customer and supplier share a nation), revenue per nation.

    Dims (supplier/nation/region/customer) broadcast; lineitem never
    re-shuffles beyond the orderkey join; region/nation filters prune
    before the fact join.
    """
    return (
        customer
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter((F.col("o_orderdate") >= F.lit(year_start))
                & (F.col("o_orderdate") < F.lit(year_end)))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region),
              (F.col("n_regionkey") == F.col("r_regionkey"))
              & (F.col("r_name") == region_name))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .select("n_name", "revenue")
    )


def moving_value_avg(events: DataFrame,
                     window_seconds: int = 3600) -> DataFrame:
    """Trailing-window moving average per user: RANGE frame over event time
    (all events within the past `window_seconds`, inclusive), the
    interval-window shape ROWS frames can't express.

    One shuffle on user_id; the frame scan is sorted-run-local within each
    partition. Ties on ts are handled identically on both engines because
    RANGE frames include ALL peer rows at equal ordering value.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-window_seconds, 0)
    )
    return events.select(
        "user_id", "event_id",
        F.round(F.avg("value").over(w), 6).alias("trailing_avg"),
        F.count("*").over(w).alias("n_in_window"),
    )


def quota_per_source(docs: DataFrame, max_per_source: int = 3) -> DataFrame:
    """Domain/source quota capping: keep at most N documents per source
    (deterministic: lowest doc_id wins). The standard pre-training
    anti-domination rule ("no domain may exceed X documents").

    One `row_number` window over source, like `topk_events_per_user`.
    Source is skewed by nature (one crawl domain can be 90% of a corpus);
    Spark 4 plans a map-side `WindowGroupLimit` Partial below the one
    exchange, so each map partition sends at most N rows per source and
    the hot source's reducer never sees more than N x map partitions.
    That bound holds while N <= spark.sql.optimizer.windowGroupLimitThreshold
    (default 1000; see SCALE.md).
    """
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select("doc_id", "source", "lang",
                    F.row_number().over(w).alias("rank_in_source"))
        .filter(F.col("rank_in_source") <= max_per_source)
    )


def stratified_sample(docs: DataFrame, rates: dict[str, float],
                      default_rate: float = 0.1) -> DataFrame:
    """Deterministic per-stratum (language) sampling by hash threshold:
    keep a document iff the first 8 hex chars of md5(doc_id) — a uniform
    32-bit value — fall below rate * 2^32. Deterministic (resume/retry
    reproduces the same sample, unlike rand()-based sampling), map-side
    (no shuffle; the hash is a pure function of doc_id), and exactly
    SQL-mirrorable, so the sample itself is oracle-checkable. The standard
    shape for language-rebalancing a multilingual pre-training corpus.
    """
    h = F.conv(F.substring(
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 8),
        16, 10).cast("long")
    rate = F.lit(float(default_rate))
    for lang, r in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, F.lit(float(r))).otherwise(rate)
    return (
        docs.select("doc_id", "lang", "source",
                    h.alias("sample_hash"), rate.alias("sample_rate"))
        .filter(F.col("sample_hash")
                < F.col("sample_rate") * F.lit(float(1 << 32)))
        .select("doc_id", "lang", "source")
    )


def q10_returned_items(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame, nation: DataFrame,
                       date_start: str = "1995-07-01",
                       date_end: str = "1995-10-01") -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer over a
    quarter, top 20.

    Plan shape at scale: the lineitem⋈orders orderkey join is the one big
    shuffle; nation broadcasts, customer broadcasts only while it fits the
    broadcast threshold; the returnflag + date filters push to the scans
    so only the quarter's returned lines ever join.
    Deterministic tiebreak on c_custkey for a stable LIMIT.
    """
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders.filter((F.col("o_orderdate") >= F.lit(date_start))
                            & (F.col("o_orderdate") < F.lit(date_end))),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


def q4_priority_with_returns(orders: DataFrame, lineitem: DataFrame,
                             date_start: str = "1995-07-01",
                             date_end: str = "1995-10-01") -> DataFrame:
    """TPC-H Q4 shape adapted to this schema (no commit/receipt dates):
    count a quarter's orders per priority where at least one line item was
    returned — the EXISTS semi-join aggregate.

    Left-semi join never widens rows or duplicates orders with multiple
    matching lines; partial aggregation map-side after it.
    """
    returned = lineitem.filter(F.col("l_returnflag") == "R") \
        .select("l_orderkey")
    return (
        orders.filter((F.col("o_orderdate") >= F.lit(date_start))
                      & (F.col("o_orderdate") < F.lit(date_end)))
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"),
              "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q14_promo_revenue(lineitem: DataFrame, part: DataFrame,
                      month_start: str = "1995-09-01",
                      month_end: str = "1995-10-01") -> DataFrame:
    """TPC-H Q14 shape: promo-revenue share — a conditional-sum ratio over
    one join. The date filter prunes the fact scan before the join; part
    broadcasts while it fits the broadcast threshold and sort-merges past
    it; both sums come out of one aggregate pass (no second scan for the
    denominator)."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter((F.col("l_shipdate") >= F.lit(month_start))
                        & (F.col("l_shipdate") < F.lit(month_end)))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                              .otherwise(F.lit(0.0))) / F.sum(rev),
                4).alias("promo_revenue_pct"),
            F.round(F.sum(rev), 4).alias("total_revenue"),
        )
    )


# Q19-style disjunctive predicate triples: (brand, max p_size, qty lo, qty hi)
Q19_PREDICATES = (
    ("Brand#1", 5, 1, 11),
    ("Brand#2", 10, 10, 20),
    ("Brand#3", 15, 20, 30),
)


def q19_disjunctive_revenue(lineitem: DataFrame,
                            part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue under a DISJUNCTION of brand/size/quantity
    predicate triples (adapted to this schema's columns). The join is an
    equi-join on partkey with the OR-of-ANDs as a post-join filter —
    Catalyst pushes the single-table conjuncts (p_size >= 1, brand IN set)
    into the part scan, which then broadcasts while it fits the broadcast
    threshold (the fact side never shuffles) and sort-merges past it."""
    conds = None
    for brand, size_hi, qty_lo, qty_hi in Q19_PREDICATES:
        c = ((F.col("p_brand") == brand)
             & (F.col("p_size") >= 1) & (F.col("p_size") <= size_hi)
             & (F.col("l_quantity") >= qty_lo)
             & (F.col("l_quantity") <= qty_hi))
        conds = c if conds is None else (conds | c)
    return (
        lineitem
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(conds)
        .agg(
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )
