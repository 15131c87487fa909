"""As-of join: each left row matched to the most recent right row at or
before it (per key). Spark lacks a native ASOF JOIN (DuckDB/kdb/Pandas have
one); the scalable formulation is the union-sort-window trick:

  1. tag left(1) and right(0) rows, union on (key, ts, tag); each right
     row carries its values as one struct, NULL on left rows;
  2. one window per key ordered by (ts, tag): the last non-null struct at
     or before each row = the as-of match, whole (a NULL value in it stays
     NULL rather than falling back to an older row's value);
  3. keep left rows.

One shuffle on the key (the same partitioning both inputs would need
anyway); no UDF, no per-row Python, skew-safe for hot keys via AQE. This is
the composition path (a) of the custom-operator ladder — DataFrame ops
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_join(left: DataFrame, right: DataFrame, on: str, by: str,
               window_seconds: int,
               value_cols: list[str] | None = None,
               suffix: str = "_right") -> DataFrame:
    """Interval join: pair each left row with every right row (same `by`)
    whose `on` lies in (left.on - window, left.on], via time-bucketing.

    A naive inequality join is a per-key cross product; bucketing each side
    to floor(epoch/window) and equi-joining on (by, bucket) with the left
    probing its own and the previous bucket caps candidates at two buckets
    per row — shuffle stays O(rows), the exact predicate filters after the
    equality join. Spark's own optimizer cannot do this rewrite; DuckDB's
    IEJoin is the single-node analog (the oracle uses the plain inequality
    form at test scale).
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, by)]
    l_epoch = F.unix_timestamp(F.col(on).cast("timestamp"))
    bucket = F.floor(l_epoch / window_seconds)

    lhs = left.withColumn("_bucket", bucket)
    probe = lhs.select(
        *left.columns,
        F.explode(F.array(F.col("_bucket"),
                          F.col("_bucket") - 1)).alias("_jb"),
    )
    rhs = right.select(
        F.col(by).alias("_rby"),
        F.col(on).alias(f"{on}{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
    ).withColumn(
        "_jb",
        F.floor(F.unix_timestamp(F.col(f"{on}{suffix}").cast("timestamp"))
                / window_seconds),
    )
    r_epoch = F.unix_timestamp(F.col(f"{on}{suffix}").cast("timestamp"))
    joined = probe.join(
        rhs, (probe["_jb"] == rhs["_jb"]) & (probe[by] == rhs["_rby"])
    ).filter(
        (r_epoch > l_epoch - window_seconds) & (r_epoch <= l_epoch)
    )
    return joined.drop("_jb", "_rby", "_bucket")


def asof_join(left: DataFrame, right: DataFrame, on: str, by: str,
              value_cols: list[str] | None = None,
              suffix: str = "_right") -> DataFrame:
    """For every `left` row, attach the latest `right` row with
    right[on] <= left[on], matching on `by`. Rows with no prior right row
    get nulls (left outer as-of). A NULL `by` or `on` matches nothing, as
    under SQL's `=` and `>=`: right rows holding one are dropped before
    the union, where the window would otherwise group NULL keys together
    and sort NULL `on` first, visible to every later left row.

    `on`: ordering column (e.g. ts); `by`: equi-key (e.g. user_id);
    `value_cols`: right columns to carry (default: all but on/by).
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, by)]

    lhs = left.withColumn("_tag", F.lit(1))
    rhs = right.filter(F.col(by).isNotNull() & F.col(on).isNotNull()).select(
        F.col(by),
        F.col(on),
        F.lit(0).alias("_tag"),
        F.struct(*[F.col(c).alias(f"{c}{suffix}") for c in value_cols])
        .alias("_r"),
    )
    # the columns one side lacks (left payload, `_r`) are NULL on its rows
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)
    # right rows sort before left rows at equal `on` (tag 0 < 1), so an
    # exactly-simultaneous right row IS visible to the left row (<= match)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        unioned.withColumn("_r", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_tag") == 1)
        .select(*left.columns, "_r.*")
    )
