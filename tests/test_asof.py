"""`asof_join` against DuckDB's ASOF LEFT JOIN."""

import duckdb
import pandas as pd

from glm_ocr_spark.operators.asof import asof_join


def test_asof_join_matches_duckdb_asof_left_join(spark):
    """The latest right row is taken whole: a NULL in it stays NULL instead
    of taking an older row's value. Covers two value columns, a left row
    with no prior right row, a right row at an equal ts (visible), a key
    the right side lacks, and right rows with a NULL key or ts, which
    match nothing (not the NULL-key left row, not the later left rows)."""
    right = pd.DataFrame({
        "k": pd.array([1, 1, 2, 2, None, 1], dtype="Int64"),
        "ts": pd.array([1, 2, 5, 9, 2, None], dtype="Int64"),
        "v": [5.0, None, 7.0, 8.0, 6.0, 7.5],
        "w": ["a", "b", "c", None, "nullk", "nullts"],
    })
    left = pd.DataFrame({
        "k": pd.array([1, 1, 2, 2, 3, None], dtype="Int64"),
        "ts": [3, 0, 5, 10, 4, 3],
        "x": ["late", "early", "tie", "after", "nokey", "nullk"],
    })
    sl = spark.createDataFrame(left.astype(object).where(left.notna(), None),
                               "k long, ts long, x string")
    sr = spark.createDataFrame(
        right.astype(object).where(right.notna(), None),
        "k long, ts long, v double, w string")
    got = sorted(
        (tuple(r) for r in asof_join(sl, sr, on="ts", by="k")
         .select("k", "ts", "x", "v_right", "w_right").collect()), key=repr)

    con = duckdb.connect()
    con.register("l", left)
    con.register("r", right)
    want = sorted(con.execute(
        "select l.k, l.ts, l.x, r.v, r.w from l asof left join r "
        "on l.k = r.k and l.ts >= r.ts").fetchall(), key=repr)
    want = [tuple(None if isinstance(c, float) and c != c else c for c in row)
            for row in want]
    assert got == want
    assert ("late", None, "b") in {(x, v, w) for _, _, x, v, w in got}
