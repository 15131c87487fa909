"""SemDeDup (cluster-scoped embedding dedup) vs an independent sequential
NumPy oracle, plus the engine-equality margin guards that make the
`semdedup` driver row's DuckDB oracle trustworthy (cell assignment by
float argmax and a float threshold filter are only engine-portable when no
decision sits within float-noise of the boundary)."""

from __future__ import annotations

from unittest import mock

import numpy as np
import pyarrow.parquet as pq
import pytest

from glm_ocr_spark.operators import similarity

# Patching the gram tile down to 3 rows makes every cell of more than three
# rows take `_near_pairs`' multi-tile path (row tiles meeting the column
# tiles below them); the tests below check it against the same oracles as
# the default tile, under which every test cell fits one tile.
TINY_TILE = 3

SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def _load(sf_dir):
    t = pq.read_table(f"{sf_dir}/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id"))
    emb = np.stack([np.asarray(v, dtype=np.float64)
                    for v in t.column("embedding").to_pylist()])
    order = np.argsort(ids)
    return ids[order], emb[order]


def _np_semdedup_pairs(ids, emb, centroids, threshold, order="vec_id"):
    """Sequential oracle: cosine-argmax cells (ties to lowest cell, like
    np.argmax in the UDF; a zero vector's norm counts as 1), then every
    same-cell pair (drop j, keep i) with i earlier-ordered than j and
    cos(i, j) >= threshold; a zero vector is in no pair (its cosine is
    undefined). Returns (cells_by_id, {(drop, keep, cell): cosine})."""
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    nz = norms[:, 0] > 0
    xn = emb / np.where(nz[:, None], norms, 1.0)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    sims = xn @ cn.T
    cells = np.argmax(sims, axis=1)
    cent_sim = sims[np.arange(len(cells)), cells]
    pairs = {}
    for c in np.unique(cells):
        m = np.where(cells == c)[0]
        if order == "vec_id":
            m = m[np.argsort(ids[m])]
        else:  # "centroid": ascending cosine-to-own-centroid, tie vec_id
            key = np.lexsort((ids[m], cent_sim[m]))
            m = m[key]
        pair = xn[m] @ xn[m].T
        for j in range(1, len(m)):
            if not nz[m[j]]:
                continue
            for i in np.nonzero(pair[:j, j] >= threshold)[0]:
                if nz[m[i]]:
                    pairs[(int(ids[m[j]]), int(ids[m[i]]), int(c))] = \
                        float(pair[i, j])
    return {int(i): int(c) for i, c in zip(ids, cells)}, pairs


def _np_semdedup(ids, emb, centroids, threshold, order="vec_id"):
    """The published upper-triangular drop rule over `_np_semdedup_pairs`:
    drop j iff any earlier-ordered same-cell i has cos(i, j) >= threshold.
    Returns (cells_by_id, dropped_id_set)."""
    cells, pairs = _np_semdedup_pairs(ids, emb, centroids, threshold, order)
    return cells, {d for d, _, _ in pairs}


def _assert_pairs_match(rows, want):
    """Spark pair rows equal the oracle's pairs, cosines to the kernel's
    6-decimal rounding."""
    got = {(r["drop_id"], r["keep_id"], r["cell"]): r["cos_sim"]
           for r in rows}
    assert len(got) == len(rows)  # no pair emitted twice
    assert got.keys() == want.keys()
    assert all(abs(got[p] - want[p]) <= 1e-6 for p in want)


def _spark_emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _assert_engine_margins(emb, cents, threshold):
    """Exact cross-engine set equality is only a sound assertion when no
    decision sits within float-noise of a boundary (JVM fold vs NumPy
    matmul sum in different orders): top-2 centroid sims must differ by
    > 1e-9 and no in-cell pair cosine may sit within 1e-9 of the
    threshold. If data or parameters ever violate this, the right fix is
    different parameters — not a tolerance in the equality assert."""
    xn = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    sims = xn @ cn.T
    if sims.shape[1] > 1:
        top2 = np.sort(sims, axis=1)[:, -2:]
        assert np.min(top2[:, 1] - top2[:, 0]) > 1e-9
    cells = np.argmax(sims, axis=1)
    for c in np.unique(cells):
        m = np.where(cells == c)[0]
        pair = xn[m] @ xn[m].T
        iu = np.triu_indices(len(m), k=1)
        if len(iu[0]):
            assert np.min(np.abs(pair[iu] - threshold)) > 1e-9, c


def test_semantic_dedup_matches_numpy_oracle_trained_centroids(spark):
    """Default path: trained spherical-k-means centroids (the production
    configuration). Survivors and cell assignments must equal the
    sequential implementation exactly."""
    from glm_ocr_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )

    ids, emb = _load(SF2)
    sdf = _spark_emb(spark, SF2)
    cents = train_ivf_centroids(sdf, n_cells=8)
    _assert_engine_margins(emb, cents, threshold=0.4)
    cells, dropped = _np_semdedup(ids, emb, cents, 0.4)
    want = {(i, cells[i]) for i in cells if i not in dropped}
    for tile in (similarity.GRAM_TILE, TINY_TILE):
        with mock.patch.object(similarity, "GRAM_TILE", tile):
            got = {(r["vec_id"], r["cell"])
                   for r in semantic_dedup(sdf, threshold=0.4, n_cells=8,
                                           centroids=cents).collect()}
        assert got == want, tile
    # the threshold must actually drop something on the raw corpus, or this
    # test proves only the trivial identity (0.4: 23 in-cell drops at
    # sf0.01 with 8 trained cells; no natural in-cell pair reaches 0.5)
    assert dropped


def test_semantic_dedup_centroid_order_keeps_outliers(spark):
    """order='centroid' (the paper's keep-outliers policy) must match the
    sequential oracle under the farthest-from-centroid-first precedence,
    and differ from vec_id order on at least the survivor identities of
    one dup group (otherwise the option is untested decoration)."""
    from glm_ocr_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )

    ids, emb = _load(SF2)
    sdf = _spark_emb(spark, SF2)
    cents = train_ivf_centroids(sdf, n_cells=8)
    got = {r["vec_id"]
           for r in semantic_dedup(sdf, threshold=0.4, n_cells=8,
                                   centroids=cents,
                                   order="centroid").collect()}
    _, dropped = _np_semdedup(ids, emb, cents, 0.4, order="centroid")
    assert got == set(int(i) for i in ids) - dropped
    _, dropped_vid = _np_semdedup(ids, emb, cents, 0.4, order="vec_id")
    assert dropped != dropped_vid


def test_semantic_dedup_pairs_expose_drop_evidence(spark):
    """Every dropped id must appear in semantic_dedup_pairs with a keep_id
    that precedes it and a cos_sim >= threshold (the pairs view is the
    audit trail for the survivors view)."""
    from glm_ocr_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
        train_ivf_centroids,
    )

    sdf = _spark_emb(spark, SF2)
    cents = train_ivf_centroids(sdf, n_cells=8)
    pairs = semantic_dedup_pairs(sdf, threshold=0.4, centroids=cents).collect()
    assert pairs
    assert all(p["keep_id"] < p["drop_id"] and p["cos_sim"] >= 0.4
               for p in pairs)
    with mock.patch.object(similarity, "GRAM_TILE", TINY_TILE):
        tiled_pairs = semantic_dedup_pairs(sdf, threshold=0.4,
                                           centroids=cents).collect()
    as_set = lambda rows: {(p["drop_id"], p["keep_id"], p["cell"],
                            p["cos_sim"]) for p in rows}
    assert as_set(pairs) == as_set(tiled_pairs)  # tiles value-identical
    assert len(tiled_pairs) == len(pairs)
    survivors = {r["vec_id"] for r in semantic_dedup(
        sdf, threshold=0.4, centroids=cents).collect()}
    assert {p["drop_id"] for p in pairs}.isdisjoint(survivors)


def test_semdedup_driver_row_drops_exactly_the_planted_clique(spark):
    """The advertised `semdedup` query (fixed first-16 centroids, corpus +
    10 planted cosine-~0.998 neighbors of vec 0) must drop exactly the 10
    planted ids: vec 0 precedes all of them, they land in vec 0's cell,
    and no natural pair reaches 0.9 — so the row is non-trivially green
    (round-3 lesson: a 0 == 0 row verifies nothing)."""
    import __spark_entry__ as entry

    for sf_dir in (SF1, SF2):
        rows = entry.q_semdedup(spark, sf_dir).collect()
        base_n = _spark_emb(spark, sf_dir).count()
        survivors = {r["vec_id"] for r in rows}
        planted = {entry.ANN_PLANT_OFFSET + v
                   for v in range(1, entry.ANN_PLANT_N + 1)}
        assert survivors.isdisjoint(planted)
        assert len(rows) == base_n  # corpus survives, only plants drop


def test_semdedup_driver_row_engine_margins():
    """The DuckDB oracle equality is only meaningful if no decision sits
    within float-noise of a boundary. Two guards over the augmented
    corpus at both driver scales (NumPy mirrors the query arithmetic):
    every vector's top-2 centroid similarities differ by > 1e-9, and no
    within-cell pair's cosine sits within 1e-6 of the 0.9 threshold."""
    import __spark_entry__ as entry

    for sf_dir in (SF1, SF2):
        ids, emb = _load(sf_dir)
        cents = emb[:entry.SEMDEDUP_CELLS]
        q = emb[0]
        plant = 20.0 * q + emb[1:entry.ANN_PLANT_N + 1]
        aug = np.vstack([emb, plant])
        xn = aug / np.linalg.norm(aug, axis=1, keepdims=True)
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        sims = xn @ cn.T
        top2 = np.sort(sims, axis=1)[:, -2:]
        assert np.min(top2[:, 1] - top2[:, 0]) > 1e-9, sf_dir
        cells = np.argmax(sims, axis=1)
        for c in np.unique(cells):
            m = np.where(cells == c)[0]
            pair = xn[m] @ xn[m].T
            iu = np.triu_indices(len(m), k=1)
            if len(iu[0]):
                assert np.min(np.abs(pair[iu] - 0.9)) > 1e-6, (sf_dir, c)
        assert len(ids)  # corpora are non-empty by construction


def test_fixed_centroids_bounded_and_ordered(spark):
    """fixed_centroids must return the first-k embeddings in vec_id order
    (the property the SQL oracle's `cell = vec_id` mapping relies on)."""
    from glm_ocr_spark.operators.similarity import fixed_centroids

    ids, emb = _load(SF1)
    cents = fixed_centroids(_spark_emb(spark, SF1), 16)
    assert cents.shape == (16, emb.shape[1])
    np.testing.assert_array_equal(cents, emb[:16])


def test_semantic_dedup_rejects_unknown_order(spark):
    """Must raise BEFORE training centroids or collecting anything
    (review finding: the old bottom-of-assign validation paid a k-means
    train per typo) — so no .collect() is needed to trigger it."""
    from glm_ocr_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    with pytest.raises(ValueError, match="unknown order"):
        semantic_dedup(_spark_emb(spark, SF1), order="nope")
    with pytest.raises(ValueError, match="unknown order"):
        semantic_dedup_pairs(_spark_emb(spark, SF1), order="nope")


def test_zero_embedding_never_drops_or_is_dropped(spark):
    """A zero embedding has undefined cosine: it must neither drop other
    vectors nor be dropped (review finding — without the norm guard Spark
    yields NULL while a NaN-is-greatest SQL engine drops everything after
    it in the cell; both sides now guard explicitly). The zero vector's
    vec_id (999,999) is LOWER-ordered than nothing here, but its cell is
    shared with real vectors, so an unguarded implementation would emit
    NULL-cosine pairs; with the zero vector planted FIRST (vec_id -1) an
    unguarded NaN verifier would drop its whole cell."""
    import pyspark.sql.functions as F

    from glm_ocr_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )

    base = _spark_emb(spark, SF1).limit(20)
    cents = train_ivf_centroids(base, n_cells=4)
    zero = base.limit(1).select(
        F.lit(-1).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.0)).alias("embedding"),
        F.lit(0).alias("label"))
    aug = base.unionByName(zero)
    plain = {r["vec_id"] for r in semantic_dedup(
        base, threshold=0.4, centroids=cents).collect()}
    for tile in (similarity.GRAM_TILE, TINY_TILE):
        with mock.patch.object(similarity, "GRAM_TILE", tile):
            survivors = {r["vec_id"] for r in semantic_dedup(
                aug, threshold=0.4, centroids=cents).collect()}
        assert -1 in survivors, tile  # never dropped
        # same centroids, zero vector planted ahead of everything in its
        # cell -> no other survivor changes (it never drops anyone)
        assert survivors - {-1} == plain, tile


def test_semdedup_from_assigned_bucketed_no_shuffle(spark):
    """The deployment shape: cells assigned once at write time into a
    bucketBy(cell) table. Two properties, both load-bearing: (1) the
    per-cell pair kernel over the bucketed scan plans with ZERO shuffle
    Exchange (the scan reports HashPartitioning — the thing a plain
    partitionBy-parquet read cannot do, see SCALE.md), and (2) survivors
    are value-identical to the self-assigning semantic_dedup with the
    same centroids."""
    import pyspark.sql.functions as F

    from glm_ocr_spark.operators.similarity import (
        fixed_centroids,
        ivf_cell_udf,
        semantic_dedup,
        semantic_dedup_from_assigned,
        semantic_dedup_pairs_from_assigned,
    )

    emb = _spark_emb(spark, SF1)
    cents = fixed_centroids(emb, 16)
    cells = emb.withColumn("cell", ivf_cell_udf(cents)(F.col("embedding")))
    table = "semdedup_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (cells.write.mode("overwrite").bucketBy(8, "cell").sortBy("cell")
     .saveAsTable(table))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the plan assert sees the plan a big-corpus
        # run would take
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assigned = spark.table(table)
        pairs = semantic_dedup_pairs_from_assigned(assigned, threshold=0.4)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # the bucketed scan reports HashPartitioning(cell), which satisfies
        # the groupBy -> FlatMapGroupsInPandas clustering requirement
        assert "FlatMapGroupsInPandas" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:2000]
        got = {(r["vec_id"], r["cell"]) for r in
               semantic_dedup_from_assigned(assigned, threshold=0.4)
               .collect()}
        want = {(r["vec_id"], r["cell"]) for r in
                semantic_dedup(emb, threshold=0.4, centroids=cents)
                .collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE {table}")


def test_semdedup_from_assigned_validates_input(spark):
    import pyspark.sql.functions as F

    from glm_ocr_spark.operators.similarity import (
        semantic_dedup_from_assigned,
    )

    emb = _spark_emb(spark, SF1)  # no cell column
    with pytest.raises(ValueError, match="needs columns"):
        semantic_dedup_from_assigned(emb)
    with pytest.raises(ValueError, match="unknown order"):
        semantic_dedup_from_assigned(emb, order="nope")
    # the cent_sim check runs before any column is selected, so a table
    # without it raises the documented ValueError, not UNRESOLVED_COLUMN
    no_cent_sim = emb.withColumn("cell", F.lit(0))
    with pytest.raises(ValueError, match="cent_sim"):
        semantic_dedup_from_assigned(no_cent_sim, order="centroid")


from hypothesis import HealthCheck, assume, given, settings, strategies as st


@st.composite
def _random_corpus(draw):
    """Small random embedding set + parameters, with the threshold forced
    away from every realizable cosine so exact cross-engine equality is
    sound by construction (the margin discipline of
    _assert_engine_margins, generated rather than asserted)."""
    n = draw(st.integers(6, 24))
    dim = draw(st.integers(3, 8))
    n_cells = draw(st.integers(2, 4))
    order = draw(st.sampled_from(["vec_id", "centroid"]))
    tile = draw(st.sampled_from([similarity.GRAM_TILE, 1, TINY_TILE]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    emb = rng.normal(size=(n, dim))
    # centroids from the data (fixed-centroid style) keep everything
    # deterministic and engine-reproducible
    cents = emb[:n_cells].copy()
    xn = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    sims = xn @ cn.T
    top2 = np.sort(sims, axis=1)[:, -2:]
    # near-tied argmax would make exact parity unsound: regenerate
    assume(np.min(top2[:, 1] - top2[:, 0]) >= 1e-6)
    cells = np.argmax(sims, axis=1)
    cos_vals = []
    for c in np.unique(cells):
        m = np.where(cells == c)[0]
        pair = xn[m] @ xn[m].T
        iu = np.triu_indices(len(m), k=1)
        cos_vals.extend(pair[iu].tolist())
    if not cos_vals:
        threshold = 0.5
    else:
        vals = sorted(cos_vals)
        # midpoint between two adjacent realized cosines (or beyond the
        # extremes) — every decision has a wide margin by construction
        i = draw(st.integers(0, len(vals)))
        lo = vals[i - 1] if i > 0 else vals[0] - 0.2
        hi = vals[i] if i < len(vals) else vals[-1] + 0.2
        assume(hi - lo >= 1e-6)
        threshold = (lo + hi) / 2.0
    return emb, cents, threshold, order, tile


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(_random_corpus())
def test_fuzz_semdedup_matches_numpy(spark, case):
    """Randomized Spark-vs-NumPy parity over corpora the fixed testdata
    never exercises (tiny cells, empty cells, thresholds straddling every
    realized cosine, both orderings, one-row and three-row gram tiles)."""
    from pyspark.sql import types as T

    from glm_ocr_spark.operators.similarity import semantic_dedup

    emb, cents, threshold, order, tile = case
    ids = np.arange(len(emb))
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType()))])
    sdf = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in zip(ids, emb)],
        schema)
    with mock.patch.object(similarity, "GRAM_TILE", tile):
        got = {(r["vec_id"], r["cell"]) for r in semantic_dedup(
            sdf, threshold=threshold, centroids=cents,
            order=order).collect()}
    cells, dropped = _np_semdedup(ids, emb, cents, threshold, order=order)
    want = {(i, cells[i]) for i in cells if i not in dropped}
    assert got == want, (threshold, order, tile)


def test_semantic_dedup_assigns_each_row_once(spark, call_counter):
    """The survivors come straight out of the per-cell matmul kernel, so
    the assignment kernel runs once per row: no second pass feeds a
    left-anti join's survivor side."""
    from glm_ocr_spark.operators.similarity import (
        semantic_dedup,
        train_ivf_centroids,
    )

    sdf = _spark_emb(spark, SF1)
    n_rows = sdf.count()
    cents = train_ivf_centroids(sdf, n_cells=8)
    with call_counter(similarity, "_cell_argmax") as acc:
        kept = semantic_dedup(sdf, threshold=0.4, centroids=cents)
    # collect both columns: a bare count() prunes `cell` and with it the
    # assignment on the survivor side
    assert 0 < len(kept.collect()) < n_rows
    assert acc.value == n_rows


def test_hot_cell_guard_value_equal_on_pathological_corpus(spark):
    """A pathological corpus with more than half its vectors in ONE cell:
    its survivors and pairs must equal the sequential oracle under the
    default tile (every cell one tile) and under a 3-row tile (the hot
    cell's 69 rows cross 23 row tiles). Uses fixed_centroids so cell =
    vec_id for the first n_cells ids; the planted cluster around centroid
    0 puts 69 of the 120 rows into cell 0."""
    import pandas as pd

    from glm_ocr_spark.operators.similarity import (
        fixed_centroids,
        semantic_dedup,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(7)
    n_cells, n = 4, 120
    base = rng.normal(size=(n_cells, 8))
    rows = []
    for i in range(n):
        if i < n_cells:
            v = base[i]
        elif i < n * 0.6:      # 60%+ of the corpus lands in cell 0
            v = base[0] + rng.normal(scale=0.05, size=8)
        else:
            v = base[1 + (i % (n_cells - 1))] + rng.normal(scale=0.05,
                                                           size=8)
        rows.append((i, [float(x) for x in v]))
    sdf = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]}))
    cents = fixed_centroids(sdf, n_cells)
    ids = np.arange(n)
    emb = np.asarray([r[1] for r in rows])
    cells, want_pairs = _np_semdedup_pairs(ids, emb, cents, 0.9)
    dropped = {d for d, _, _ in want_pairs}
    want = {(i, cells[i]) for i in cells if i not in dropped}
    assert sum(c == 0 for c in cells.values()) > n / 2  # the hot cell

    for tile in (similarity.GRAM_TILE, TINY_TILE):
        with mock.patch.object(similarity, "GRAM_TILE", tile):
            got = {(r["vec_id"], r["cell"])
                   for r in semantic_dedup(sdf, threshold=0.9,
                                           centroids=cents).collect()}
            pairs = semantic_dedup_pairs(
                sdf, threshold=0.9, centroids=cents).collect()
        assert got == want, tile
        _assert_pairs_match(pairs, want_pairs)
    assert len(want) < n  # the threshold actually dropped something
    assert want_pairs  # non-trivial


def test_hot_cell_guard_default_on_and_cold_path_unchanged(spark):
    """The default tile is GRAM_TILE = 2048 rows, under which every sf0.001
    cell is one tile; a 10-row tile (which splits the sf0.001 cells over
    10 rows into several row and column tiles) leaves the result
    unchanged."""
    from glm_ocr_spark.operators.similarity import (
        GRAM_TILE,
        semantic_dedup,
        train_ivf_centroids,
    )

    assert GRAM_TILE == 2048
    sdf = _spark_emb(spark, SF1)
    cents = train_ivf_centroids(sdf, n_cells=8)
    got_default = {(r["vec_id"], r["cell"])
                   for r in semantic_dedup(sdf, threshold=0.4, n_cells=8,
                                           centroids=cents).collect()}
    with mock.patch.object(similarity, "GRAM_TILE", 10):
        got_tiled = {(r["vec_id"], r["cell"])
                     for r in semantic_dedup(sdf, threshold=0.4, n_cells=8,
                                             centroids=cents).collect()}
    assert got_default == got_tiled
    assert len(got_default) < sdf.count()  # 0.4 drops something here


def test_near_pairs_memory_is_linear_in_cell_rows():
    """One 16,384 x 64 cell, no Spark: the tiled gram loop holds the cell's
    normalized rows plus one GRAM_TILE x GRAM_TILE tile (about 50 MB here),
    never a GRAM_TILE x n row chunk (256 MiB here, 1 GiB at 65k rows)."""
    import tracemalloc

    import pandas as pd

    rng = np.random.default_rng(11)
    n, dim, n_dup = 16_384, 64, 16_384 // 20
    x = rng.normal(size=(n, dim))
    x[n - n_dup:] = x[:n_dup] + rng.normal(scale=0.01, size=(n_dup, dim))
    x[n // 2] = 0.0
    pdf = pd.DataFrame({"embedding": list(x)})
    tracemalloc.start()
    try:
        found = sum(len(d) for d, _, _ in similarity._near_pairs(
            pdf, 0.9, similarity.GRAM_TILE))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert found >= n_dup  # every planted duplicate is a pair
    assert peak < 96 * 2**20, peak


def test_semdedup_plan_build_runs_no_spark_job(spark):
    """Building a SemDeDup plan (centroids given) starts no Spark job: no
    count pre-pass, no per-cell population probe. Jobs are read from the
    status tracker by job group; a control job started afterwards on the
    same thread shows the tracker has caught up (its listener processes
    events in order)."""
    import time

    import pyspark.sql.functions as F

    from glm_ocr_spark.operators.similarity import (
        fixed_centroids,
        ivf_cell_udf,
        semantic_dedup,
        semantic_dedup_pairs_from_assigned,
    )

    emb = _spark_emb(spark, SF1)
    cents = fixed_centroids(emb, 16)
    assigned = emb.withColumn("cell", ivf_cell_udf(cents)(F.col("embedding")))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def in_group(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    in_group("semdedup-plan-build", lambda: (
        semantic_dedup(emb, centroids=cents),
        semantic_dedup(emb, centroids=cents, order="centroid"),
        semantic_dedup_pairs_from_assigned(assigned)))
    in_group("semdedup-plan-control", emb.count)
    deadline = time.monotonic() + 30
    while (not tracker.getJobIdsForGroup("semdedup-plan-control")
           and time.monotonic() < deadline):
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("semdedup-plan-control")
    assert list(tracker.getJobIdsForGroup("semdedup-plan-build")) == []


@pytest.mark.parametrize("order", ["vec_id", "centroid"])
def test_one_cell_over_many_tiles_matches_oracle(spark, order):
    """One 1,000-row cell (a single centroid) with planted duplicates, a
    duplicate of a duplicate and a zero vector, under a 64-row tile: 16 row
    tiles meeting 136 (row, column) tile blocks. Survivors and pairs must
    equal the sequential oracle under both orders."""
    from pyspark.sql import types as T

    from glm_ocr_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(5)
    n, dim = 1000, 32
    emb = rng.normal(size=(n, dim))
    src = rng.choice(900, size=60, replace=False)
    emb[900:960] = emb[src] + rng.normal(scale=0.02, size=(60, dim))
    emb[960:990] = emb[900:930] + rng.normal(scale=0.02, size=(30, dim))
    emb[500] = 0.0
    ids = rng.permutation(n).astype(np.int64)  # precedence != row order
    cents = emb[1:2] + 0.1
    cells, want_pairs = _np_semdedup_pairs(ids, emb, cents, 0.9, order)
    assert set(cells.values()) == {0}
    _assert_engine_margins(np.delete(emb, 500, axis=0), cents, 0.9)
    assert len(want_pairs) >= 60
    dropped = {d for d, _, _ in want_pairs}
    sdf = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in zip(ids, emb)],
        T.StructType([T.StructField("vec_id", T.LongType()),
                      T.StructField("embedding",
                                    T.ArrayType(T.DoubleType()))]))
    with mock.patch.object(similarity, "GRAM_TILE", 64):
        got = {r["vec_id"] for r in semantic_dedup(
            sdf, threshold=0.9, centroids=cents, order=order).collect()}
        pairs = semantic_dedup_pairs(
            sdf, threshold=0.9, centroids=cents, order=order).collect()
    assert got == {int(i) for i in ids} - dropped
    assert int(ids[500]) in got  # the zero vector is never dropped
    _assert_pairs_match(pairs, want_pairs)
