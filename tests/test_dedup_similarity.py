"""Dedup / similarity operator tests.

- simhash64 vectorized kernel is bit-identical to the scalar reference
  (`simhash64_scalar`) on corpus text and adversarial strings;
- minhash signatures are map-side (no Exchange in the plan) and
  minhash_lsh_pairs == exact ngram_jaccard_pairs at threshold 0.5
  (recall 1 at the shipped band parameters, precision 1 by exact verify);
- embedding_neardup_pairs finds exactly the brute-force cosine pair set;
- lsh_bucketed_topk recall@10 vs the exact cosine_topk meets a floor.
"""

import sys
from pathlib import Path
from unittest import mock

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


# ------------------------------------------------------------------ simhash

ADVERSARIAL = [
    "",
    " ",
    "word",
    "word word word",
    "The  quick\tbrown fox  jumps over the LAZY dog",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "naïve café résumé — ünïcode tökens",
    "x" * 1000,
    ("repeat " * 200).strip(),
    "MiXeD CaSe MiXeD CaSe mixed case",
]


def test_simhash_vectorized_matches_scalar_adversarial():
    from glm_ocr_spark.operators.dedup import simhash64, simhash64_scalar

    got = simhash64.func(pd.Series(ADVERSARIAL))
    want = [simhash64_scalar(t) for t in ADVERSARIAL]
    assert list(got) == want


def test_simhash_vectorized_matches_scalar_corpus():
    import pyarrow.parquet as pq

    from glm_ocr_spark.operators.dedup import simhash64, simhash64_scalar

    texts = pq.read_table(f"{SF1}/documents.parquet", columns=["text"])
    s = texts.column("text").to_pandas().head(200)
    got = simhash64.func(s)
    want = [simhash64_scalar(t) for t in s]
    assert list(got) == want


# ------------------------------------------------------------------ minhash

def test_shingles_py_matches_jvm_column(spark):
    """The Python shingler used inside the minhash/verify UDFs must be
    byte-equal to the JVM `shingles_col` (which the DuckDB oracle mirrors),
    including adversarial whitespace/short-doc cases."""
    from glm_ocr_spark.operators.dedup import shingles_col, shingles_py

    adversarial = ["", " ", "one", "one two", "one two three",
                   "a  b\tc\nd e", "  padded   text here  ",
                   "Mixed CASE Words repeat repeat repeat words words",
                   "x " * 50,
                   # JVM/DuckDB trim strips spaces only: a leading tab /
                   # newline survives trim, collapses to ' ', and produces
                   # an empty leading token — the Python mirror must too
                   # (round-2 advice: str.strip() stripped ALL whitespace)
                   "\tleading tab word soup here",
                   "trailing newline word soup here\n",
                   "\n\t mixed edge whitespace one two three \t\n",
                   " nbsp is not java whitespace one two",
                   "\t", "\n\n"]
    docs = spark.read.parquet(f"{SF1}/documents.parquet").select("text")
    texts = [r["text"] for r in docs.collect()] + adversarial
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select("text", shingles_col(3).alias("sh")).collect()
    for r in rows:
        assert list(r["sh"]) == shingles_py(r["text"], 3), repr(r["text"])


def test_minhash_signatures_plan_has_no_exchange(spark):
    """Signatures are a per-doc pure function — the plan must be a narrow
    map (round 1 regression: explode+groupBy shuffled the shingle stream)."""
    from glm_ocr_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    plan = minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_minhash_lsh_equals_exact_jaccard(spark):
    from glm_ocr_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    lsh = {(r.id1, r.id2, r.jaccard)
           for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    exact = {(r.id1, r.id2, r.jaccard)
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert lsh == exact
    assert len(exact) > 0


def test_minhash_band_candidates_match_python_reference(spark):
    """The band self-join must emit exactly the id1 < id2 pairs that share
    at least one band's exact slot values, recomputed here in Python from
    the collected signatures with the same r = k // bands slices. At the
    shipped shape (k=32, 16 bands, r=2) the UDF's band key IS the slot
    pair packed into one int64, so equality is exact by construction; at
    k=48 (r=3) the key is a 64-bit fold of the slots, held to the same
    exact-slice reference."""
    from itertools import combinations

    from glm_ocr_spark.operators.dedup import (
        LSH_BANDS,
        MINHASH_K,
        minhash_band_candidates,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    for k, bands in ((MINHASH_K, LSH_BANDS), (48, 16)):
        r = k // bands
        buckets: dict = {}
        for row in minhash_signatures(docs, k=k).collect():
            sig = list(row["sig"])
            assert len(sig) == k
            for bi in range(bands):
                key = (bi, tuple(sig[bi * r:(bi + 1) * r]))
                buckets.setdefault(key, []).append(row["doc_id"])
        want = {pair for ids in buckets.values()
                for pair in combinations(sorted(ids), 2)}
        got = {(row.id1, row.id2) for row in
               minhash_band_candidates(docs, k=k, bands=bands).collect()}
        assert got == want, (k, bands)
        assert len(want) > 0


def test_band_keys_pack_r2_exactly():
    """r <= 2 keys are the slot values packed side by side (s0 << 31 |
    s1), so two bands share a key only when they share their slots."""
    from glm_ocr_spark.operators.dedup import _band_keys

    top = (1 << 31) - 2
    sig = np.array([[top, 0, 0, top], [0, top, top, 0]], dtype=np.int64)
    assert _band_keys(sig, 2).tolist() == [[top << 31, top], [top, top << 31]]
    assert _band_keys(sig, 4).tolist() == sig.tolist()  # r = 1: the slot


def _cache_holds_only(spark, mine) -> bool:
    """Spark's cache holds exactly one entry, the caller's `mine`."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return (cm.numCachedEntries() == 1
            and cm.lookupCachedData(mine._jdf).isDefined())


def test_release_persisted_frees_minhash_caches(spark):
    """Every minhash operator unpersists its sketch pin before it returns:
    after each call Spark's cache holds only the caller's own persisted
    frame, which the operators leave alone, and release_persisted() has
    nothing to free."""
    from glm_ocr_spark.operators import dedup

    spark.catalog.clearCache()  # clean slate from earlier tests
    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    mine = docs.limit(5).persist()
    mine.count()
    for op in (dedup.minhash_band_candidates, dedup.minhash_lsh_pairs,
               dedup.dedup_components, dedup.dedup_keep_first):
        out = op(docs)
        assert _cache_holds_only(spark, mine), op.__name__
        assert out.count() > 0, op.__name__
        assert _cache_holds_only(spark, mine), op.__name__
    assert mine.storageLevel.useMemory  # caller cache untouched
    assert dedup.release_persisted() == 0
    mine.unpersist()


def test_minhash_lsh_pairs_shingles_each_doc_once(spark, call_counter):
    """One Python pass per doc: the signature UDF returns the shingles it
    hashed, and the verify joins read that same pinned relation. The band
    self-join alone reads it twice: without the pin the sketch UDF runs 4
    times per doc for `minhash_band_candidates`, 5 for the pairs."""
    from glm_ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    n_docs = docs.count()
    for op in (dedup.minhash_lsh_pairs, dedup.minhash_band_candidates):
        with call_counter(dedup, "shingles_py") as acc:
            out = op(docs)
        assert out.count() > 0, op.__name__
        assert acc.value == n_docs, op.__name__


def test_minhash_lsh_pairs_reread_after_dedup_keep_first(spark,
                                                         call_counter):
    """A minhash result read again after dedup_keep_first on the same docs
    costs no sketch pass. Both plans are built under one counter, so their
    sketch relations are the same plan: a plan-keyed pin that the second
    call shared and then unpersisted once cost the re-read 5 sketch passes
    per doc. dedup_keep_first's own pass is not the result's, so it is
    left out of the count."""
    from glm_ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    n_docs = docs.count()
    with call_counter(dedup, "shingles_py") as acc:
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
        first = pairs.count()
        built = acc.value
        dedup.dedup_keep_first(docs).count()
        kept = acc.value
        assert pairs.count() == first > 0
    assert built + (acc.value - kept) == n_docs


def test_minhash_lsh_pairs_reread_after_eight_more(spark, call_counter):
    """Building more minhash results cannot evict an earlier one: the
    first of nine, read after the other eight were built, costs no sketch
    pass (a FIFO pin registry of 8 once dropped its pin, costing 5 sketch
    passes per doc on the read)."""
    from glm_ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    n_docs = docs.count()
    with call_counter(dedup, "shingles_py") as acc:
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    more = [dedup.minhash_lsh_pairs(docs.filter(docs.doc_id % 9 != i),
                                    threshold=0.5) for i in range(8)]
    assert pairs.count() > 0
    assert all(m.count() >= 0 for m in more)
    assert acc.value == n_docs


def test_minhash_oracle_margin_no_borderline_pairs():
    """Banded LSH (k=32, 16 bands of r=2) misses a j=0.5 pair with prob
    ~1% — the full-value oracle equality claimed for dedup_minhash_lsh is
    only sound if the corpus has no borderline pairs (round-2 advice).
    Guard that: on the driver-compare corpora every true pair has j >= 0.8
    (worst-case miss prob <= 8e-8) and NO pair lands in [0.35, 0.8), so a
    corpus regeneration that introduced banding-risk pairs fails here
    before it flakes the oracle."""
    import itertools

    import pyarrow.parquet as pq

    from glm_ocr_spark.operators.dedup import shingles_py

    # sf0.1 included: the bench and the sf-dir-capable driver_sim run the
    # oracle there too (round-3 review: a guard that skips the bench
    # corpus is no guard). Inverted index keeps the 5000-doc pass cheap:
    # only pairs sharing >= 1 shingle can have j > 0.
    for sf_dir in (SF1, SF2, "/root/testdata/sf0.1"):
        t = pq.read_table(f"{sf_dir}/documents.parquet",
                          columns=["doc_id", "text"])
        sh = {i: set(shingles_py(x))
              for i, x in zip(t.column("doc_id").to_pylist(),
                              t.column("text").to_pylist())}
        by_shingle: dict[str, list[int]] = {}
        for i, ss in sh.items():
            for g in ss:
                by_shingle.setdefault(g, []).append(i)
        cand_pairs = set()
        for ids in by_shingle.values():
            if len(ids) > 1:
                ids = sorted(ids)
                cand_pairs.update(itertools.combinations(ids, 2))
        for a, b in cand_pairs:
            inter = len(sh[a] & sh[b])
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            assert j < 0.35 or j >= 0.8, (sf_dir, a, b, j)


# ------------------------------------------------------------------ components

def _round_loop(cap: int = 0):
    """Patch connected_components' driver-route cap: at 0 every non-empty
    pair graph takes the Spark star rounds (-1: the empty graph too)."""
    from glm_ocr_spark.operators import dedup

    return mock.patch.object(dedup, "CC_DRIVER_MAX_EDGES", cap)


def _max_rounds(n: int):
    """Patch connected_components' bound on star rounds."""
    from glm_ocr_spark.operators import dedup

    return mock.patch.object(dedup, "CC_MAX_ROUNDS", n)


def _reference_components(edges) -> dict:
    """node -> min node of its component, by breadth-first search."""
    adj: dict = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    out: dict = {}
    for start in adj:
        if start in out:
            continue
        comp, todo = {start}, [start]
        while todo:
            for nb in adj[todo.pop()] - comp:
                comp.add(nb)
                todo.append(nb)
        out.update(dict.fromkeys(comp, min(comp)))
    return out


def _graph_families(path_len: int = 12, cycle_len: int = 16) -> list:
    """Edge lists in disjoint id ranges: a shuffled-id path, a star whose
    centre is not its minimum, a shuffled cycle, self-loops, duplicate and
    reversed edges, and a random graph."""
    import random

    rng = random.Random(7)
    path = rng.sample(range(100, 100 + 3 * path_len), path_len)
    cycle = rng.sample(range(10_000, 10_000 + 3 * cycle_len), cycle_len)
    edges = list(zip(path, path[1:]))
    edges += [(2050, leaf) for leaf in range(2000, 2100) if leaf != 2050]
    edges += list(zip(cycle, cycle[1:] + cycle[:1]))
    edges += [(3000, 3000), (3001, 3001), (3002, 3001), (3003, 3003)]
    edges += [(4001, 4000), (4000, 4001), (4001, 4000), (4002, 4001)]
    edges += [(rng.randrange(5000, 5200), rng.randrange(5000, 5200))
              for _ in range(150)]
    rng.shuffle(edges)
    return edges


def test_connected_components_chain(spark):
    """Chain graph with diameter 3 + separate pair: label propagation must
    iterate past one hop."""
    from glm_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (4, 9)],
        "id1 long, id2 long")
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 1, 10: 10, 11: 10}


def test_connected_components_long_path_converges(spark):
    """On the star rounds (cap 0: only that route iterates), a 300-node
    ordered-id path (diameter 300) converges within `CC_MAX_ROUNDS`:
    the rounds grow with the log of the diameter (plain neighbour-min
    would need ~300 rounds)."""
    from glm_ocr_spark.operators.dedup import connected_components

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id1 long, id2 long")
    with _round_loop():
        got = {r["doc_id"]: r["component_id"]
               for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_raises_at_cap(spark):
    """On the star rounds, exhausting `CC_MAX_ROUNDS` with edges still
    off a star raises instead of returning non-converged components."""
    from glm_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id1 long, id2 long")
    with _round_loop(), _max_rounds(2), \
            pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs)


def test_connected_components_disjoint_pairs_converge_in_one_round(spark):
    """A graph of disjoint pairs is already a set of stars, so the first
    count of edges off a star reads 0 and no star round runs."""
    from glm_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2 * i + 1, 2 * i) for i in range(50)], "id1 long, id2 long")
    with _round_loop(), _max_rounds(0):
        got = {r["doc_id"]: r["component_id"]
               for r in connected_components(pairs).collect()}
    assert got == {i: i - i % 2 for i in range(100)}


def test_connected_components_star_on_its_maximum(spark):
    """A star centred on its maximum id is not yet a star of the star
    rounds (its centre has many lower neighbours), though no edge breaks
    the down-row test: its first count must see it and run a round."""
    from glm_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(10, i) for i in range(10)] + [(21, 20)], "id1 long, id2 long")
    with _round_loop():
        got = {r["doc_id"]: r["component_id"]
               for r in connected_components(pairs).collect()}
    assert got == {**{i: 0 for i in range(11)}, 20: 20, 21: 20}


@pytest.mark.parametrize("id_type,sizes", [
    ("int", {}), ("bigint", {}),
    ("int", {"path_len": 1000, "cycle_len": 300}),
    ("bigint", {"path_len": 1000, "cycle_len": 300}),
], ids=["int", "bigint", "int-path1000", "bigint-path1000"])
def test_connected_components_routes_match_reference(spark, id_type, sizes):
    """Both routes — driver union-find under the cap, the Spark star
    rounds at cap 0 — label every family exactly as a BFS reference does,
    and keep the id column's type. A 1000-node shuffled-id path converges
    in a few star rounds, none of whose checkpointed plans holds a join,
    and the result's size estimate stays bounded (joins multiplied it
    round after round until the driver ran out of heap)."""
    from glm_ocr_spark.operators import dedup

    edges = _graph_families(**sizes)
    pairs = spark.createDataFrame(edges, f"id1 {id_type}, id2 {id_type}")
    want = _reference_components(edges)
    plans = []
    cls = type(pairs)

    def recording(name):
        original = getattr(cls, name)

        def ckpt(df, eager=True):
            plans.append(df._jdf.queryExecution().optimizedPlan().toString())
            return original(df, eager)
        return mock.patch.object(cls, name, ckpt)

    for cap in (dedup.CC_DRIVER_MAX_EDGES, 0):
        with _round_loop(cap), recording("checkpoint"), \
                recording("localCheckpoint"):
            comp = dedup.connected_components(pairs)
            got = {r["doc_id"]: r["component_id"] for r in comp.collect()}
        assert got == want, cap
        assert [(f.name, f.dataType.simpleString()) for f in comp.schema] \
            == [("doc_id", id_type), ("component_id", id_type)], cap
    assert len(plans) > 2 and not any("Join" in p for p in plans)
    stats = comp._jdf.queryExecution().optimizedPlan().stats()
    assert stats.sizeInBytes().bit_length() < 128


def test_connected_components_driver_route_any_diameter(spark):
    """Under the cap, a 300-node shuffled-id path and a 60-node shuffled
    cycle label in one pass with no star round: union-find's cost does
    not depend on the diameter."""
    from glm_ocr_spark.operators.dedup import connected_components

    edges = _graph_families(path_len=300, cycle_len=60)
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    with _max_rounds(0):
        got = {r["doc_id"]: r["component_id"]
               for r in connected_components(pairs).collect()}
    assert got == _reference_components(edges)


def test_connected_components_empty_graph(spark):
    """No pairs: no rows, with the id type kept, on both routes; and
    dedup_keep_first then keeps every doc."""
    from glm_ocr_spark.operators import dedup

    pairs = spark.createDataFrame([], "id1 long, id2 long")
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["alpha beta gamma delta",
                                       "one two three four five",
                                       "red green blue"])],
        "doc_id long, text string")
    for cap in (dedup.CC_DRIVER_MAX_EDGES, -1):
        with _round_loop(cap):
            comp = dedup.connected_components(pairs)
            assert comp.collect() == [], cap
            assert [(f.name, f.dataType.simpleString())
                    for f in comp.schema] == [("doc_id", "bigint"),
                                              ("component_id", "bigint")]
            kept = dedup.dedup_keep_first(docs).select("doc_id").collect()
        assert sorted(r[0] for r in kept) == [0, 1, 2], cap


def test_dedup_keep_first_same_survivors_on_both_routes(spark):
    """SF1 survivors are identical with the components on the driver and
    on the Spark star rounds, and equal the reference built from the
    verified pairs."""
    from glm_ocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    pairs = [(r.id1, r.id2) for r in
             dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()]
    losers = {d for d, c in _reference_components(pairs).items() if d != c}
    want = {r["doc_id"] for r in docs.select("doc_id").collect()} - losers
    assert losers
    for cap in (dedup.CC_DRIVER_MAX_EDGES, 0):
        with _round_loop(cap):
            kept = [r["doc_id"] for r in
                    dedup.dedup_keep_first(docs).select("doc_id").collect()]
        assert sorted(kept) == sorted(want), cap


def test_dedup_keep_first_leaves_no_pin(spark):
    """dedup_keep_first and dedup_components unpersist the sketch pin
    before they return, so Spark's cache holds only the caller's own
    frame while their lazy results are read, and the survivors are the
    docs minus every non-keeper component member."""
    from glm_ocr_spark.operators import dedup

    spark.catalog.clearCache()  # clean slate from earlier tests
    docs = spark.read.parquet(f"{SF1}/documents.parquet").persist()
    kept_df = dedup.dedup_keep_first(docs)
    assert _cache_holds_only(spark, docs)
    kept = {r["doc_id"] for r in kept_df.collect()}
    comp = dedup.dedup_components(docs)
    assert _cache_holds_only(spark, docs)
    losers = {r["doc_id"] for r in
              comp.filter("component_id != doc_id").collect()}
    assert _cache_holds_only(spark, docs)
    assert losers
    assert kept == ({r["doc_id"] for r in docs.select("doc_id").collect()}
                    - losers)
    docs.unpersist()


def test_dedup_components_groups_near_dups(spark):
    from glm_ocr_spark.operators.dedup import dedup_components, minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    comp = {r["doc_id"]: r["component_id"]
            for r in dedup_components(docs, threshold=0.5).collect()}
    pairs = minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert len(comp) > 0
    for p in pairs:  # both ends of every pair share a component
        assert comp[p["id1"]] == comp[p["id2"]]
    for d, c in comp.items():  # keeper is the min id, present in the map
        assert c <= d and comp[c] == c


def test_dedup_keep_first_invariants(spark):
    from glm_ocr_spark.operators.dedup import (
        dedup_components,
        dedup_keep_first,
    )

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    kept = {r["doc_id"] for r in dedup_keep_first(docs).select("doc_id").collect()}
    comp = dedup_components(docs)
    losers = {r["doc_id"] for r in
              comp.filter("component_id != doc_id").collect()}
    keepers = {r["component_id"] for r in comp.collect()}
    assert kept.isdisjoint(losers)
    assert keepers <= kept  # every component keeper survives
    assert len(kept) == docs.count() - len(losers)


def test_neardup_params_monotone():
    """Higher thresholds afford more planes per band (finer buckets), and
    every recommendation meets the target miss probability."""
    import math

    from glm_ocr_spark.operators.similarity import neardup_params

    prev_planes = 0
    for t in (0.5, 0.8, 0.9, 0.95):
        bands, planes = neardup_params(t, target_miss=0.005)
        p = 1 - math.acos(t) / math.pi
        miss = (1 - p ** planes) ** bands
        assert miss <= 0.005, (t, bands, planes, miss)
        assert planes >= prev_planes
        prev_planes = planes


# ------------------------------------------------------------------ embeddings

def _load_embeddings(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t.column("vec_id").to_numpy()
    mat = np.stack(t.column("embedding").to_pandas().to_numpy()).astype(np.float64)
    return ids, mat


def _brute_force_pairs(ids, mat, threshold):
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    out = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            a, b = int(ids[i]), int(ids[j])
            if a > b:
                a, b = b, a
            if sims[i, j] >= threshold:
                out.add((a, b))
    return out


def test_emb_neardup_matches_brute_force(spark):
    from glm_ocr_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.read.parquet(f"{SF2}/embeddings.parquet")
    # demo band parameters pinned explicitly — same shape as the advertised
    # `emb_neardup` query (the function DEFAULT is the production regime)
    got = {(r.id1, r.id2)
           for r in embedding_neardup_pairs(
               emb, threshold=0.5, bands=16, planes_per_band=3).collect()}
    ids, mat = _load_embeddings(SF2)
    want = _brute_force_pairs(ids, mat, 0.5)
    assert got == want
    assert len(want) == 1  # ground truth at sf0.01 (see VERDICT round 1)


def test_emb_neardup_empty_when_no_pairs(spark):
    from glm_ocr_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.read.parquet(f"{SF1}/embeddings.parquet")
    assert embedding_neardup_pairs(
        emb, threshold=0.5, bands=16, planes_per_band=3).count() == 0


def test_emb_neardup_strict_finds_planted_pairs(spark):
    """The production regime (t=0.9, neardup_params(0.9) = 32 bands x 12
    planes): plant perturbed near-copies at cos ~0.95 among noise vectors;
    the LSH+verify output must equal the brute-force >= 0.9 pair set
    exactly — recall 1 on every planted pair, no false positives. (The
    driver corpus has no >= 0.9 pairs, so this is where strict-regime
    recall is actually evidenced.)"""
    from glm_ocr_spark.operators.similarity import (
        embedding_neardup_pairs,
        neardup_params,
    )

    rng = np.random.RandomState(7)
    dim = 64
    base = rng.randn(40, dim)
    vecs, truth = [], set()
    vid = 0
    for i in range(40):
        v = base[i] / np.linalg.norm(base[i])
        vecs.append((vid, v))
        if i < 15:  # plant a near-copy: small perturbation, cos ~0.95+
            p = v + 0.20 * rng.randn(dim) / np.sqrt(dim)
            vecs.append((vid + 1, p / np.linalg.norm(p)))
            vid += 1
        vid += 1
    # brute-force ground truth
    ids = [i for i, _ in vecs]
    m = np.stack([v for _, v in vecs])
    sims = m @ m.T
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if sims[a, b] >= 0.9:
                truth.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    assert len(truth) >= 10  # the plant worked

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>")
    bands, planes = neardup_params(0.9)
    assert (bands, planes) == (32, 12)
    got = {(r.id1, r.id2)
           for r in embedding_neardup_pairs(
               emb, threshold=0.9, bands=bands,
               planes_per_band=planes).collect()}
    # float32 storage vs float64 truth can flip pairs sitting exactly at
    # the threshold; the plant keeps pairs clear of 0.9 so equality holds
    assert got == truth

    # round-4 ask #3: the BARE DEFAULT call must be this production regime
    # (t=0.9, neardup_params-derived banding), not the weak demo
    got_default = {(r.id1, r.id2)
                   for r in embedding_neardup_pairs(emb).collect()}
    assert got_default == truth


def _ann_recall(spark, approx_fn, sf_dir="/root/testdata/sf0.1"):
    """Recall@10 on the SAME corpus + query the bench measures (sf0.1,
    query = vec_id 0) — round-2 advice: a floor calibrated to a corpus
    where it passes while the bench fails elsewhere is no floor at all."""
    from glm_ocr_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    row = emb.filter("vec_id = 0").select("embedding").head()
    q = [float(v) for v in row["embedding"]]
    exact = {r.vec_id for r in cosine_topk(emb, q, k=10, exclude_id=0).collect()}
    approx = {r.vec_id for r in approx_fn(emb, q).collect()}
    return len(exact & approx) / 10


def test_ann_lsh_recall_floor(spark):
    """Margin-ordered multi-probe (96 of 256 buckets) measures 0.6 on the
    bench corpus/query — floored at 0.5. Sign-LSH stays the weaker path on
    this data (neighbors at cos ~0.3, per-plane agreement ~0.6); ivf_topk
    is the recommended approximate path."""
    from glm_ocr_spark.operators.similarity import lsh_bucketed_topk

    recall = _ann_recall(spark, lambda emb, q: lsh_bucketed_topk(emb, q, k=10))
    assert recall >= 0.5, recall


def test_ann_lsh_scans_the_probed_buckets_any_width(spark):
    """lsh_bucketed_topk is the exact top-k over the rows whose sign-bit
    bucket (a numpy reference over planes as wide as the query) is probed,
    also for embeddings narrower than EMB_DIM. A null embedding, or one not
    as wide as the query, has no bucket and is not scanned."""
    from pyspark.sql import functions as F

    from glm_ocr_spark.operators.similarity import (
        _hyperplanes,
        cosine_topk,
        lsh_bucketed_topk,
        multi_probe_buckets,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 3)).astype(np.float32).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        + [(60, None), (61, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<float>")
    q = [0.3, -1.0, 0.5]
    planes = _hyperplanes(4, 3)
    bucket = (vecs @ np.array(planes).T >= 0) @ (1 << np.arange(4))
    probes = set(multi_probe_buckets(q, planes, 4))
    scanned = [i for i in range(60) if bucket[i] in probes]
    assert 5 < len(scanned) < 60
    want = cosine_topk(emb.filter(F.col("vec_id").isin(scanned)), q, k=5)
    got = lsh_bucketed_topk(emb, q, k=5, n_planes=4, n_probes=4)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()]


def test_ann_ivf_recall_floor(spark):
    """IVF (128 cells, nprobe 32, ~25% scan) measures recall 0.8 on the
    bench corpus/query — floored at 0.7."""
    from glm_ocr_spark.operators.similarity import ivf_topk

    recall = _ann_recall(
        spark, lambda emb, q: ivf_topk(emb, q, k=10, exclude_id=0))
    assert recall >= 0.7, recall


def test_zero_query_refused_at_plan_build(spark):
    """A zero query has no cosine with anything: the search raises
    ValueError while the plan is built (ivf_topk before it trains
    centroids), instead of the job dying on a division by zero."""
    from glm_ocr_spark.operators import similarity

    emb = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 0.0])],
                                "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="non-zero query"):
        similarity.cosine_topk(emb, [0.0, 0.0])
    with mock.patch.object(similarity, "train_ivf_centroids") as train:
        with pytest.raises(ValueError, match="non-zero query"):
            similarity.ivf_topk(emb, [0.0, 0.0])
    train.assert_not_called()
    assert [tuple(r) for r in similarity.cosine_topk(
        emb, [2.0, 0.0]).collect()] == [(0, 1.0), (1, 0.0)]


# ------------------------------------------------------------------ winnowing

def test_winnow_shared_substring_guarantee():
    """Winnowing guarantee: docs sharing a substring of length >= k+w-1
    (= 12 chars here) share at least one selected hash; disjoint docs
    overwhelmingly don't."""
    from glm_ocr_spark.operators.text_analysis import winnow_py

    base = "the quick brown fox jumps over the lazy dog again and again"
    a = "PREFIX one " + base + " SUFFIX two"
    b = "totally different head " + base + " different tail"
    c = "no overlap here at all zyx wvu tsr qpo nml kji hgf"
    fa, fb, fc = (set(winnow_py(t).split(",")) for t in (a, b, c))
    assert fa & fb  # shared 60-char substring -> shared selection
    assert not (fa & fc)
    # determinism + short-doc path
    assert winnow_py(a) == winnow_py(a)
    assert winnow_py("tiny") != ""
    assert winnow_py("") != ""


def test_winnow_trims_spaces_only_like_the_oracle(spark):
    """`winnow_py` normalizes as `norm_text_col` and the DuckDB `_NORM` do:
    trim strips spaces only, so a trailing newline collapses to a trailing
    space on every engine and the fingerprints agree."""
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as entry
    from glm_ocr_spark.operators.text_analysis import with_winnow_fingerprint

    texts = ["Hello world of winnowing here\n",
             "Hello world of winnowing here",
             "\t lead tab and spaces  ", "short\n", ""]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: r["winnow_fp"]
           for r in with_winnow_fingerprint(df).collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}))
    want = dict(con.sql(entry.oracle_sql()["winnow_fingerprint"]).fetchall())
    assert got == want


def test_ivf_partitioned_layout_prunes_at_source(spark, tmp_path):
    """The IVF scale claim made concrete: written partitionBy(cell), the
    probe filter is a PARTITION filter — the scan prunes non-probed cell
    directories at planning time (PushedFilters never see the data) and
    returns exactly what the in-memory ivf_topk returns."""
    from glm_ocr_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_partitioned,
        ivf_write_partitioned,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_cells=16)
    path = str(tmp_path / "emb_by_cell")
    ivf_write_partitioned(emb, path, cents)

    q = [float(v) for v in emb.filter("vec_id = 0").head()["embedding"]]
    got = ivf_topk_partitioned(spark, path, q, cents, k=10, nprobe=4,
                               exclude_id=0)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the cell predicate must be a partition filter on the scan, not a
    # post-scan Filter over all rows
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in pf, plan

    # pruning is physical: the probed scan reads only the 4 probed cell
    # directories' rows, strictly fewer than the table
    probed_rows = got.sparkSession.read.parquet(path).filter(
        "cell in (%s)" % ",".join(
            pf_val for pf_val in _probe_list(q, cents, 4))).count()
    assert 0 < probed_rows < emb.count()

    # value equality with the in-memory path at the same parameters
    mem = ivf_topk(emb, q, k=10, n_cells=16, nprobe=4, centroids=cents,
                   exclude_id=0)
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in mem.collect()]


def _probe_list(query, centroids, nprobe):
    from glm_ocr_spark.operators.similarity import probe_cells

    return [str(c) for c in probe_cells(query, centroids, nprobe)]


def test_ann_ivf_planted_neighbors_equal_brute_force(spark):
    """Round-4 verdict ask #1: the advertised `ann_ivf_topk` runs over the
    corpus + 10 planted neighbors at cosine ~0.998 of the query, so the
    true top-10 is known by construction. IVF probing (nprobe 32 of 128
    cells) must return EXACTLY the brute-force answer on that corpus —
    i.e. every planted neighbor lands in a probed cell — at both small
    sfs; the driver verifies the same equality against DuckDB at sf0.01."""
    import __spark_entry__ as entry
    from glm_ocr_spark.operators.similarity import cosine_topk

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = [(r.vec_id, r.cos_sim)
               for r in entry.q_ann_ivf_topk(spark, sf_dir).collect()]
        emb = entry._emb_with_planted_ann_neighbors(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
        qv = entry._query_vec(spark, sf_dir)
        want = [(r.vec_id, r.cos_sim)
                for r in cosine_topk(emb, qv, k=10, exclude_id=0).collect()]
        assert got == want, sf_dir
        # the winners are exactly the planted set, all far above the
        # raw corpus's ~0.3 neighborhood
        assert {v for v, _ in got} == {
            entry.ANN_PLANT_OFFSET + i
            for i in range(1, entry.ANN_PLANT_N + 1)}, sf_dir
        assert all(c > 0.99 for _, c in got), sf_dir


def test_connected_components_reliable_checkpoint_identical(spark, tmp_path):
    """With a checkpoint dir set, the star rounds checkpoint reliably
    into it (files appear under the dir) and converge to the labels of
    the localCheckpoint rounds. The dir stays set for the rest of the
    Spark session, so later callers checkpoint reliably too."""
    from glm_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9), (10, 11), (11, 12), (12, 13)],
        ["id1", "id2"])
    ckpt_dir = tmp_path / "ckpt"
    with _round_loop():
        base = {(r["doc_id"], r["component_id"])
                for r in connected_components(pairs).collect()}
        spark.sparkContext.setCheckpointDir(str(ckpt_dir))
        rel = {(r["doc_id"], r["component_id"])
               for r in connected_components(pairs).collect()}
    assert rel == base
    assert (3, 1) in base and (13, 10) in base
    assert any(p.is_file() for p in ckpt_dir.rglob("*"))
