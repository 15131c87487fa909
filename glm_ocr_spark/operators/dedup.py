"""Deduplication operators over a documents table.

Five strategies, scale-ordered:

  exact_dedup        — hash-groupBy on a normalized content hash. One shuffle
                       on the hash; partial aggregation map-side. The O(n)
                       baseline at any scale.
  ngram_jaccard_pairs— exact shingle-set Jaccard over an explode + self-join.
                       Quadratic in the bucket; used as the verify stage
                       behind LSH at scale, or standalone at small scale.
  minhash_lsh_pairs  — MinHash signatures + banded LSH: candidate pairs from
                       band-bucket joins, verified by true Jaccard. The
                       standard 100 TB near-dup path: shuffle volume is
                       O(docs x bands), never O(docs^2).
  simhash_pairs      — 64-bit SimHash fingerprints via a vectorized pandas
                       UDF; near-dups = fingerprints within a Hamming radius,
                       candidate-joined on rotated prefix blocks.
  embedding_neardup_pairs — cosine >= threshold over an embedding column
                       (see operators.similarity for the ANN machinery).

Determinism: all hash families are fixed-parameter (md5/crc32/xxhash64-
based), so resume/retry recompute identical results. SimHash's token hash
is md5-first-16-hex specifically so the full pipeline is DuckDB-oracle
checkable (see `simhash64_scalar`).
"""

from __future__ import annotations

import contextlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ----------------------------------------------------------------- shingles

from glm_ocr_spark.operators.norm import (  # noqa: E402 - shared norm spec
    norm_text_col,
    norm_text_py,
    real_words_col,
)


def shingles_col(n: int = 3):
    """Distinct word n-gram shingles of the normalized text (array<string>).

    0-based Spark `transform` over a sequence; the DuckDB oracle mirrors it
    1-based. Documents with < n words produce a single whole-text shingle so
    short docs still participate.

    Perf note: Spark does not common-subexpression-eliminate inside lambda
    bodies, so this expression re-evaluates the regex+split per array
    element (~3n evaluations per doc). Fine when it feeds an explode that
    dominates anyway (ngram_jaccard_pairs); for per-doc kernels use the
    Python `shingles_py` inside a pandas UDF instead (one regex pass/doc,
    ~50x here).
    """
    words = F.split(norm_text_col(), " ")
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + k + 1).cast("int")) for k in range(n)]
        ),
    )
    return F.when(F.size(words) >= n, F.array_distinct(ngrams)).otherwise(
        F.array(norm_text_col())
    )


def shingles_py(text: str, n: int = 3) -> list[str]:
    """Python mirror of `shingles_col` (byte-equal — tested incl. leading/
    trailing tab/newline/unicode whitespace): `norm_text_py` (trim *spaces
    only* — JVM/DuckDB `trim` strips 0x20, not \\t/\\n — so a leading tab
    survives trim, collapses to ' ', and yields an empty leading token
    exactly as the JVM side does), word n-grams, first-occurrence distinct;
    < n words -> single whole-text shingle."""
    norm = norm_text_py(text)
    words = norm.split(" ") if norm else [""]
    if len(words) < n:
        return [norm]
    seen = dict.fromkeys(
        " ".join(words[i:i + n]) for i in range(len(words) - n + 1))
    return list(seen)


def shingles_udf(n: int = 3):
    """pandas UDF: text -> shingle array, one regex pass per doc. MinHash
    does not use it: its signature UDF returns the shingles it hashed."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _sh(text: pd.Series) -> pd.Series:
        return pd.Series([shingles_py(t, n) for t in text])

    return _sh


# ----------------------------------------------------------------- exact

def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: content hash -> group size + keeper (min doc_id).

    Map-side partial agg then one shuffle on the 128-bit hash — the same
    plan shape at 500 rows and 10^11 rows.
    """
    h = F.md5(F.encode(norm_text_col(), "UTF-8"))
    return (
        docs.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


# ----------------------------------------------------------------- jaccard

def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Similar pairs by exact n-gram Jaccard: explode shingles, self-join on
    shingle, count common, Jaccard = common / (|A| + |B| - common).

    Scale note: standalone this is the verify kernel; at 100 TB it only ever
    runs *inside* LSH buckets (minhash_lsh_pairs), never globally. The
    per-doc size table grows with the corpus, so its joins carry no
    broadcast hint: AQE broadcasts it while it fits the broadcast threshold
    and sort-merges past it.
    """
    # shingles via the pandas UDF (byte-equal to shingles_col, tested):
    # the JVM lambda re-evaluates its regex+split per element, and this
    # relation is consumed twice (both sides of the self-join)
    sh = docs.select(
        "doc_id", F.explode(shingles_udf(n)(F.col("text"))).alias("shingle")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2"))
    return (
        common.join(sa, "id1").join(sb, "id2")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common")
                    / (F.col("n1") + F.col("n2") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# ----------------------------------------------------------------- minhash

MINHASH_K = 32          # signature length
LSH_BANDS = 16          # bands of r = K / BANDS rows; r=2 -> candidate prob
                        # 1-(1-j^2)^16: ≈0.99 at j=0.5, ≈1-1e-7 at j=0.8.
                        # Verified by exact Jaccard, so extra candidates cost
                        # only join width, never precision.


def release_persisted() -> int:
    """Returns 0: no dedup operator leaves a pin behind. Each persists its
    sketch relation only inside the call that reads it (`_pinned_sketches`),
    so there is nothing left to release. Kept only because perfbench's
    dedup workload still calls it after each run; it goes once that call
    does."""
    return 0


# 31-bit Mersenne prime: with base < 2^31 and a,b < 2^31 the affine form
# base*a + b stays under 2^63, so the whole family runs in JVM longs with no
# overflow (ANSI mode safe).
_MERSENNE = (1 << 31) - 1


def _hash_params(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """Fixed affine hash family (deterministic, seed-free), params < 2^31."""
    params = []
    a, b = 0x9E3779B9, 0xC2B2AE3D
    for i in range(k):
        a = (a * 1103515245 + 12345) % _MERSENNE
        b = (b * 1103515245 + 12345) % _MERSENNE
        params.append((a | 1, b))
    return params


def _band_keys(sig: np.ndarray, bands: int) -> np.ndarray:
    """(rows, k) int64 signatures -> (rows, bands) int64 LSH band keys.

    A band's key folds its r = k // bands slot values, key = key * m + s,
    in wrapping uint64 arithmetic. Slot values are below 2^31, so with
    m = 2^31 the fold is an exact packing for r <= 2 (the shipped k=32,
    bands=16 gives r=2: key = s0 << 31 | s1). For r > 2 the odd 64-bit m
    makes it a polynomial hash; a collision only adds candidates, which
    the exact-Jaccard verify drops."""
    r = sig.shape[1] // bands
    slots = sig[:, :bands * r].reshape(len(sig), bands, r).astype(np.uint64)
    m = np.uint64(1 << 31) if r <= 2 else np.uint64(0x9E3779B97F4A7C15)
    key = np.zeros((len(sig), bands), dtype=np.uint64)
    for j in range(r):
        key = key * m + slots[:, :, j]
    return key.view(np.int64)


def _minhash_sketch_udf(n: int = 3, k: int = MINHASH_K,
                        bands: int = LSH_BANDS):
    """pandas UDF: text -> struct(sig array<bigint>[k], sh array<string>,
    bk array<bigint>[bands]): the minhash signature, the shingles it was
    computed from, and its LSH band keys.

    Shingling happens in Python (`shingles_py`, one regex pass per doc);
    then one numpy broadcast per doc: base = hash(shingle) % M,
    min((base x A + B) % M) column-wise over the k-member affine family.
    Token hash = two crc32 variants -> 64 bits (same family as simhash64;
    any uniform deterministic hash works — correctness is enforced by the
    exact-Jaccard verify stage, not by signature values). Returning the
    shingles too lets `minhash_lsh_pairs` verify from the same pass instead
    of shingling every doc a second time; the band keys (`_band_keys`) are
    one numpy fold over the whole batch's signature matrix, where a JVM
    band expression was `bands` interpreted hash expressions per row.
    """
    params = _hash_params(k)
    av = np.array([a for a, _ in params], dtype=np.uint64)
    bv = np.array([b for _, b in params], dtype=np.uint64)
    m = np.uint64(_MERSENNE)

    @F.pandas_udf("sig array<bigint>, sh array<string>, bk array<bigint>")
    def _sketch(text: pd.Series) -> pd.DataFrame:
        import zlib

        sigs = np.empty((len(text), k), dtype=np.int64)
        shs = []
        for i, t in enumerate(text):
            shingles = shingles_py(t, n)
            hs = np.fromiter(
                ((zlib.crc32(w) << 32) | zlib.crc32(w[::-1] + b"#")
                 for w in (s.encode("utf-8") for s in shingles)),
                dtype=np.uint64, count=len(shingles))
            base = hs % m
            sigs[i] = ((base[:, None] * av + bv) % m).min(axis=0)
            shs.append(shingles)
        return pd.DataFrame({"sig": list(sigs), "sh": shs,
                             "bk": list(_band_keys(sigs, bands))})

    return _sketch


def _sketches(docs: DataFrame, n: int, k: int,
              bands: int = LSH_BANDS) -> DataFrame:
    """(doc_id, sig, sh, bk): one `_minhash_sketch_udf` pass per doc.
    Callers select the columns they read."""
    return (docs.select("doc_id",
                        _minhash_sketch_udf(n, k, bands)(F.col("text"))
                        .alias("_m"))
            .select("doc_id", "_m.sig", "_m.sh", "_m.bk"))


@contextlib.contextmanager
def _pinned_sketches(docs: DataFrame, n: int, k: int, bands: int, *cols):
    """(doc_id, *cols) of `_sketches`, persisted for the body of the `with`
    and unpersisted on exit, so the sketch UDF runs once per doc however
    many joins read it. The body must materialize whatever it returns:
    nothing may read the pin after the call that made it."""
    sk = (_sketches(docs, n, k, bands).select("doc_id", *cols)
          .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        yield sk
    finally:
        sk.unpersist()


def minhash_signatures(docs: DataFrame, n: int = 3,
                       k: int = MINHASH_K) -> DataFrame:
    """(doc_id, sig array<bigint>[k]): min over shingles of an affine hash
    family over a 64-bit shingle hash.

    Entirely map-side, zero shuffle (round 1 exploded shingles and
    re-grouped by doc_id, shuffling the whole shingle stream — corpus-sized
    at 100 TB; signatures are a per-doc pure function, nothing needs to
    move). The whole kernel — shingling included — runs in one Arrow-batched
    pandas UDF: a pure-JVM formulation re-evaluated the regex+split per
    lambda element (no CSE inside lambdas, ~3ms/doc) and the k-expression
    signature pipeline re-inlined into every downstream band-hash reference;
    the UDF does one regex pass + one numpy broadcast per doc and gives the
    plan a materialization boundary.
    """
    return _sketches(docs, n, k).select("doc_id", "sig")


def band_candidate_pairs(rows: DataFrame, id_col: str, keys) -> DataFrame:
    """Distinct candidate (id1, id2) pairs, id1 < id2, of the rows that
    share a band: posexplode each row's per-band keys (`keys`, an array
    column or its name), self-join on equal (band_idx, band_key), drop
    duplicate pairs. The one banded-LSH candidate join: minhash bands here
    and `similarity.neardup_band_candidates`' hyperplane buckets.

    For minhash, `rows` is the PINNED sketch relation and `keys` its `bk`
    column from the sketch UDF (`_band_keys`, one numpy fold per batch),
    so both sides of the self-join only posexplode a stored array: no
    Python and no per-row hash expression, and the UDF runs once per doc
    however many times the entries are read. At the shipped shape (r = 2)
    a key is the band's exact slot values, so equal keys are equal bands;
    for r > 2 a key collision only widens the candidate set."""
    band_entries = rows.select(
        id_col, F.posexplode(keys).alias("band_idx", "band_key"))
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id1"),
                F.col(f"b.{id_col}").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )


def minhash_band_candidates(docs: DataFrame, n: int = 3, k: int = MINHASH_K,
                            bands: int = LSH_BANDS) -> DataFrame:
    """Candidate (id1, id2) pairs from banded LSH. Each doc emits `bands`
    (band_idx, band_key) rows — shuffle volume is linear in corpus size,
    never all-pairs across buckets; a bucket of s docs emits s(s-1)/2
    ordered pairs, streamed by the sort-merge self-join (O(s) memory per
    task). Degenerate corpora still pay O(s^2) OUTPUT rows — that is the
    LSH contract. A one-shuffle collect_list plan and a parquet band table
    were measured no faster and removed (BENCH_ab_strategy*.json,
    BENCH_ab_bandtable.json). Returned materialized, like
    `minhash_lsh_pairs`: its sketch pin lives only inside this call."""
    # pin the band keys for the self-join: without the pin the sketch UDF
    # runs 4 times per doc (tests/test_dedup_similarity.py::
    # test_minhash_lsh_pairs_shingles_each_doc_once)
    with _pinned_sketches(docs, n, k, bands, "bk") as keys:
        return band_candidate_pairs(keys, "doc_id", "bk").localCheckpoint(
            eager=True)


def _verified_pairs(sk: DataFrame, threshold: float) -> DataFrame:
    """`minhash_lsh_pairs`' result, lazy over the pinned (doc_id, bk, sh)
    relation `sk`: the caller materializes it while the pin lives."""
    cands = band_candidate_pairs(sk, "doc_id", "bk")
    s1 = sk.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    s2 = sk.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    common = F.size(F.array_intersect("sh1", "sh2"))
    jac = common / (F.size("sh1") + F.size("sh2") - common)
    # materialize the O(shingles) Jaccard once before filtering on it —
    # Filter/Project expression reuse is a codegen optimization, not a
    # plan guarantee (SCALE.md round-4 note; same structural fix as
    # embedding_neardup_pairs)
    return (
        cands.join(s1, "id1").join(s2, "id2")
        .withColumn("_jac", jac)
        .filter(F.col("_jac") >= threshold)
        .select("id1", "id2", F.round("_jac", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, k: int = MINHASH_K,
                      bands: int = LSH_BANDS,
                      threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs: banded LSH candidates verified by **exact** Jaccard.

    The verify stage joins candidates back to per-doc shingle arrays and
    computes true Jaccard via array_intersect — so precision is exactly 1
    and the output is the recall-limited subset of `ngram_jaccard_pairs` at
    the same threshold (at the shipped parameters recall ≈ 1 for j >= 0.5;
    miss prob (1-j^2)^16). Candidates are tiny relative to the corpus, so
    the two verify joins move only candidate rows + their shingle arrays.

    One Python pass per doc: the sketch UDF returns each doc's band keys
    and shingle array together, and that one (doc_id, bk, sh) relation is
    pinned; the band entries and both verify sides read the pin.

    Lifetime: the pin lives only inside this call. The pairs are
    materialized with an eager localCheckpoint before it is released, so
    the result never reads the pin and costs no sketch pass when read,
    however many other dedup calls ran in between.
    """
    with _pinned_sketches(docs, n, k, bands, "bk", "sh") as sk:
        return _verified_pairs(sk, threshold).localCheckpoint(eager=True)


# ------------------------------------------------------- dedup clustering

# Pair graphs of at most this many directed edges (both directions of
# every pair; about 16 MB of int64 ids) get their components on the
# driver. Measured in pure Python on 2^20 edges: 0.8 s for disjoint
# pairs, 1.1 s for a shuffled-id path, 2.6 s for a random graph — against
# one or more Spark jobs per labelling round for any graph.
CC_DRIVER_MAX_EDGES = 1 << 20


def _union_find(a: list, b: list) -> dict:
    """node -> min node of its component over the symmetric edge lists
    (a[i], b[i]). Union-find with path halving where the smaller root
    wins, so every root is its component's minimum id; the cost does not
    depend on the graph's diameter."""
    parent = {x: x for x in a}  # symmetric: every node is some a[i]

    def find(x):
        while (p := parent[x]) != x:
            parent[x] = x = parent[p]  # halve the path as it is walked
        return x

    for x, y in zip(a, b):
        if x < y:  # each undirected edge is listed both ways; union once
            rx, ry = find(x), find(y)
            if rx < ry:
                parent[ry] = rx
            elif ry < rx:
                parent[rx] = ry
    return {x: find(x) for x in parent}


def connected_components(pairs: DataFrame, id1: str = "id1",
                         id2: str = "id2", max_iter: int = 25,
                         reliable: bool = False) -> DataFrame:
    """(doc_id, component_id) for every doc in a similarity-pair graph;
    component_id = min doc_id in the component (the dedup keeper).

    Two routes after one eager checkpoint of the symmetric edge set,
    chosen by its size alone (no option):

    - **At most `CC_DRIVER_MAX_EDGES` edges** (the usual near-dup graph:
      hundreds of verified pairs per thousands of docs): one bounded
      `limit(cap + 1).toArrow()` read brings the edges to the driver,
      `_union_find` labels them, and the labels come back as a local
      DataFrame of the same schema. One job where the round loop below
      runs several per round, each an AQE plan over a few hundred rows.
    - **Past the cap**, the Spark round loop, whose cost is the same
      plus that one bounded read (the pairs are not computed twice):
      min-label propagation with path halving. Each round a node takes
      the min over (its label, its neighbors' labels, its label's label —
      the pointer jump). On a path with ordered ids the jump converges in
      O(log diameter) rounds with plain DataFrame joins: 300 nodes in ~8
      rounds where plain neighbor-min needed 300 (test-covered). Ids in
      shuffled order along a path defeat it — a Python replay of these
      rounds needs 68 for a 300-node shuffled path — which union-find
      does not care about. Labels are seeded
      with min(node, min neighbour), so a graph of disjoint pairs has its
      final labels at the seed and returns after ONE round, the round
      that sees no label move.

    Per-round cost: ONE job — the localCheckpoint is LAZY and the round's
    convergence count is the action that materializes it (an eager
    checkpoint ran its own job first, doubling the per-round job count;
    round-6 measurement: 2.35 s -> ~1.5 s for the same 477-node graph).
    Later rounds (and the final return) read the checkpointed blocks —
    no recompute, no extra join. Either route's result reads only the
    collected labels or checkpointed blocks, never `pairs`' inputs.
    Raises RuntimeError if max_iter exhausts while labels still move —
    silently returning non-converged (wrong) components would make
    dedup_keep_first retain duplicates with no signal (round-2 advice).

    `reliable=True` (round-5 verdict ask #3) swaps localCheckpoint for
    reliable `checkpoint()` into `sparkContext.setCheckpointDir` (caller
    must have set it): localCheckpoint blocks live on executor storage
    with lineage truncated, so on a real cluster a lost/preempted
    executor mid-iteration fails the job unrecoverably; reliable
    checkpoints survive executor loss at the cost of a filesystem
    write+read per round. Keep False on stable executors (local mode,
    on-demand nodes); flip on spot/preemptible fleets. Convergence and
    labels are identical under both (test-covered).
    """
    if reliable:
        def _ckpt(df, eager=True):
            return df.checkpoint(eager=eager)
    else:
        def _ckpt(df, eager=True):
            return df.localCheckpoint(eager=eager)
    # both edge directions from ONE pass over `pairs`: the old
    # union-of-two-selects planned the (expensive — LSH verify join)
    # pairs dataflow twice, once per branch; explode emits (a,b) and
    # (b,a) from the same scan — identical edge multiset, half the work
    e = pairs.select(
        F.explode(F.array(
            F.struct(F.col(id1).alias("a"), F.col(id2).alias("b")),
            F.struct(F.col(id2).alias("a"), F.col(id1).alias("b")),
        )).alias("e")
    ).select("e.a", "e.b")
    edges = _ckpt(e.distinct())
    small = edges.limit(CC_DRIVER_MAX_EDGES + 1).toArrow()
    if small.num_rows <= CC_DRIVER_MAX_EDGES:
        labels = _union_find(small.column("a").to_pylist(),
                             small.column("b").to_pylist())
        id_type = small.schema.field("a").type
        return edges.sparkSession.createDataFrame(pa.table({
            "doc_id": pa.array(list(labels.keys()), id_type),
            "component_id": pa.array(list(labels.values()), id_type)}))
    # seed each node with min(itself, its neighbours): one groupBy over
    # the edges, the same single shuffle as listing the distinct nodes.
    # Every seed is a node id in the node's component and <= the node, so
    # min-propagation with the pointer jump still ends at the component
    # minimum
    labels = (edges.groupBy("a").agg(F.min("b").alias("nmin"))
              .select(F.col("a").alias("node"),
                      F.least("a", "nmin").alias("label")))
    changed = -1  # sentinel: max_iter <= 0 must still raise cleanly below
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a").agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neigh, labels["node"] == neigh["a"], "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(F.col("label"),
                        F.coalesce(F.col("nmin"), F.col("label")))
                .alias("label"),
            )
        )
        # path halving: label <- min(label, label(label)). Labels are
        # always existing node ids, so the self-join resolves every row.
        ptr = labels.select(F.col("node").alias("pnode"),
                            F.col("label").alias("plabel"))
        jumped = (
            stepped.join(ptr, stepped["label"] == ptr["pnode"], "left")
            .select(
                "node", "old_label",
                F.least(F.col("label"),
                        F.coalesce(F.col("plabel"), F.col("label")))
                .alias("label"),
            )
        )
        jumped = _ckpt(jumped, eager=False)  # materialized by the count below
        changed = jumped.filter(F.col("label") < F.col("old_label")).count()
        labels = jumped.select("node", "label")
        if changed == 0:
            return labels.select(F.col("node").alias("doc_id"),
                                 F.col("label").alias("component_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"({changed} labels still moving) — raise max_iter; returning "
        "non-converged labels would silently mislabel components")


def dedup_components(docs: DataFrame, n: int = 3,
                     threshold: float = 0.5) -> DataFrame:
    """Near-duplicate clusters: minhash-LSH pairs (exact-Jaccard verified)
    -> connected components. The standard corpus-dedup shape: keep
    component_id == doc_id rows, drop the rest.

    The sketch pin lives only inside this call: `connected_components`
    checkpoints the pair graph eagerly and its result never reads the
    pin."""
    with _pinned_sketches(docs, n, MINHASH_K, LSH_BANDS, "bk", "sh") as sk:
        return connected_components(_verified_pairs(sk, threshold))


def dedup_keep_first(docs: DataFrame, n: int = 3,
                     threshold: float = 0.5) -> DataFrame:
    """The actionable form of near-dup removal: the corpus minus every
    non-keeper member of a near-dup component (keeper = min doc_id).
    Left-anti join against the small non-keeper set — the docs table never
    re-shuffles."""
    comp = dedup_components(docs, n=n, threshold=threshold)
    losers = comp.filter(F.col("component_id") != F.col("doc_id")) \
        .select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")


# ----------------------------------------------------------------- simhash

def simhash64_scalar(t: str) -> int:
    """Reference scalar SimHash (one doc) — the spec the vectorized kernel
    must match bit-for-bit; kept for tests and tiny inputs.

    Token hash: the first 16 hex chars of md5 read as a uint64 — chosen
    (over the round-1/2 crc32 pair) because it is *SQL-computable*:
    DuckDB's ``('0x' || substr(md5(w), 1, 16))::UBIGINT`` produces the
    identical value, which makes the whole simhash pipeline (fingerprint →
    pigeonhole block join → Hamming verify) ground-truth checkable by a
    full-value SQL oracle. Same trick `winnow_py` uses for winnowing.
    Bitwise majority vote weighted +1/-1.
    """
    import hashlib

    if not t:
        return 0
    acc = [0] * 64
    for w in t.lower().split():
        h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:16], 16)
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    fp = 0
    for bit in range(64):
        if acc[bit] > 0:
            fp |= 1 << bit
    return int(np.uint64(fp).astype(np.int64))


@F.pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens, numpy-vectorized per Arrow batch.

    Same fingerprints as `simhash64_scalar` (regression-tested): token
    hashes (md5 first-16-hex as uint64 — SQL-computable, see the scalar's
    docstring) are gathered into a uint64 array (memoized per batch — word
    reuse is high in natural text), the 64 majority votes are one
    bit-matrix sum (`(hs >> bitpos) & 1`), and the fingerprint is a
    masked power-of-two sum. Replaces round 1's per-word 64-iteration
    Python loop (~10-100x)."""
    import hashlib

    bitpos = np.arange(64, dtype=np.uint64)
    pow2 = np.uint64(1) << bitpos
    cache: dict[str, int] = {}
    out = np.zeros(len(text), dtype=np.int64)
    for row, t in enumerate(text):
        if not t:
            continue
        words = t.lower().split()
        if not words:
            continue
        hs = np.empty(len(words), dtype=np.uint64)
        for i, w in enumerate(words):
            h = cache.get(w)
            if h is None:
                # first 8 digest bytes big-endian == first 16 hex chars as
                # uint64 (the SQL-computable spec), minus the hex round-trip
                h = int.from_bytes(
                    hashlib.md5(w.encode("utf-8")).digest()[:8], "big")
                cache[w] = h
            hs[i] = h
        # acc[bit] = (#set) - (#unset) = 2*(#set) - n_words
        nset = ((hs[:, None] >> bitpos) & np.uint64(1)).sum(axis=0)
        fp = pow2[2 * nset > len(words)].sum(dtype=np.uint64)
        out[row] = np.uint64(fp).astype(np.int64)
    return pd.Series(out)


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", simhash64(F.col("text")).alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming.

    Candidate generation: split the 64-bit fingerprint into max_hamming + 1
    blocks; by pigeonhole, any pair within the radius agrees on at least one
    block — equality-join on (block_idx, block_value), then verify exact
    Hamming via bit_count(xor). Linear shuffle volume, like LSH.
    """
    nb = max_hamming + 1
    width = 64 // nb
    fp = simhash_fingerprints(docs)
    blocks = fp.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("block_idx"),
                F.shiftrightunsigned("simhash", i * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("block_val"),
            )
            for i in range(nb)
        ])).alias("b"),
    ).select("doc_id", "simhash", "b.block_idx", "b.block_val")

    a = blocks.alias("a")
    b = blocks.alias("b")
    return (
        a.join(b, (F.col("a.block_idx") == F.col("b.block_idx"))
               & (F.col("a.block_val") == F.col("b.block_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
             .alias("hamming"),
        )
        # verify BEFORE dedup: bit_count is columnar-cheap on the full
        # candidate stream, and it shrinks the dropDuplicates shuffle from
        # O(candidates) to O(true pairs x <= nb block collisions)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id1", "id2"])
    )


# ------------------------------------------------------- passage-level dedup

PASSAGE_WORDS = 10


def passage_dedup(docs: DataFrame,
                  passage_words: int = PASSAGE_WORDS,
                  hash_keys: bool = False) -> DataFrame:
    """CCNet-style sub-document dedup: split each document into fixed
    `passage_words`-word passages and keep only the FIRST occurrence of
    each distinct passage corpus-wide (first = lowest (doc_id, chunk_idx)).

    The shape that removes boilerplate/quoted text a whole-doc hash never
    catches. Chunking is a pure column map (no UDF); the only shuffle is
    the window partition on the passage identity.

    `hash_keys=True` is the 100 TB switch: partition the window on
    xxhash64(passage) so only an 8-byte key rides the exchange sort key
    instead of the passage text. Two DIFFERENT passages colliding in the
    64-bit hash would dedupe together — probability ~n^2/2^65 (birthday
    bound; ~3e-7 even at 10^9 distinct passages), the standard accepted
    risk for content-defined dedup keys; the exact-verify tail-join
    pattern of minhash applies if that is not acceptable. Both modes
    produce identical survivors on collision-free inputs
    (equivalence-tested).

    Returns surviving (doc_id, chunk_idx, passage) rows.
    """
    from glm_ocr_spark.operators.norm import real_words_udf

    # materialize the word array ONCE per doc (Arrow twin) — the chunk
    # transform references it per chunk and lambda bodies get no CSE
    words = F.col("ws")
    n_chunks = F.ceil(F.size(words) / F.lit(passage_words)).cast("int")
    # guard: Spark sequence(0, -1) generates a DESCENDING [0, -1], so a
    # zero-word doc (whitespace-only text) must short-circuit to no chunks
    chunks = F.when(
        F.size(words) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(words, i * passage_words + 1, passage_words)),
        ),
    ).otherwise(F.array())
    exploded = (
        docs.filter(F.trim("text") != "")
        .select("doc_id", real_words_udf().alias("ws"))
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "passage"))
    )
    key = F.xxhash64("passage") if hash_keys else F.col("passage")
    w = Window.partitionBy(key).orderBy(F.asc("doc_id"),
                                        F.asc("chunk_idx"))
    return (
        exploded.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "chunk_idx", "passage")
    )
