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
    content_hash_col,
    norm_text_col,
    norm_text_py,
    norm_words_col,
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
    words = norm_words_col()
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
    return (
        docs.select(F.col("doc_id"), content_hash_col().alias("content_hash"))
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

# Pair graphs of at most this many oriented edges (one (h, l) row per
# pair, the 2^20 directed edges of both directions; about 16 MB of int64
# ids) get their components on the driver. Measured in pure Python on
# 2^20 directed edges: 0.8 s for disjoint pairs, 1.1 s for a shuffled-id
# path, 2.6 s for a random graph — against one Spark job per star round.
CC_DRIVER_MAX_EDGES = 1 << 19

# Star rounds past the driver cap before connected_components gives up.
# They grow with the log of a path's length for any id order: 8 for a
# 1000-node shuffled path, 13 for 100k nodes in a replay of the rounds.
CC_MAX_ROUNDS = 25


def _union_find(hi: list, lo: list) -> dict:
    """node -> min node of its component over the edges (hi[i], lo[i]).
    Union-find with path halving where the smaller root wins, so every
    root is its component's minimum id; the cost does not depend on the
    graph's diameter."""
    parent = dict(zip(hi, hi))
    parent.update(zip(lo, lo))

    def find(x):
        while (p := parent[x]) != x:
            parent[x] = x = parent[p]  # halve the path as it is walked
        return x

    for x, y in zip(hi, lo):
        rx, ry = find(x), find(y)
        if rx < ry:
            parent[ry] = rx
        elif ry < rx:
            parent[rx] = ry
    return {x: find(x) for x in parent}


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, component_id) for every doc in the pair graph `pairs`
    (id1, id2); component_id = min doc_id in the component (the dedup
    keeper).

    The pairs become oriented edges (h, l) = (greatest, least), distinct,
    self-loops kept as (x, x), checkpointed eagerly. Their count alone
    picks the route:

    - **At most `CC_DRIVER_MAX_EDGES`** (the usual near-dup graph): one
      bounded `limit(cap + 1).toArrow()` read brings them to the driver,
      `_union_find` labels them, and the labels come back as a local
      DataFrame of the same id type.
    - **Past the cap**, alternating large-star and small-star rounds
      (Kiveris et al., *Connected Components in MapReduce and Beyond*,
      SoCC 2014) written with window aggregates, no join: O(log n) rounds
      in practice for any id order, and plan size estimates that add up
      per round instead of multiplying. The keyed relation is checkpointed
      lazily and the count of its rows off a star materializes it: one
      job per round. When that count is 0, the labels are read from the
      checkpointed blocks.

    Checkpoints are reliable `checkpoint()` when the SparkContext has a
    checkpoint dir (they survive executor loss, at a file-system write
    and a recompute per round), else `localCheckpoint()`. Raises
    RuntimeError after `CC_MAX_ROUNDS` rounds rather than return labels
    that have not converged: dedup_keep_first would keep duplicates with
    no signal.
    """
    reliable = pairs.sparkSession.sparkContext.getCheckpointDir()

    def ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
        return (df.checkpoint(eager) if reliable
                else df.localCheckpoint(eager))

    edges = ckpt(pairs.select(F.greatest("id1", "id2").alias("h"),
                              F.least("id1", "id2").alias("l")).distinct())
    small = edges.limit(CC_DRIVER_MAX_EDGES + 1).toArrow()
    if small.num_rows <= CC_DRIVER_MAX_EDGES:
        labels = _union_find(small.column("h").to_pylist(),
                             small.column("l").to_pylist())
        id_type = small.schema.field("h").type
        return edges.sparkSession.createDataFrame(pa.table({
            "doc_id": pa.array(list(labels.keys()), id_type),
            "component_id": pa.array(list(labels.values()), id_type)}))
    by_key = Window.partitionBy("key")
    for _ in range(CC_MAX_ROUNDS + 1):
        # every edge keyed by both ends: an up row holds the key's lower
        # neighbour, a down row its higher one, so least(key, min nb) is
        # the min of the key's neighbourhood
        keyed = ckpt(edges.select(F.inline(F.array(
            F.struct(F.col("h").alias("key"), F.col("l").alias("nb"),
                     F.lit(True).alias("up")),
            F.struct(F.col("l").alias("key"), F.col("h").alias("nb"),
                     F.lit(False).alias("up"))))).select(
            "*", F.least("key", F.min("nb").over(by_key)).alias("m"),
            F.count_if("up").over(by_key).alias("n_up")), eager=False)
        # in a star each leaf has one edge, up to a centre that has no
        # lower neighbour
        off = keyed.filter(F.when(F.col("up"), F.col("n_up") > 1)
                           .otherwise(F.col("m") < F.col("key"))).count()
        if off == 0:
            return keyed.select(F.col("key").alias("doc_id"),
                                F.col("m").alias("component_id")).distinct()
        # large-star: each down row links the key's higher neighbour to
        # the key's m; small-star: each h and its lower neighbours link to
        # the least of them
        star = keyed.filter(~F.col("up")).select(
            F.col("nb").alias("h"), F.col("m").alias("l"),
            F.min("m").over(Window.partitionBy("nb")).alias("s"))
        edges = star.select(F.inline(F.array(
            F.struct("h", F.col("s").alias("l")),
            F.struct(F.col("l").alias("h"), F.col("s").alias("l"))))
        ).distinct()
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ROUNDS} rounds "
        f"({off} edges still off a star); returning non-converged labels "
        "would silently mislabel components")


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
    Left-anti join against the non-keeper set. The docs table does not
    re-shuffle while that set is planned as a broadcast, as the driver
    route's local labels are; the labels past the cap carry the star
    rounds' size estimate and plan a sort-merge join."""
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
