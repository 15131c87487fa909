"""Atomic snapshot commit protocol (Iceberg-analog, SURVEY §2 K4/X7/X8):
multi-table atomicity (output + watermark visible together), crash
invisibility, idempotent resume, time travel, CAS concurrency."""

import json
import os

import pytest

from glm_ocr_spark.data.gen import transcripts_df
from glm_ocr_spark.kernel.extract import ExtractConfig
from glm_ocr_spark.pipeline import extract_transcripts
from glm_ocr_spark.snapshot import SnapshotStore, run_with_snapshots

N_BUCKETS = 8


@pytest.fixture(scope="module")
def small_transcripts(spark):
    df = transcripts_df(spark, 0.001).filter("turn_idx < 10").cache()
    df.count()
    yield df
    df.unpersist()


def _logical(spark, store, sid=None):
    rows = store.read_output(spark, sid).collect()
    return sorted((r["conv_id"], r["turn_idx"], r["extracted_text"], r["json"])
                  for r in rows)


def test_full_run_and_state(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "cat")
    m = run_with_snapshots(spark, small_transcripts, root,
                           n_buckets=N_BUCKETS)
    assert m["processed_buckets"] == N_BUCKETS
    assert m["commits"] == 1
    store = SnapshotStore(root)
    out = store.read_output(spark)
    assert out.count() == small_transcripts.count()
    # the bucket partition column must survive the snapshot read path
    assert "bucket" in out.columns
    assert out.select("bucket").distinct().count() == N_BUCKETS
    state = store.state_rows()
    assert len(state) == N_BUCKETS
    assert sum(r["rows_out"] for r in state) == small_transcripts.count()
    assert all(r["bytes_out"] > 0 for r in state)
    assert all(r["status"] == "completed" for r in state)
    assert all(r["input_snapshot"] == "v1" for r in state)
    assert all(r["completed_at"] is not None for r in state)


def test_crash_before_commit_is_invisible(spark, small_transcripts, tmp_path,
                                          crash_on_commit):
    """Data files staged but not committed must not be readable — the
    atomic multi-table guarantee (no output without watermark)."""
    root = str(tmp_path / "cat")
    with pytest.raises(RuntimeError, match="injected crash"), \
            crash_on_commit(2):
        run_with_snapshots(spark, small_transcripts, root,
                           n_buckets=N_BUCKETS, buckets_per_commit=3)
    store = SnapshotStore(root)
    # exactly one commit (3 buckets) landed; the staged 4th-6th bucket files
    # exist on disk but are orphans
    assert store.current_id() == 0
    assert len(store.completed_buckets()) == 3
    parquet_dirs = sum(
        1 for _, _, fs in os.walk(os.path.join(root, "data"))
        if any(f.endswith(".parquet") for f in fs))
    committed_dirs = len({os.path.dirname(p)
                          for p in store.output_files()})
    assert parquet_dirs > committed_dirs  # staged-but-uncommitted orphans

    # resume: completed buckets not recomputed, final output identical to
    # an uninterrupted run
    m = run_with_snapshots(spark, small_transcripts, root,
                           n_buckets=N_BUCKETS)
    assert m["resumed_buckets"] == 3
    assert m["processed_buckets"] == N_BUCKETS - 3

    root2 = str(tmp_path / "cat2")
    run_with_snapshots(spark, small_transcripts, root2, n_buckets=N_BUCKETS)
    assert _logical(spark, store) == _logical(spark, SnapshotStore(root2))


@pytest.mark.parametrize("kwargs", [
    {"mode": "ocr_only"},
    {"config": ExtractConfig(unclip_ratio=(1.3, 0.8), nms_enabled=False)},
], ids=["ocr_only", "config"])
def test_mode_and_config_reach_the_kernel(spark, small_transcripts, tmp_path,
                                          kwargs):
    """The snapshot path extracts exactly like extract_transcripts given the
    same mode and config (both used to be dropped, so the job silently
    wrote default layout output)."""
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=4, **kwargs)
    cols = ["conv_id", "turn_idx", "extracted_text", "markdown", "json",
            "n_blocks"]
    got = SnapshotStore(root).read_output(spark).select(cols).collect()
    want = extract_transcripts(small_transcripts, **kwargs).select(
        cols).collect()
    default = extract_transcripts(small_transcripts).select(cols).collect()
    assert sorted(got) == sorted(want) != sorted(default)


def test_time_travel(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "cat")
    m = run_with_snapshots(spark, small_transcripts, root,
                           n_buckets=N_BUCKETS, buckets_per_commit=4)
    assert m["commits"] == 2
    store = SnapshotStore(root)
    assert store.current_id() == 1
    early = store.read_output(spark, snapshot_id=0).count()
    final = store.read_output(spark, snapshot_id=1).count()
    assert 0 < early < final == small_transcripts.count()
    assert len(store.completed_buckets(snapshot_id=0)) == 4
    assert len(store.completed_buckets(snapshot_id=1)) == N_BUCKETS


def test_cas_retry_merges_over_interloper(tmp_path):
    """A concurrent commit that wins the manifest name race must not be
    lost: the loser retries and merges over it."""
    root = str(tmp_path / "cat")
    store = SnapshotStore(root)
    store.commit({0: {"files": ["a.parquet"], "rows_out": 1, "bytes_out": 1}})
    # interloper grabs manifest id 1 directly
    inter = {"snapshot_id": 1, "parent": 0, "committed_at": "x",
             "buckets": {"7": {"files": ["z.parquet"], "rows_out": 9,
                               "bytes_out": 9, "input_snapshot": "v1",
                               "completed_at": "x"}}}
    with open(os.path.join(root, "manifest-%012d.json" % 1), "w") as f:
        json.dump(inter, f)
    sid = store.commit(
        {1: {"files": ["b.parquet"], "rows_out": 2, "bytes_out": 2}})
    assert sid == 2
    m = store.manifest()
    # both the interloper's bucket 7 and our bucket 1 survive
    assert set(m["buckets"]) == {"1", "7"}
    assert m["parent"] == 1


def test_expire_snapshots_gc(spark, small_transcripts, tmp_path,
                             crash_on_commit):
    """Expiry drops old manifests + unreferenced data files; the kept
    snapshot stays fully readable (its file list is untouched)."""
    root = str(tmp_path / "cat")
    # crash leaves an orphaned staging attempt, then a full run commits all
    with pytest.raises(RuntimeError), crash_on_commit(2):
        run_with_snapshots(spark, small_transcripts, root,
                           n_buckets=N_BUCKETS, buckets_per_commit=3)
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS)
    store = SnapshotStore(root)
    cur = store.current_id()
    before = store.read_output(spark).count()

    res = store.expire_snapshots(keep_from=cur)
    assert res["removed_manifests"] == cur
    assert res["removed_files"] > 0  # the orphaned staging attempt
    assert store.current_id() == cur
    assert store.read_output(spark).count() == before
    # every remaining parquet file is referenced
    remaining = []
    for r, _d, fs in os.walk(os.path.join(root, "data")):
        remaining += [os.path.join(r, f) for f in fs
                      if f.endswith(".parquet")]
    assert set(remaining) == set(store.output_files())
    with pytest.raises(ValueError):
        store.expire_snapshots(keep_from=cur + 1)


def test_rerun_is_noop(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=4)
    m = run_with_snapshots(spark, small_transcripts, root, n_buckets=4)
    assert m["resumed_buckets"] == 4
    assert m["processed_buckets"] == 0
    assert m["commits"] == 0


def test_snapshot_change_invalidates(spark, small_transcripts, tmp_path):
    """Buckets completed for input snapshot v1 are not completed for v2."""
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=4,
                       input_snapshot="v1")
    m = run_with_snapshots(spark, small_transcripts, root, n_buckets=4,
                           input_snapshot="v2")
    assert m["resumed_buckets"] == 0
    assert m["processed_buckets"] == 4
    assert {r["input_snapshot"] for r in SnapshotStore(root).state_rows()} \
        == {"v2"}


def test_bucket_count_mismatch_fails_before_spark_work(spark,
                                                       small_transcripts,
                                                       tmp_path):
    """A rerun with a different n_buckets than the table's must raise
    before it extracts or stages any data file."""
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=4)

    def parquet_dirs():
        return {d for d, _, fs in os.walk(os.path.join(root, "data"))
                if any(f.endswith(".parquet") for f in fs)}

    before = parquet_dirs()
    with pytest.raises(ValueError, match="bucketed with n_buckets=4"):
        run_with_snapshots(spark, small_transcripts, root, n_buckets=8)
    assert parquet_dirs() == before
    assert SnapshotStore(root).current_id() == 0


def test_merge_upsert_update_insert_and_cow(spark, small_transcripts,
                                            tmp_path):
    """MERGE semantics: matched keys replaced, unmatched inserted, only
    touched buckets rewritten (untouched file lists byte-identical),
    pre-merge snapshot still time-travels."""
    import pyspark.sql.functions as F

    from glm_ocr_spark.snapshot import merge_upsert

    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS)
    store = SnapshotStore(root)
    pre_sid = store.current_id()
    pre_manifest = store.manifest()
    before = _logical(spark, store)
    out = store.read_output(spark)

    # updates: rewrite extracted_text for every turn of ONE conversation,
    # plus insert one brand-new key in the same conversation (same bucket)
    conv = out.select("conv_id").orderBy("conv_id").first()["conv_id"]
    upd_rows = (out.filter(F.col("conv_id") == conv).drop("bucket")
                .withColumn("extracted_text", F.lit("MERGED")))
    new_row = (upd_rows.limit(1)
               .withColumn("turn_idx", F.lit(9999).cast("int")))
    updates = upd_rows.unionByName(new_row)
    n_upd = updates.count()

    m = merge_upsert(spark, store, updates, ["conv_id", "turn_idx"],
                     n_buckets=N_BUCKETS)
    assert m["snapshot_id"] == pre_sid + 1
    assert len(m["touched_buckets"]) == 1  # one conv -> one bucket

    after = store.read_output(spark)
    # matched rows replaced, new key inserted
    got_conv = after.filter(F.col("conv_id") == conv)
    assert got_conv.count() == n_upd
    assert {r["extracted_text"] for r in got_conv.collect()} == {"MERGED"}
    assert got_conv.filter("turn_idx = 9999").count() == 1
    # every other row untouched
    rest_before = [r for r in before if r[0] != conv]
    rest_after = sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"], r["json"])
        for r in after.filter(F.col("conv_id") != conv).collect())
    assert rest_after == rest_before
    # copy-on-write: untouched buckets keep their exact file lists
    post_manifest = store.manifest()
    for b, e in pre_manifest["buckets"].items():
        if int(b) not in m["touched_buckets"]:
            assert post_manifest["buckets"][b]["files"] == e["files"]
    # time travel: the pre-merge snapshot is intact
    assert _logical(spark, store, pre_sid) == before


def test_merge_upsert_crash_is_invisible(spark, small_transcripts,
                                         tmp_path, crash_on_commit):
    import pyspark.sql.functions as F

    from glm_ocr_spark.snapshot import merge_upsert

    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS)
    store = SnapshotStore(root)
    before = _logical(spark, store)
    pre_sid = store.current_id()
    updates = (store.read_output(spark).limit(3).drop("bucket")
               .withColumn("extracted_text", F.lit("LOST")))
    with pytest.raises(RuntimeError, match="injected crash"), \
            crash_on_commit(1):
        merge_upsert(spark, store, updates, ["conv_id", "turn_idx"],
                     n_buckets=N_BUCKETS)
    assert store.current_id() == pre_sid
    assert _logical(spark, store) == before


def test_merge_upsert_into_empty_table(spark, small_transcripts, tmp_path):
    from glm_ocr_spark.pipeline import extract_transcripts
    from glm_ocr_spark.snapshot import merge_upsert

    root = str(tmp_path / "cat")
    store = SnapshotStore(root)
    updates = extract_transcripts(small_transcripts.limit(20))
    m = merge_upsert(spark, store, updates, ["conv_id", "turn_idx"],
                     n_buckets=N_BUCKETS)
    assert m["rows_out"] == 20
    assert store.read_output(spark).count() == 20


def test_schema_evolution_add_column(spark, small_transcripts, tmp_path):
    """Iceberg add-column semantics: rows committed before a column
    existed read it as NULL; new rows carry it."""
    import pyspark.sql.functions as F

    from glm_ocr_spark.snapshot import _staged_parquet_stats

    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS)
    store = SnapshotStore(root)
    old_count = store.read_output(spark).count()

    # a later writer evolves the schema with a quality-score column
    evolved = (store.read_output(spark).limit(5)
               .withColumn("conv_id", F.concat(F.lit("new_"), "conv_id"))
               .withColumn("quality", F.lit(0.5)))
    staged = store.staging_dir()
    evolved.write.mode("overwrite").partitionBy("bucket").parquet(staged)
    files, rows, nbytes = _staged_parquet_stats(staged)
    store.commit({999: {"files": files, "rows_out": rows,
                        "bytes_out": nbytes}})

    out = store.read_output(spark)
    assert "quality" in out.columns
    assert out.count() == old_count + 5
    assert out.filter(F.col("quality").isNull()).count() == old_count
    assert out.filter("quality = 0.5").count() == 5


def test_merge_upsert_rejects_duplicate_update_keys(spark, small_transcripts,
                                                    tmp_path):
    """Real Iceberg MERGE fails validation when one target row has multiple
    matching update rows; a silent union would leave duplicate keys."""
    from glm_ocr_spark.snapshot import merge_upsert

    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS)
    store = SnapshotStore(root)
    one = store.read_output(spark).limit(1).drop("bucket")
    dup_updates = one.unionByName(one)
    with pytest.raises(ValueError, match="multiple rows for key"):
        merge_upsert(spark, store, dup_updates, ["conv_id", "turn_idx"],
                     n_buckets=N_BUCKETS)


def test_merge_upsert_validates_bucketing(spark, small_transcripts, tmp_path):
    """A writer hashing with a different n_buckets than the table was
    written with would duplicate keys across buckets — must raise; and
    omitting n_buckets derives it from the manifest."""
    import pyspark.sql.functions as F

    from glm_ocr_spark.snapshot import merge_upsert

    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS)
    store = SnapshotStore(root)
    assert store.manifest()["n_buckets"] == N_BUCKETS
    updates = (store.read_output(spark).limit(2).drop("bucket")
               .withColumn("extracted_text", F.lit("MERGED")))
    with pytest.raises(ValueError, match="bucketed with n_buckets"):
        merge_upsert(spark, store, updates, ["conv_id", "turn_idx"],
                     n_buckets=N_BUCKETS * 2)
    # n_buckets=None reads the manifest's layout
    m = merge_upsert(spark, store, updates, ["conv_id", "turn_idx"])
    assert m["rows_out"] >= 2
    out = store.read_output(spark)
    grp = (out.groupBy("conv_id", "turn_idx").count()
           .filter(F.col("count") > 1).count())
    assert grp == 0


def test_expire_respects_orphan_age(spark, small_transcripts, tmp_path):
    """A freshly staged (uncommitted) file must survive GC when it is
    younger than min_orphan_age_sec — the protection for an in-flight
    concurrent writer (age read via os.stat mtime)."""
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=4)
    store = SnapshotStore(root)
    staged = store.staging_dir()
    orphan = os.path.join(staged, "inflight.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not yet committed")
    res = store.expire_snapshots(keep_from=store.current_id(),
                                 min_orphan_age_sec=3600)
    assert os.path.exists(orphan), res
    res2 = store.expire_snapshots(keep_from=store.current_id(),
                                  min_orphan_age_sec=0)
    assert not os.path.exists(orphan)
    assert res2["removed_files"] >= 1


def test_uri_root_refused(tmp_path, monkeypatch):
    """Manifests and data share one local tree: a URI root would put the
    manifests under a cwd-relative "file:" directory while Spark wrote the
    data to the URI's path. It must raise before creating anything; a
    relative local root is stored (and its paths recorded) absolute."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="not a URI"):
        SnapshotStore(f"file://{tmp_path}/cat")
    assert not os.path.exists(tmp_path / "file:")
    assert not os.path.exists(tmp_path / "cat")
    store = SnapshotStore("cat")
    assert store.root == str(tmp_path / "cat")
    assert store.staging_dir().startswith(str(tmp_path / "cat" / "data"))


def test_commit_refuses_uri_paths(tmp_path):
    """A URI file path could never match expiry's local listing, so GC
    would delete the file it names as an orphan; commit refuses it and
    publishes nothing."""
    store = SnapshotStore(str(tmp_path / "cat"))
    with pytest.raises(ValueError, match="not URIs"):
        store.commit({0: {"files": [f"file://{tmp_path}/a.parquet"],
                          "rows_out": 1, "bytes_out": 1}})
    assert store.current_id() is None


def test_expire_walk_removes_only_emptied_dirs(tmp_path):
    """GC without Spark: an old orphan and its emptied staging dirs go; a
    referenced file, a young orphan, their dirs and data/ itself stay."""
    store = SnapshotStore(str(tmp_path / "cat"))

    def staged_file(name):
        d = os.path.join(store.staging_dir(), "bucket=0")
        os.makedirs(d)
        p = os.path.join(d, name)
        with open(p, "wb") as f:
            f.write(b"x")
        return p

    kept, old, young = (staged_file(n) for n in
                        ("kept.parquet", "old.parquet", "young.parquet"))
    store.commit({0: {"files": [kept], "rows_out": 1, "bytes_out": 1}})
    os.utime(old, (0, 0))
    res = store.expire_snapshots(keep_from=0, min_orphan_age_sec=3600)
    assert res["removed_files"] == 1
    assert os.path.exists(kept) and os.path.exists(young)
    assert not os.path.exists(os.path.dirname(os.path.dirname(old)))
    assert os.path.isdir(os.path.join(store.root, "data"))
