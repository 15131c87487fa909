"""Checkpoint/resume tests (north rule: "resumable from checkpoint with
per-partition lineage + metrics"; SURVEY.md §5.4: kill mid-run, rerun,
assert no recomputation of completed partitions and identical output).

The resumable path is `snapshot.run_with_snapshots`: each commit is one
Spark job over the pending buckets of its batch, so one commit is one
input scan, and the per-bucket watermarks are the snapshot's state rows."""

import pytest

from glm_ocr_spark.data.gen import transcripts_df
from glm_ocr_spark.snapshot import SnapshotStore, run_with_snapshots

N_BUCKETS = 8


@pytest.fixture(scope="module")
def small_transcripts(spark):
    df = transcripts_df(spark, 0.001).filter("turn_idx < 10").cache()
    df.count()
    yield df
    df.unpersist()


def _collect_output(spark, root):
    rows = SnapshotStore(root).read_output(spark).collect()
    return sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"], r["json"])
        for r in rows
    )


def test_kill_and_resume_identical_output(spark, small_transcripts, tmp_path,
                                          crash_on_commit):
    cat_a = str(tmp_path / "cat_single")
    cat_b = str(tmp_path / "cat_resumed")

    # uninterrupted run
    m = run_with_snapshots(spark, small_transcripts, cat_a,
                           n_buckets=N_BUCKETS)
    assert m["processed_buckets"] == N_BUCKETS

    # killed run: one bucket per commit, crash before the 4th commit
    with pytest.raises(RuntimeError, match="injected crash"), \
            crash_on_commit(4):
        run_with_snapshots(spark, small_transcripts, cat_b,
                           n_buckets=N_BUCKETS, buckets_per_commit=1)
    done_after_kill = SnapshotStore(cat_b).completed_buckets("v1")
    assert len(done_after_kill) == 3

    # resume: completed buckets must NOT be recomputed
    m2 = run_with_snapshots(spark, small_transcripts, cat_b,
                            n_buckets=N_BUCKETS)
    assert m2["resumed_buckets"] == 3
    assert m2["processed_buckets"] == N_BUCKETS - 3

    # identical logical output
    assert _collect_output(spark, cat_a) == _collect_output(spark, cat_b)


def test_state_metrics_recorded(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=4)
    rows = SnapshotStore(root).state_rows()
    assert len(rows) == 4
    assert sorted(r["bucket"] for r in rows) == [0, 1, 2, 3]
    assert all(r["status"] == "completed" for r in rows)
    assert sum(r["rows_out"] for r in rows) == small_transcripts.count()
    assert all(r["bytes_out"] > 0 for r in rows)
    assert all(r["input_snapshot"] == "v1" for r in rows)
    assert all(r["completed_at"] is not None for r in rows)


def test_single_input_scan_for_all_pending(spark, small_transcripts, tmp_path):
    """Round-1 regression: the bucket loop re-scanned the unpartitioned
    input once per bucket (~n_buckets x read amplification at scale). All
    pending buckets must go through ONE job / ONE input scan / ONE commit."""
    root = str(tmp_path / "cat")
    m = run_with_snapshots(spark, small_transcripts, root,
                           n_buckets=N_BUCKETS)
    assert m["processed_buckets"] == N_BUCKETS
    assert m["commits"] == 1


def test_buckets_per_job_bounds_scans(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "cat")
    m = run_with_snapshots(spark, small_transcripts, root,
                           n_buckets=N_BUCKETS, buckets_per_commit=4)
    assert m["processed_buckets"] == N_BUCKETS
    assert m["commits"] == 2


def test_rerun_completed_is_noop(spark, small_transcripts, tmp_path):
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=4)
    sid = SnapshotStore(root).current_id()
    m = run_with_snapshots(spark, small_transcripts, root, n_buckets=4)
    assert m["resumed_buckets"] == 4
    assert m["processed_buckets"] == 0
    # no new snapshot is published for a no-op rerun
    assert m["snapshot_id"] == sid
