"""Iceberg-style atomic snapshot commits over plain parquet.

SURVEY.md §2 K4/X7/X8 name an Iceberg state table with atomic snapshot
commits (idempotent MERGE, per-partition watermarks, lock-free); Iceberg
jars are not available in this sandbox, so this module provides the same
COMMIT PROTOCOL on the local filesystem, exactly the part of Iceberg the
design relies on:

  - a table root holds immutable data files under ``data/`` and numbered
    manifests ``manifest-%012d.json``;
  - a snapshot = one manifest listing, for every bucket, its data files +
    watermark metrics (rows/bytes/completed_at/input snapshot) — the
    "multi-table" commit: extracted output AND its state watermark become
    visible in the SAME atomic step, so a reader can never observe data
    without its watermark or a watermark without its data;
  - commit = write tmp manifest, fsync, then ``os.link`` to the final name
    (link fails if the name exists -> optimistic concurrency, the loser
    retries against the new current snapshot — Iceberg's CAS on the
    catalog pointer);
  - a crash after data files are written but before the manifest link
    leaves orphan files that no reader can see (Iceberg's unreachable
    files, GC'd later); re-processing a bucket swaps its file list in the
    next manifest — idempotent MERGE semantics;
  - time travel = read any older manifest by snapshot id.

At 10^12 rows the manifest is O(buckets) (thousands of entries), not
O(files-per-bucket x history): each manifest carries the full current
bucket map, copy-on-write from its parent (the reference analogy:
apps/backend task DB + portalocker, replaced here by CAS commits).

The catalog is one local POSIX directory tree: manifests and data files
both live under the root, because the CAS is ``os.link``, atomic only on
a POSIX filesystem, and a URI root is refused. An object-store deployment
swaps this module for Iceberg and its catalog service (Hive/REST/Glue),
which holds the pointer CAS, without touching callers.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_FMT = "manifest-%012d.json"


def bucket_col(n_buckets: int):
    """The bucket of a row: pmod(xxhash64(conv_id), n_buckets). A pure
    function of the key, so any bucket can be recomputed on its own."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _check_bucketing(manifest: dict | None, n_buckets: int | None,
                     action: str) -> int | None:
    """The table's recorded n_buckets; raises when `n_buckets` disagrees
    with it — a mismatched writer would hash a key into a different bucket
    than its existing row and duplicate it across two buckets."""
    table_nb = manifest.get("n_buckets") if manifest else None
    if table_nb is not None and n_buckets is not None \
            and n_buckets != table_nb:
        raise ValueError(f"table is bucketed with n_buckets={table_nb}, "
                         f"{action} with n_buckets={n_buckets}")
    return table_nb


class SnapshotStore:
    def __init__(self, root: str):
        if "://" in root:
            raise ValueError(f"snapshot catalog root must be a local "
                             f"directory, not a URI: {root!r}")
        self.root = os.path.abspath(root)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)

    # ------------------------------------------------------------ manifests

    def _manifest_ids(self) -> list[int]:
        out = []
        for f in os.listdir(self.root):
            if f.startswith("manifest-") and f.endswith(".json"):
                try:
                    out.append(int(f[len("manifest-"):-len(".json")]))
                except ValueError:
                    pass
        return sorted(out)

    def current_id(self) -> int | None:
        ids = self._manifest_ids()
        return ids[-1] if ids else None

    def manifest(self, snapshot_id: int | None = None) -> dict | None:
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return None
        path = os.path.join(self.root, MANIFEST_FMT % sid)
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    # ------------------------------------------------------------ staging

    def staging_dir(self) -> str:
        """A unique dir under data/ for one write attempt. Files written
        here are invisible until a manifest references them."""
        d = os.path.join(self.root, "data", uuid.uuid4().hex)
        os.makedirs(d, exist_ok=True)
        return d

    # ------------------------------------------------------------ commit

    def commit(self, bucket_entries: dict[int, dict],
               input_snapshot: str = "v1",
               n_buckets: int | None = None) -> int:
        """Atomically publish new/updated bucket entries merged over the
        current snapshot. Returns the new snapshot id.

        Each entry: {"files": [...], "rows_out": n, "bytes_out": n}.
        `n_buckets` records the table's bucketing in the manifest (carried
        forward from the parent when None) so later writers can validate
        they hash keys with the same layout (`_check_bucketing`).
        Retries on concurrent-commit collision (CAS loop). A file path that
        is a URI raises: it could never match the local listing, so expiry
        would delete the file it names as an orphan."""
        for entry in bucket_entries.values():
            for p in entry["files"]:
                if "://" in p:
                    raise ValueError(f"snapshot data files must be local "
                                     f"paths, not URIs: {p!r}")
        while True:
            cur = self.manifest()
            buckets = dict(cur["buckets"]) if cur else {}
            table_nb = _check_bucketing(cur, n_buckets, "commit attempted")
            recorded_nb = n_buckets if n_buckets is not None else table_nb
            now = dt.datetime.now(dt.timezone.utc).isoformat()
            for b, entry in bucket_entries.items():
                buckets[str(b)] = {**entry, "input_snapshot": input_snapshot,
                                   "completed_at": now}
            new_id = (cur["snapshot_id"] + 1) if cur else 0
            manifest = {
                "snapshot_id": new_id,
                "parent": cur["snapshot_id"] if cur else None,
                "committed_at": now,
                "n_buckets": recorded_nb,
                "buckets": buckets,
            }
            tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            final = os.path.join(self.root, MANIFEST_FMT % new_id)
            try:
                os.link(tmp, final)  # atomic create-if-absent (the CAS)
                os.unlink(tmp)
                return new_id
            except FileExistsError:
                os.unlink(tmp)  # lost the race: merge onto the winner

    # ------------------------------------------------------------ reads

    def completed_buckets(self, input_snapshot: str = "v1",
                          snapshot_id: int | None = None) -> set[int]:
        m = self.manifest(snapshot_id)
        if not m:
            return set()
        return {int(b) for b, e in m["buckets"].items()
                if e.get("input_snapshot") == input_snapshot}

    def output_files(self, snapshot_id: int | None = None) -> list[str]:
        m = self.manifest(snapshot_id)
        if not m:
            return []
        files: list[str] = []
        for e in m["buckets"].values():
            files.extend(e["files"])
        return files

    def read_output(self, spark: SparkSession,
                    snapshot_id: int | None = None) -> DataFrame:
        """The committed output table as of a snapshot (time travel).

        The `bucket` partition column is preserved (plain leaf-file reads
        would drop it): committed files are grouped by their staging dir
        and each group is read with that dir as `basePath`, so Spark
        re-infers bucket=N from the file paths. One
        read per commit batch (manifest-bounded), unioned by name —
        exactly the manifest's file list, never a directory listing."""
        files = self.output_files(snapshot_id)
        if not files:
            raise ValueError("no committed snapshot")
        groups: dict[str, list[str]] = {}
        for p in files:
            # .../data/<staging>/bucket=N/part-*.parquet
            staging = os.path.dirname(os.path.dirname(p))
            groups.setdefault(staging, []).append(p)
        df = None
        for staging in sorted(groups):
            part = (spark.read.option("basePath", staging)
                    .parquet(*sorted(groups[staging])))
            # allowMissingColumns = Iceberg add-column evolution: files
            # committed before a column existed read it as NULL
            df = part if df is None else df.unionByName(
                part, allowMissingColumns=True)
        return df

    # ------------------------------------------------------------ expiry

    def expire_snapshots(self, keep_from: int,
                         min_orphan_age_sec: float = 0.0) -> dict:
        """Iceberg-style maintenance: drop manifests older than `keep_from`
        and delete data files referenced by no kept manifest.

        `min_orphan_age_sec` protects files staged by an in-flight
        concurrent writer that has not committed yet (Iceberg's
        remove-orphan-files age threshold); production would use hours.
        Readers of kept snapshots are unaffected — their file lists stay
        intact.

        One bottom-up walk of data/: a file goes unless a kept manifest
        names it or it is younger than `min_orphan_age_sec`; each emptied
        directory goes with `os.rmdir`, which refuses a directory that is
        not empty, so a file a concurrent writer stages after the walk
        listed its directory keeps that directory."""
        ids = self._manifest_ids()
        keep_ids = [i for i in ids if i >= keep_from]
        if not keep_ids:
            raise ValueError("expiry would drop every snapshot")
        referenced = {os.path.abspath(p) for sid in keep_ids
                      for p in self.output_files(sid)}
        cutoff = time.time() - min_orphan_age_sec
        removed_files = 0
        data = os.path.join(self.root, "data")
        for d, _subdirs, names in os.walk(data, topdown=False):
            for n in names:
                p = os.path.join(d, n)
                try:
                    if p in referenced or os.stat(p).st_mtime > cutoff:
                        continue
                    os.unlink(p)
                    removed_files += 1
                except OSError:
                    pass
            if d != data:
                try:
                    os.rmdir(d)
                except OSError:
                    pass  # still holds kept or freshly staged files
        removed_manifests = 0
        for i in ids:
            if i < keep_from:
                os.unlink(os.path.join(self.root, MANIFEST_FMT % i))
                removed_manifests += 1
        return {"removed_manifests": removed_manifests,
                "removed_files": removed_files,
                "kept_snapshots": keep_ids}

    def state_rows(self, snapshot_id: int | None = None) -> list[dict]:
        m = self.manifest(snapshot_id)
        if not m:
            return []
        return [
            {"bucket": int(b), "status": "completed",
             "rows_out": e["rows_out"], "bytes_out": e["bytes_out"],
             "input_snapshot": e["input_snapshot"],
             "completed_at": e["completed_at"]}
            for b, e in m["buckets"].items()
        ]


def _staged_parquet_stats(d: str) -> tuple[list[str], int, int]:
    """(parquet files, rows from footers, bytes) for one staged write:
    footer-only reads, no data re-scan. Paths are absolute."""
    import pyarrow.parquet as pq

    files, total = [], 0
    for dirpath, _subdirs, names in os.walk(os.path.abspath(d)):
        for n in names:
            p = os.path.join(dirpath, n)
            total += os.path.getsize(p)
            if n.endswith(".parquet"):
                files.append(p)
    files.sort()
    return files, sum(pq.read_metadata(p).num_rows for p in files), total


def _stage(store: SnapshotStore, df: DataFrame,
           buckets: list[int]) -> dict[int, dict]:
    """Write `df` partitionBy("bucket") into a fresh staging dir (invisible
    until committed) and return the manifest entry of each bucket in
    `buckets`, with rows and bytes read from the parquet footers."""
    staged = store.staging_dir()
    df.write.mode("overwrite").partitionBy("bucket").parquet(staged)
    entries = {}
    for b in buckets:
        files, rows, nbytes = _staged_parquet_stats(
            os.path.join(staged, f"bucket={b}"))
        entries[b] = {"files": files, "rows_out": rows, "bytes_out": nbytes}
    return entries


def run_with_snapshots(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog_root: str,
    n_buckets: int = 16,
    input_snapshot: str = "v1",
    buckets_per_commit: int | None = None,
    mode: str = "layout",
    config=None,
) -> dict:
    """Checkpointed, resumable extraction with atomic snapshot commits.

    Rows are split into `n_buckets` buckets (`bucket_col`); the buckets
    not yet completed for `input_snapshot` are extracted in one Spark job
    per `buckets_per_commit` buckets (default: all pending in one job, one
    input scan), written `partitionBy("bucket")` to a staging dir, and
    published with their watermarks (rows/bytes from the parquet footers)
    in one SnapshotStore.commit — output data and state become visible in
    the same atomic step (SURVEY §7.3.5). A killed run resumes having lost
    at most one uncommitted batch. A rerun with a different `n_buckets`
    than the table's raises before any Spark work.
    """
    from glm_ocr_spark.pipeline import extract_transcripts

    store = SnapshotStore(catalog_root)
    _check_bucketing(store.manifest(), n_buckets, "run attempted")
    done = store.completed_buckets(input_snapshot)
    pending = [b for b in range(n_buckets) if b not in done]
    chunk = buckets_per_commit or len(pending) or 1

    src = transcripts.withColumn("bucket", bucket_col(n_buckets))
    commits = 0
    processed = 0
    for i in range(0, len(pending), chunk):
        batch = pending[i:i + chunk]
        part = src.filter(F.col("bucket").isin(batch))
        entries = _stage(store, extract_transcripts(
            part, passthrough=("bucket",), mode=mode, config=config), batch)
        store.commit(entries, input_snapshot, n_buckets=n_buckets)
        commits += 1
        processed += len(batch)

    return {
        "resumed_buckets": len(done),
        "processed_buckets": processed,
        "commits": commits,
        "snapshot_id": store.current_id(),
    }


def merge_upsert(
    spark: SparkSession,
    store: SnapshotStore,
    updates: DataFrame,
    key_cols: list[str],
    n_buckets: int | None = None,
    input_snapshot: str = "v1",
) -> dict:
    """MERGE INTO the snapshot table: matched keys are replaced by their
    update row, unmatched keys are inserted — Iceberg's copy-on-write
    MERGE at bucket granularity (the CDC/late-correction path SURVEY
    §7.3.5's idempotent-MERGE language implies).

    Only the buckets the updates hash into are rewritten: each touched
    bucket's new file set = (old rows whose key has no update: left-anti
    join) + (the update rows), staged invisibly and published for ALL
    touched buckets in ONE manifest CAS — a reader sees the table entirely
    pre-merge or entirely post-merge, never a mix, and time travel to the
    pre-merge snapshot keeps working. Untouched buckets keep their exact
    file lists (manifest copy-on-write; zero data movement).

    100 TB shape: the touched-bucket list is an O(buckets) driver-side
    distinct (same bounded collect as the state reads); the rewrite cost
    is proportional to touched data, not table size — the reason Iceberg
    MERGE is bucket/partition-COW and not a table rewrite. The anti join
    shuffles only touched buckets, and broadcasts when the update batch
    is small. Concurrency: the CAS retry merges bucket ENTRIES, so two
    writers on disjoint buckets both land; two writers on the same bucket
    are last-writer-wins (real Iceberg fails validation instead — noted
    as the delta vs the jar).

    `updates` must carry the output schema (minus `bucket`, computed here
    from conv_id like every writer). `n_buckets=None` (the default) reads
    the table's bucketing from the current manifest; passing a value that
    disagrees with the manifest raises — a mismatched writer would hash an
    update into a different bucket than the existing row, leaving the key
    duplicated across two buckets. Duplicate keys *inside* `updates` also
    raise (real Iceberg MERGE fails validation on multiple matches; a
    silent union would leave multiple rows per key). Returns merge stats.
    """
    table_nb = _check_bucketing(store.manifest(), n_buckets, "merge called")
    if n_buckets is None:
        if table_nb is None:
            raise ValueError(
                "n_buckets not recorded in the manifest (pre-upgrade table "
                "or empty store) — pass it explicitly")
        n_buckets = table_nb

    # localCheckpoint pins the update rows: `updates` is evaluated once,
    # so a nondeterministic source (limit over multiple partitions) cannot
    # yield a different row set between the touched-bucket scan and the
    # staged write (which would commit a bucket with an empty file list
    # and silently erase it — review finding)
    upd = (updates.withColumn("bucket", bucket_col(n_buckets))
           .localCheckpoint(eager=True))
    dup = (upd.groupBy(*key_cols).count()
           .filter(F.col("count") > 1).limit(1).collect())
    if dup:
        raise ValueError(
            f"updates contain multiple rows for key "
            f"{tuple(dup[0][k] for k in key_cols)} — MERGE requires at "
            "most one update row per key")
    touched = sorted(r["bucket"] for r in
                     upd.select("bucket").distinct().collect())
    if not touched:
        return {"touched_buckets": [], "rows_out": 0,
                "snapshot_id": store.current_id()}

    try:
        target = store.read_output(spark)
    except ValueError:  # empty table: pure insert
        target = None

    if target is not None:
        kept = (
            target.filter(F.col("bucket").isin(touched))
            .join(upd.select(*key_cols), key_cols, "left_anti")
        )
        # allowMissingColumns: consistent with read_output's add-column
        # evolution — updates in a pre-evolution schema (or carrying new
        # columns) NULL-fill instead of failing the CDC path
        merged = kept.unionByName(upd, allowMissingColumns=True)
    else:
        merged = upd

    entries = _stage(store, merged, touched)
    for b, e in entries.items():
        if not e["files"]:
            # defensive: committing files=[] for a touched bucket would
            # erase its pre-merge rows; fail loudly instead
            raise RuntimeError(
                f"merge staged no files for touched bucket {b} — "
                "refusing to commit an empty bucket entry")
    sid = store.commit(entries, input_snapshot, n_buckets=n_buckets)
    return {"touched_buckets": touched,
            "rows_out": sum(e["rows_out"] for e in entries.values()),
            "snapshot_id": sid}
