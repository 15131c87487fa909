"""The benchmark's workloads. Each is closed-loop: one job at a time, each
run to completion. A workload builds its seeded inputs, runs a small warm
pass (set-up), runs its measured job, checks the job's output, and runs the
traced floor jobs that split the job into layers.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from glm_ocr_spark import pipeline
from glm_ocr_spark.operators import dedup, similarity
from glm_ocr_spark.streaming.stream import extract_stream, read_transcripts_stream
from perfbench import inputs, tracing
from perfbench.sparkmetrics import PYTHON_NODES, SparkMetrics

WORK = os.path.join(inputs.ROOT, ".bench", "perfbench", "work")
KERNEL_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]
FIELDS = ("extracted_text", "markdown", "json", "spans", "n_blocks")


def _oracle():
    """`tests/oracle.py::oracle_extract_turn`, loaded by path."""
    path = os.path.join(inputs.ROOT, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.oracle_extract_turn


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    """The boundary floor: the same Arrow round trip and `to_pylist` of the
    payload columns as the extraction body, with no kernel."""
    for batch in batches:
        batch.column(3).to_pylist()
        batch.column(4).to_pylist()
        yield batch


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    why = ""

    def __init__(self, seed: int):
        self.seed = seed
        self.work = os.path.join(WORK, self.name)
        self.out = os.path.join(self.work, "out")

    def reset(self) -> None:
        """Remove the previous job's output (outside the timed region)."""
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def out_bytes(self) -> int:
        return inputs.dir_bytes(self.out)


# ------------------------------------------------------------- extraction

def _write_transcripts(rows: list[dict], path: str, n_files: int) -> None:
    inputs.write_table(pa.Table.from_pylist(rows, inputs.TRANSCRIPT_SCHEMA),
                       path, n_files)


class ExtractBatch(Workload):
    """`pipeline.run`: scan -> mapInArrow kernel -> range repartition +
    sort -> parquet."""

    name = "extract_batch"
    why = ("data/gen.py transcript mix plus planted dense and adversarial "
           "pages through pipeline.run: the production batch job")

    TURNS = 12_000
    N_FILES = 8
    WARM_ROWS = 400
    WARM_FILES = 8      # one warm task per core, so every worker starts
    # the same rows replayed as a file stream with small triggers, where
    # the fixed cost per micro-batch dominates
    STREAM_FILES = 12
    FILES_PER_TRIGGER = 2
    SAMPLE = 200
    ORACLE_MAX_BLOCKS = 260

    def _build(self, path: str, seed: int) -> dict:
        rows, planted = inputs.transcript_rows(seed, self.TURNS)
        _write_transcripts(rows, os.path.join(path, "data"), self.N_FILES)
        _write_transcripts(rows[:self.WARM_ROWS], os.path.join(path, "warm"),
                           self.WARM_FILES)
        _write_transcripts(rows, os.path.join(path, "stream"),
                           self.STREAM_FILES)
        return {"rows": len(rows), "planted": planted}

    def __init__(self, seed: int):
        super().__init__(seed)
        self.dir, self.manifest = inputs.build(
            f"{self.name}-{self.TURNS}", seed, self._build)
        self.in_dir = os.path.join(self.dir, "data")
        self.rows = self.manifest["rows"]
        self.in_bytes = inputs.dir_bytes(self.in_dir)

    def warm(self, spark) -> None:
        pipeline.run(spark, os.path.join(self.dir, "warm"),
                     os.path.join(WORK, f"{self.name}-warm"))

    def job(self, spark) -> float:
        """One measured job; returns its wall time."""
        return _timed(lambda: pipeline.run(spark, self.in_dir, self.out))

    # --- correctness

    def output_table(self) -> pa.Table:
        return pq.read_table(self.out, columns=[
            "conv_id", "turn_idx", "error", *FIELDS])

    def quick_check(self) -> int:
        """Rows missing from (or extra in) the output, plus dead-lettered
        rows: cheap enough for every job."""
        t = pq.read_table(self.out, columns=["error"])
        dead = t.num_rows - t.column("error").null_count
        return abs(t.num_rows - self.rows) + dead

    def sample_keys(self) -> set[tuple[str, int]]:
        """A seeded sample of input rows, every adversarial row, and the
        dense pages the oracle can afford (it is quadratic in blocks)."""
        keys = pq.read_table(self.in_dir, columns=["conv_id", "turn_idx"])
        conv, turn = keys.column(0).to_pylist(), keys.column(1).to_pylist()
        r = random.Random(f"perfbench:sample:{self.name}:{self.seed}")
        picked = {(conv[i], turn[i])
                  for i in r.sample(range(len(conv)),
                                    min(self.SAMPLE, len(conv)))}
        picked.update((p["conv_id"], p["turn_idx"])
                      for p in self.manifest["planted"]
                      if p["blocks"] <= self.ORACLE_MAX_BLOCKS)
        return picked

    def check(self) -> tuple[int, int]:
        """Byte-compare the sampled rows with the oracle on every output
        field. Returns (failed rows, checked rows)."""
        oracle = _oracle()
        want = self.sample_keys()
        src = pq.read_table(self.in_dir, columns=KERNEL_COLS).to_pylist()
        payload = {(r["conv_id"], r["turn_idx"]): (r["text"], r["tool"])
                   for r in src if (r["conv_id"], r["turn_idx"]) in want}
        got = {}
        for r in self.output_table().to_pylist():
            key = (r["conv_id"], r["turn_idx"])
            if key in want:
                got[key] = r
        failed = 0
        for key in sorted(want):
            r = got.get(key)
            text, tool = payload[key]
            o = oracle(text, tool or "")
            if r is None or r["error"] is not None or any(
                    r[f] != o[f] for f in FIELDS if f != "spans") or [
                    (s["start"], s["end"], s["label"]) for s in r["spans"]
            ] != [tuple(s) for s in o["spans"]]:
                failed += 1
        return failed, len(want)

    # --- traced run

    def floor_jobs(self, spark, sm: SparkMetrics) -> dict:
        """One round of floor jobs, in order: scan to noop, identity
        mapInArrow, extract to noop (traced), the untraced job, the traced
        job, then the stream replay untraced and traced."""
        df = spark.read.parquet(self.in_dir).select(*KERNEL_COLS)
        r = {}
        m = sm.mark()
        r["scan"] = _timed(lambda: _noop(df))
        r["scan_metrics"] = sm.since(m)
        r["identity"] = _timed(
            lambda: _noop(df.mapInArrow(_identity, df.schema)))
        with tracing.traced_extraction(spark):
            plan = pipeline.extract_transcripts(df)
        r["extract"] = _timed(lambda: _noop(plan))
        self.reset()
        m = sm.mark()
        r["full"] = self.job(spark)
        r["full_metrics"] = sm.since(m)
        r["sink_bytes"], r["sink_files"] = (
            self.out_bytes(), len(inputs.parquet_files(self.out)))
        self.reset()
        with tracing.traced_extraction(spark) as acc:
            r["traced"] = self.job(spark)
        r["counts"] = acc.value
        self.reset()
        r["stream"] = self._stream(spark)
        self.reset()
        with tracing.traced_extraction(spark) as acc:
            self._stream(spark)
        r["stream_counts"] = acc.value
        return r

    def _stream(self, spark) -> list:
        """Replay the corpus through `extract_stream` into a checkpointed
        parquet sink (availableNow); returns the micro-batch progress."""
        stream = read_transcripts_stream(
            spark, os.path.join(self.dir, "stream"),
            max_files_per_trigger=self.FILES_PER_TRIGGER)
        q = (extract_stream(stream).writeStream.format("parquet")
             .option("path", self.out)
             .option("checkpointLocation", self.out + "-checkpoint")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return [p for p in q.recentProgress if p.numInputRows > 0]

    def layers(self, spark, rounds: list[dict]) -> dict:
        med = {k: _median([r[k] for r in rounds])
               for k in ("scan", "identity", "extract", "full", "traced")}
        last = rounds[-1]
        scan, full = last["scan_metrics"], last["full_metrics"]
        py = PYTHON_NODES
        out = {
            "scan.s": med["scan"],
            "scan.cpu_s": scan.node_metric("Scan parquet", "scan time"),
            "scan.bytes": scan.node_metric("Scan parquet",
                                           "size of files read"),
            "scan.tasks": scan.stage_sum("numTasks"),
            "scan.task_skew": scan.max_task_skew(),
            "boundary.s": med["identity"] - med["scan"],
            "boundary.bytes_to_py": full.node_metric(
                py, "data sent to Python workers"),
            "boundary.bytes_from_py": full.node_metric(
                py, "data returned from Python workers"),
            "boundary.py_run_s": full.node_metric(
                py, "time to run Python workers"),
            "boundary.worker_start_s": (
                full.node_metric(py, "time to start Python workers")
                + full.node_metric(py, "time to initialize Python workers")),
            "kernel.s": med["extract"] - med["identity"],
            "sink.s": med["traced"] - med["extract"],
            "sink.shuffle_bytes": full.stage_sum("shuffleWriteBytes"),
            "sink.bytes": last["sink_bytes"],
            "sink.files": last["sink_files"],
            "trace.untraced_s": med["full"],
            "trace.overhead_frac": med["traced"] / med["full"] - 1,
            # the four layer self-times telescope to the traced job wall
            "trace.layer_sum_frac": med["traced"] / med["full"],
        }
        out.update(tracing.stage_metrics(last["counts"], self.rows))
        out.update(full.spark_layer())
        d = [p.durationMs for p in last["stream"]]
        out.update({
            "stream.batches": len(d),
            "stream.add_batch_s": _median([x["addBatch"] / 1e3 for x in d]),
            "stream.overhead_s_per_batch": _median(
                [(x["triggerExecution"] - x["addBatch"]) / 1e3 for x in d]),
            "stream.commit_s": _median(
                [(x.get("commitOffsets", 0) + x.get("walCommit", 0)) / 1e3
                 for x in d]),
            # no range sort on the stream sink: one kernel pass per row
            "stream.evals_per_row": tracing.stage_metrics(
                last["stream_counts"], self.rows)["kernel.evals_per_row"],
        })
        return out


# ------------------------------------------------------------------ dedup

class DedupCurate(Workload):
    """`dedup_keep_first` over documents and `semantic_dedup` over
    embeddings, survivors written to parquet. No extraction kernel."""

    name = "dedup_curate"
    why = ("minhash near-dup and SemDeDup over planted duplicates: shuffle, "
           "join, persist and Python UDFs, which extraction never touches")
    DOCS = 6_000
    EMBS = 12_000
    N_FILES = 4
    WARM_DOCS = 400
    WARM_EMBS = 800

    def _build(self, path: str, seed: int) -> dict:
        docs, dup_ids = inputs.dedup_docs(seed, self.DOCS)
        x, members = inputs.embeddings(seed, self.EMBS)
        doc_table = pa.table({
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "text": pa.array([d["text"] for d in docs], pa.string())})
        emb_table = pa.table({
            "vec_id": pa.array(np.arange(len(x)), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float64()))})
        inputs.write_table(doc_table, os.path.join(path, "docs"), self.N_FILES)
        inputs.write_table(emb_table, os.path.join(path, "emb"), self.N_FILES)
        inputs.write_table(doc_table.slice(0, self.WARM_DOCS),
                           os.path.join(path, "warm_docs"), self.N_FILES)
        inputs.write_table(emb_table.slice(0, self.WARM_EMBS),
                           os.path.join(path, "warm_emb"), self.N_FILES)
        return {"docs": len(docs), "embs": len(x), "dup_ids": dup_ids,
                "emb_dup_ids": members}

    def __init__(self, seed: int):
        super().__init__(seed)
        self.dir, self.manifest = inputs.build(
            f"{self.name}-{self.DOCS}-{self.EMBS}", seed, self._build)
        self.rows = self.manifest["docs"] + self.manifest["embs"]
        self.in_bytes = (inputs.dir_bytes(os.path.join(self.dir, "docs"))
                         + inputs.dir_bytes(os.path.join(self.dir, "emb")))

    def _docs(self, spark, docs: str) -> None:
        try:
            dedup.dedup_keep_first(spark.read.parquet(docs)) \
                .write.mode("overwrite").parquet(os.path.join(self.out, "docs"))
        finally:
            dedup.release_persisted()

    def _semdedup(self, spark, emb: str, centroids=None) -> None:
        similarity.semantic_dedup(spark.read.parquet(emb),
                                  centroids=centroids) \
            .write.mode("overwrite").parquet(os.path.join(self.out, "emb"))

    def warm(self, spark) -> None:
        """The first pass of both Python kernels, minhash signatures and
        cell assignment, over a small slice. A whole curation pass runs ~43
        Spark jobs whatever the input size, too slow to repeat per set-up."""
        docs = spark.read.parquet(os.path.join(self.dir, "warm_docs"))
        emb = spark.read.parquet(os.path.join(self.dir, "warm_emb"))
        _noop(dedup.minhash_signatures(docs))
        cell = similarity.ivf_cell_udf(similarity.fixed_centroids(emb, 8))
        _noop(emb.select(cell("embedding")))

    def job(self, spark) -> float:
        def run():
            self._docs(spark, os.path.join(self.dir, "docs"))
            self._semdedup(spark, os.path.join(self.dir, "emb"))
        return _timed(run)

    def _survivors(self) -> tuple[list[int], list[int]]:
        docs = pq.read_table(os.path.join(self.out, "docs"), columns=["doc_id"])
        emb = pq.read_table(os.path.join(self.out, "emb"), columns=["vec_id"])
        return docs.column(0).to_pylist(), emb.column(0).to_pylist()

    def quick_check(self) -> int:
        docs, emb = self._survivors()
        m = self.manifest
        return (abs(len(docs) - (m["docs"] - len(m["dup_ids"])))
                + abs(len(emb) - (m["embs"] - len(m["emb_dup_ids"]))))

    def check(self) -> tuple[int, int]:
        """Every planted duplicate dropped, every other row kept: the
        survivor sets are exact. Each wrong id is one failed row."""
        docs, emb = self._survivors()
        m = self.manifest
        want_docs = set(range(m["docs"])) - set(m["dup_ids"])
        want_emb = set(range(m["embs"])) - set(m["emb_dup_ids"])
        failed = (len(set(docs) ^ want_docs) + len(set(emb) ^ want_emb)
                  + len(docs) - len(set(docs)) + len(emb) - len(set(emb)))
        return failed, self.rows

    def floor_jobs(self, spark, sm: SparkMetrics) -> dict:
        docs = os.path.join(self.dir, "docs")
        emb = os.path.join(self.dir, "emb")
        r = {}
        m = sm.mark()
        r["scan"] = _timed(lambda: (_noop(spark.read.parquet(docs)),
                                    _noop(spark.read.parquet(emb))))
        r["scan_metrics"] = sm.since(m)
        self.reset()
        m = sm.mark()
        r["full"] = self.job(spark)
        r["full_metrics"] = sm.since(m)
        r["sink_bytes"], r["sink_files"] = (
            self.out_bytes(), len(inputs.parquet_files(self.out)))
        self.reset()
        m = sm.mark()
        r["dedup"] = _timed(lambda: self._docs(spark, docs))
        r["dedup_metrics"] = sm.since(m)
        m = sm.mark()
        t0 = time.perf_counter()
        centroids = similarity.train_ivf_centroids(spark.read.parquet(emb))
        self._semdedup(spark, emb, centroids)
        r["semdedup"] = time.perf_counter() - t0
        r["semdedup_metrics"] = sm.since(m)
        r["centroids"] = centroids
        return r

    def layers(self, spark, rounds):
        last = rounds[-1]
        med = {k: _median([r[k] for r in rounds])
               for k in ("scan", "full", "dedup", "semdedup")}
        docs = spark.read.parquet(os.path.join(self.dir, "docs"))
        try:
            candidates = dedup.minhash_band_candidates(docs).count()
            pairs = dedup.minhash_lsh_pairs(docs).count()
        finally:
            dedup.release_persisted()
        emb = pq.read_table(os.path.join(self.dir, "emb")).column(
            "embedding").to_pylist()
        x = np.asarray(emb, dtype=np.float64)
        c = last["centroids"]
        cells = np.argmax((x / np.linalg.norm(x, axis=1, keepdims=True))
                          @ (c / np.linalg.norm(c, axis=1, keepdims=True)).T,
                          axis=1)
        _, emb_kept = self._survivors()
        scan, full = last["scan_metrics"], last["full_metrics"]
        dm, sm = last["dedup_metrics"], last["semdedup_metrics"]
        py = PYTHON_NODES
        n_docs, n_embs = self.manifest["docs"], self.manifest["embs"]
        both = med["dedup"] + med["semdedup"]
        out = {
            "scan.s": med["scan"],
            "scan.cpu_s": scan.node_metric("Scan parquet", "scan time"),
            "scan.bytes": scan.node_metric("Scan parquet",
                                           "size of files read"),
            "scan.tasks": scan.stage_sum("numTasks"),
            "scan.task_skew": scan.max_task_skew(),
            "boundary.bytes_to_py": full.node_metric(
                py, "data sent to Python workers"),
            "boundary.bytes_from_py": full.node_metric(
                py, "data returned from Python workers"),
            "boundary.py_run_s": full.node_metric(
                py, "time to run Python workers"),
            "boundary.worker_start_s": (
                full.node_metric(py, "time to start Python workers")
                + full.node_metric(py, "time to initialize Python workers")),
            "sink.shuffle_bytes": full.stage_sum("shuffleWriteBytes"),
            "sink.bytes": last["sink_bytes"],
            "sink.files": last["sink_files"],
            "trace.untraced_s": med["full"],
            # the two operators timed apart against the job run whole
            "trace.overhead_frac": both / med["full"] - 1,
            "trace.layer_sum_frac": both / med["full"],
            "dedup.s": med["dedup"],
            "dedup.candidates": candidates,
            "dedup.pairs": pairs,
            "dedup.verify_yield": pairs / candidates if candidates else 0.0,
            "dedup.udf_rows_per_doc": dm.node_metric(
                py, "number of output rows") / n_docs,
            "dedup.shuffle_bytes": dm.stage_sum("shuffleWriteBytes"),
            "semdedup.s": med["semdedup"],
            "semdedup.assign_evals_per_row": sm.node_metric(
                "ArrowEvalPython", "number of output rows") / n_embs,
            "semdedup.max_cell_rows": int(np.bincount(cells).max()),
            "semdedup.dropped": n_embs - len(emb_kept),
        }
        out.update(full.spark_layer())
        return out


WORKLOADS = {w.name: w for w in (ExtractBatch, DedupCurate)}
