"""Self-tests of the benchmark (not of the program):

    python3 -m pytest perfbench -q -p no:cacheprovider

Seeded inputs are reproducible, the metric names match BENCHMARK.json, each
workload passes its correctness gate at toy size and fails it on a wrong
output, and the entry point refuses to run without the program.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs, run, workloads
from perfbench.sparkmetrics import parse_value

ROOT = inputs.ROOT


def _tree_equal(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


@pytest.fixture
def toy(tmp_path, monkeypatch):
    """Workloads at toy size, with inputs and outputs under tmp_path."""
    monkeypatch.setattr(inputs, "CACHE", str(tmp_path / "inputs"))
    monkeypatch.setattr(workloads, "WORK", str(tmp_path / "work"))
    monkeypatch.setattr(workloads.ExtractBatch, "TURNS", 300)
    monkeypatch.setattr(workloads.ExtractBatch, "SAMPLE", 40)
    monkeypatch.setattr(workloads.DedupCurate, "DOCS", 400)
    monkeypatch.setattr(workloads.DedupCurate, "EMBS", 800)
    return tmp_path


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    def write(seed, name):
        rows, planted = inputs.transcript_rows(seed, 300)
        path = str(tmp_path / name)
        workloads._write_transcripts(rows, path, 3)
        return path, planted

    a, planted_a = write(7, "a")
    b, planted_b = write(7, "b")
    c, _ = write(8, "c")
    assert _tree_equal(a, b) and planted_a == planted_b
    assert not _tree_equal(a, c)
    kinds = {p["kind"] for p in planted_a}
    assert kinds == {*inputs.ADVERSARIAL_KINDS, "dense"}

    assert inputs.dedup_docs(7, 200) == inputs.dedup_docs(7, 200)
    assert inputs.dedup_docs(7, 200) != inputs.dedup_docs(8, 200)
    xa, ma = inputs.embeddings(7, 400)
    xb, mb = inputs.embeddings(7, 400)
    xc, _ = inputs.embeddings(8, 400)
    assert (xa == xb).all() and ma == mb and not (xa == xc).all()


def test_dense_pages_span_the_geometry_threshold():
    from glm_ocr_spark.kernel.geometry_py import SMALL_N

    counts = inputs.dense_block_counts(12)
    assert min(counts) < SMALL_N < max(counts)
    assert counts == inputs.dense_block_counts(12)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec == run.benchmark_spec(workloads.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == {k: v[:2] for k, v in run.END_TO_END.items()}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == run.PER_LAYER
    assert "setup_s" in e2e and e2e["setup_s"] == ("s", "lower")


def test_tail_and_metric_parsing():
    assert run.tail([3.0, 1.0]) == (3.0, 100.0, 2)
    value, pct, n = run.tail([float(i) for i in range(50)])
    assert (value, pct, n) == (39.0, 80.0, 50)
    assert parse_value("12,620") == 12620
    assert parse_value("1187.9 KiB") == pytest.approx(1187.9 * 1024)
    assert parse_value("total (min, med, max (stageId: taskId))\n"
                       "8.3 s (357 ms, 1.7 s, 2.1 s (stage 1.0: task 3))") \
        == pytest.approx(8.3)
    assert parse_value("991 ms") == pytest.approx(0.991)


@pytest.fixture(scope="module")
def spark():
    from glm_ocr_spark.pipeline import get_spark

    s = get_spark(app="perfbench-tests", master="local[2]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_gate_passes_at_toy_size(toy, spark, name):
    w = workloads.WORKLOADS[name](seed=5)
    w.reset()
    w.job(spark)
    assert w.quick_check() == 0
    failed, checked = w.check()
    assert failed == 0 and checked > 0


def test_extraction_gate_catches_wrong_output(toy, spark):
    from glm_ocr_spark import pipeline

    w = workloads.ExtractBatch(seed=5)
    w.reset()
    # the layout-off path gives other output for every layout payload
    pipeline.run(spark, w.in_dir, w.out, mode="ocr_only")
    failed, checked = w.check()
    assert 0 < failed <= checked


def test_dedup_gate_catches_kept_duplicates(toy, spark):
    w = workloads.DedupCurate(seed=5)
    w.reset()
    spark.read.parquet(os.path.join(w.dir, "docs")).write.parquet(
        os.path.join(w.out, "docs"))
    spark.read.parquet(os.path.join(w.dir, "emb")).select("vec_id") \
        .write.parquet(os.path.join(w.out, "emb"))
    failed, _ = w.check()
    assert failed == len(w.manifest["dup_ids"]) \
        + len(w.manifest["emb_dup_ids"])
    assert w.quick_check() == failed


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert p.stdout.strip() == ""
