"""jobs/extract_job.py end to end. Each run is a subprocess: `main()` stops
its Spark session."""

import ast
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from glm_ocr_spark.data.gen import transcripts_df
from glm_ocr_spark.snapshot import SnapshotStore

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(REPO, "jobs", "extract_job.py")
N_BUCKETS = 4


def _job(*args):
    env = dict(os.environ, PYTHONPATH=REPO,
               PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell")
    return subprocess.run([sys.executable, JOB, *args], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=600)


def _metrics(proc):
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(ln for ln in proc.stdout.splitlines()
                if ln.startswith("extract_job: "))
    return ast.literal_eval(line[len("extract_job: "):])


def _rows(df):
    return sorted((r["conv_id"], r["turn_idx"], r["extracted_text"], r["json"])
                  for r in df.collect())


@pytest.fixture(scope="module")
def transcripts_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("job") / "transcripts")
    df = transcripts_df(spark, 0.001).filter("turn_idx < 5")
    df.write.parquet(path)
    return path


def test_snapshot_catalog_and_output_modes(spark, transcripts_path,
                                           tmp_path):
    n_in = spark.read.parquet(transcripts_path).count()
    cat = str(tmp_path / "cat")
    snap = ["--input", transcripts_path, "--snapshot-catalog", cat,
            "--buckets", str(N_BUCKETS)]

    m = _metrics(_job(*snap))
    assert m["processed_buckets"] == N_BUCKETS
    committed = _rows(SnapshotStore(cat).read_output(spark))
    assert len(committed) == n_in

    m = _metrics(_job(*snap))
    assert m["resumed_buckets"] == N_BUCKETS
    assert m["processed_buckets"] == 0

    out = str(tmp_path / "out")
    proc = _job("--input", transcripts_path, "--output", out)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _rows(spark.read.parquet(out)) == committed


def test_header_csv_input_writes_the_parquet_rows(spark, transcripts_path,
                                                 tmp_path):
    """A header CSV whose quoted payloads span lines reads through the
    transcripts reader on both paths: the snapshot job and `_run_plan`
    produce the rows the parquet input produces."""
    from glm_ocr_spark.pipeline import _run_plan

    src = spark.read.parquet(transcripts_path)
    assert src.filter(F.col("text").contains("\n")).count() > 0
    csv = str(tmp_path / "csv")
    (src.write.option("header", "true").option("escape", '"')
     .option("ignoreLeadingWhiteSpace", "false")
     .option("ignoreTrailingWhiteSpace", "false").csv(csv))
    want = _rows(_run_plan(spark, transcripts_path))

    assert _rows(_run_plan(spark, csv, fmt="csv")) == want
    cat = str(tmp_path / "cat")
    _metrics(_job("--input", csv, "--format", "csv", "--snapshot-catalog",
                  cat, "--buckets", str(N_BUCKETS)))
    assert _rows(SnapshotStore(cat).read_output(spark)) == want


@pytest.mark.parametrize("outputs", [
    ["--output", "o", "--snapshot-catalog", "c"],
    [],
], ids=["both", "neither"])
def test_output_modes_are_exclusive_and_required(tmp_path, outputs):
    proc = _job("--input", str(tmp_path / "in"), *outputs)
    assert proc.returncode == 2
    assert "error:" in proc.stderr
    assert ("not allowed with argument" in proc.stderr if outputs
            else "one of the arguments" in proc.stderr)
