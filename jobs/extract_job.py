"""spark-submit entry: transcript extraction, single-shot or checkpointed.

  spark-submit --py-files glm_ocr_spark.zip jobs/extract_job.py \
      --input <transcripts path> (--output <dir> | --snapshot-catalog <dir>) \
      [--buckets 256] [--snapshot v1] [--format parquet] \
      [--config extract.yaml] [--mode layout|ocr_only]

`--output` runs the single-shot path (pipeline.run). `--snapshot-catalog`
runs the checkpointed, resumable path (snapshot.run_with_snapshots): output
and per-bucket watermarks are committed together, and a rerun skips the
buckets already completed for `--snapshot`.

Both paths read `--input` through sources.read_transcripts: a value that
contains `/` is a path read in `--format` (CSV with a header row and
quoted multi-line payloads, JSON lines with the contract schema and no
inference pass); a value without `/` is read as a catalog table and
`--format` is ignored. Both paths write parquet whatever `--format` says.

Extraction knobs resolve through the reference-style chain (glmocr/
config.py:293-364): CLI flags > GLMOCR_SPARK_* env > .env > --config YAML >
defaults (glm_ocr_spark.config_loader.load_config).

On a cluster, --buckets should be ~2-4x the executor count: each bucket is
one resumable unit of work, and a killed run loses at most one uncommitted
batch of buckets.
"""

from __future__ import annotations

import argparse

from glm_ocr_spark.config_loader import load_config
from glm_ocr_spark.pipeline import get_spark, run
from glm_ocr_spark.snapshot import run_with_snapshots
from glm_ocr_spark.sources import read_transcripts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    out = ap.add_mutually_exclusive_group(required=True)
    out.add_argument("--output", help="single-shot output dir")
    out.add_argument("--snapshot-catalog",
                     help="checkpointed snapshot catalog root, a local "
                          "directory (snapshot.py)")
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--snapshot", default="v1")
    ap.add_argument("--format", default="parquet")
    ap.add_argument("--config", default=None, help="extraction YAML")
    ap.add_argument("--mode", default=None, choices=["layout", "ocr_only"])
    ap.add_argument("--score-threshold", type=float, default=None)
    args = ap.parse_args()

    cfg, job = load_config(config_path=args.config, mode=args.mode,
                           score_threshold=args.score_threshold)

    spark = get_spark(app="glm-ocr-extract")
    if args.snapshot_catalog:
        df = read_transcripts(spark, args.input, args.format)
        metrics = run_with_snapshots(
            spark, df, args.snapshot_catalog,
            n_buckets=args.buckets, input_snapshot=args.snapshot,
            mode=job["mode"], config=cfg,
        )
        print(f"extract_job: {metrics}")
    else:
        run(spark, args.input, args.output, fmt=args.format,
            mode=job["mode"], config=cfg)
    spark.stop()


if __name__ == "__main__":
    main()
