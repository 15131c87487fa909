"""SemDeDup data-scaling bench: 4x the vectors WITH 4x the cells.

The SemDeDup scale argument (arXiv:2303.09540, SCALE.md) is that growing
n_cells proportionally with the corpus keeps per-cell population — and
therefore per-vector comparison cost — constant, making total work linear
where global near-dup is quadratic. This tool MEASURES that claim on the
real operator instead of arguing it: two arms at fixed local[16]
parallelism,

    small: 25,000 vectors  / 32 cells   (expected ~781 per cell)
    large: 100,000 vectors / 128 cells  (expected ~781 per cell)

deterministic synthetic embeddings (dim 64, standard normals from a
per-vec_id PCG64 stream — independent of partitioning), inputs
materialized to parquet once and reused, fresh JVM per draw, draws
strictly interleaved across arms (the bench_weak lesson: single draws of
shuffle phases on this shared box are not evidence). Ideal result: the
per-vector cost ratio large/small ~= 1.0 (flat), against a ~4x ratio if
the comparison were globally quadratic.

Writes BENCH_semdedup.json at the repo root (rendered into BENCH.md as a
persistent auxiliary section) and prints one JSON line.

Usage:
  python tools/bench_semdedup.py [--rounds 2]     # orchestrator
  python tools/bench_semdedup.py --worker --n 25000 --cells 32
NEVER run concurrently with other Spark work (bench contamination).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARMS = ((25_000, 32), (100_000, 128))
DIM = 64


def _ensure_vectors(spark, n: int) -> str:
    """Materialize n deterministic embeddings to parquet once (cached
    across draws — generation must not ride inside the timed window)."""
    path = os.path.join(REPO, ".bench", f"semdedup_vec_{n}.parquet")
    done = os.path.join(path, "_SUCCESS")
    if os.path.exists(done):
        return path
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    def gen(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            embs = [np.random.default_rng(int(i)).standard_normal(DIM)
                    .tolist() for i in ids]
            yield pd.DataFrame({"vec_id": ids, "embedding": embs})

    base = spark.range(n).select(F.col("id").alias("vec_id"))
    df = base.mapInPandas(
        gen, schema="vec_id long, embedding array<double>")
    df.repartition(64).write.mode("overwrite").parquet(path)
    return path


def run_worker(n: int, cells: int) -> None:
    from pyspark.sql import functions as F

    from glm_ocr_spark.operators.similarity import (
        ivf_cell_udf,
        semantic_dedup,
        train_ivf_centroids,
    )
    from glm_ocr_spark.pipeline import get_spark

    spark = get_spark(app=f"bench-semdedup-{n}", master="local[16]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(_ensure_vectors(spark, n))
    cents = train_ivf_centroids(emb, n_cells=cells)

    t0 = time.time()
    survivors = semantic_dedup(emb, threshold=0.9,
                               centroids=cents).count()
    cold = time.time() - t0

    sizes = [r["count"] for r in emb.withColumn(
        "cell", ivf_cell_udf(cents)(F.col("embedding")))
        .groupBy("cell").count().collect()]
    within = sum(s * (s - 1) // 2 for s in sizes)
    out = {
        "n": n, "cells": cells,
        "cold_sec": round(cold, 2),
        "survivors": survivors,
        "vecs_per_sec": round(n / cold, 1),
        "within_cell_pairs": within,
        "pair_fraction": round(within / (n * (n - 1) // 2), 5),
        "max_cell": max(sizes), "mean_cell": round(n / len(sizes), 1),
    }
    spark.stop()
    print(json.dumps(out))


def _run_arm(n: int, cells: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker",
         "--n", str(n), "--cells", str(cells)],
        capture_output=True, text=True, cwd=REPO, timeout=7200)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise SystemExit(
            f"worker n={n} cells={cells} produced no result")
    return json.loads(lines[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--n", type=int, default=None)
    ap.add_argument("--cells", type=int, default=None)
    ap.add_argument("--rounds", type=int, default=2)
    args = ap.parse_args()
    if args.worker:
        run_worker(args.n, args.cells)
        return

    from tools.quietbox import assert_quiet

    assert_quiet("bench_semdedup")
    draws: dict[str, list[dict]] = {f"{n}v_{c}c": [] for n, c in ARMS}
    for _ in range(max(1, args.rounds)):
        for n, c in ARMS:  # strictly interleaved across arms
            draws[f"{n}v_{c}c"].append(_run_arm(n, c))

    arms = {}
    for key, arm_draws in draws.items():
        best = dict(min(arm_draws, key=lambda d: d["cold_sec"]))
        best["draws_cold_sec"] = [d["cold_sec"] for d in arm_draws]
        arms[key] = best

    small, large = (arms[f"{n}v_{c}c"] for n, c in ARMS)
    # per-vector cost ratio: 1.0 = perfectly flat (the SemDeDup claim);
    # the global-quadratic strawman would read ~4.0 at 4x the vectors
    ratio = round((large["cold_sec"] / large["n"])
                  / (small["cold_sec"] / small["n"]), 3)
    summary = {"rounds": args.rounds, "arms": arms,
               "per_vector_cost_ratio_4x": ratio}
    with open(os.path.join(REPO, "BENCH_semdedup.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
