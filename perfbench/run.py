"""Run one workload of the layered benchmark and print its metrics.

    python3 perfbench/run.py --workload extract_batch --seed 1 \\
        --seconds 18 --trace 0

Run from the repository root. Inputs are built from the seed (cached under
`.bench/perfbench/`), the workload runs closed-loop at local[nproc] for
`--seconds`, and its output is checked against the oracle. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed`
(rows) and `metrics`. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer ones from a separate traced run. The line before it holds the
run context (capacity probe, other Spark JVMs, source id, seed and the raw
samples), which is recorded, not scored.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".bench", "perfbench")

SETUPS = 3          # session set-ups per measured run; setup_s is the median
WARMUP_S = 8        # unmeasured full-size jobs before measuring
MIN_JOBS = 3        # measured jobs per run, at least
TAIL_BEYOND = 10    # samples beyond the reported tail percentile
DEADLINE_S = 150    # a run not done by then fails, leaving time to shut down

# name -> (unit, better, bound): what a user of the engine sees
END_TO_END = {
    "rows_per_s": ("rows/s", "higher", 0.25),
    "cpu_s_per_krow": ("s", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
    "worker_rss_mb": ("MiB", "lower", 0.1),
    "out_bytes_per_in_byte": ("ratio", "lower", 0.1),
    "job_p50_s": ("s", "lower", 0.25),
    "job_tail_s": ("s", "lower", 0.25),
}

# name -> (unit, better): one layer each, read by the traced run
PER_LAYER = {
    "scan.s": ("s", "lower"),
    "scan.cpu_s": ("s", "lower"),
    "scan.bytes": ("B", "lower"),
    "scan.tasks": ("count", "lower"),
    "scan.task_skew": ("ratio", "lower"),
    "boundary.s": ("s", "lower"),
    "boundary.fetch_s": ("s", "lower"),
    "boundary.bytes_to_py": ("B", "lower"),
    "boundary.bytes_from_py": ("B", "lower"),
    "boundary.py_run_s": ("s", "lower"),
    "boundary.worker_start_s": ("s", "lower"),
    "kernel.s": ("s", "lower"),
    "kernel.task_s": ("s", "lower"),
    "kernel.evals_per_row": ("ratio", "lower"),
    "kernel.turns_per_core_s": ("rows/s", "higher"),
    "kernel.stage_cover": ("ratio", "higher"),
    "segment.s": ("s", "lower"),
    "segment.calls": ("count", "lower"),
    "segment.blocks": ("count", "lower"),
    "segment.fallback_frac": ("ratio", "lower"),
    "geometry.s": ("s", "lower"),
    "geometry.small_pages": ("count", "higher"),
    "geometry.numpy_pages": ("count", "lower"),
    "geometry.survival": ("ratio", "higher"),
    "recognize.s": ("s", "lower"),
    "recognize.calls": ("count", "lower"),
    "format.s": ("s", "lower"),
    "format.calls": ("count", "lower"),
    "sink.s": ("s", "lower"),
    "sink.shuffle_bytes": ("B", "lower"),
    "sink.bytes": ("B", "lower"),
    "sink.files": ("count", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.add_batch_s": ("s", "lower"),
    "stream.overhead_s_per_batch": ("s", "lower"),
    "stream.commit_s": ("s", "lower"),
    "stream.evals_per_row": ("ratio", "lower"),
    "dedup.s": ("s", "lower"),
    "dedup.candidates": ("count", "lower"),
    "dedup.pairs": ("count", "lower"),
    "dedup.verify_yield": ("ratio", "higher"),
    "dedup.udf_rows_per_doc": ("ratio", "lower"),
    "dedup.shuffle_bytes": ("B", "lower"),
    "semdedup.s": ("s", "lower"),
    "semdedup.assign_evals_per_row": ("ratio", "lower"),
    "semdedup.max_cell_rows": ("count", "lower"),
    "semdedup.dropped": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.jvm_rss_mb": ("MiB", "lower"),
    "trace.untraced_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.layer_sum_frac": ("ratio", "lower"),
}


def benchmark_spec(workloads) -> dict:
    """The content of BENCHMARK.json, derived from the definitions above."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 18,
        "workloads": [{"name": w.name, "why": w.why}
                      for w in workloads.values()],
        "end_to_end": [{"name": k, "unit": u, "better": b, "bound": bound}
                       for k, (u, b, bound) in END_TO_END.items()],
        "per_layer": [{"name": k, "unit": u, "better": b}
                      for k, (u, b) in PER_LAYER.items()],
    }


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) of the highest percentile with at least
    TAIL_BEYOND samples beyond it. With too few samples for such a
    percentile above the median, the maximum."""
    s = sorted(xs)
    i = len(s) - TAIL_BEYOND - 1
    if i < len(s) // 2:
        i = len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s)


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def _isolate() -> None:
    """Keep the JVM, the Python workers and their scratch files inside the
    checkout, and let workers import the program and the benchmark."""
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(":"))]
    os.environ["PYTHONPATH"] = ":".join(paths)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def start_spark():
    from glm_ocr_spark.pipeline import get_spark

    spark = get_spark(app="perfbench", master=f"local[{os.cpu_count() or 1}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    from perfbench import procstat

    started = procstat.descendants()[1:]
    if spark is not None:
        spark.stop()
    log("session stopped")
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    alive = started
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for pid in alive:
        os.kill(pid, signal.SIGKILL)
    for pid in procstat.descendants()[1:]:  # reap our direct children
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def warm_up(w, spark) -> None:
    """Unmeasured full-size jobs. The warm passes are small: paths that
    full-size jobs take are still being JIT-compiled, and the first jobs
    read 20-30% slow in CPU time."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < WARMUP_S:
        w.reset()
        log(f"warm-up job {w.job(spark):.2f} s")


def measured(w, spark, seconds: float,
             cold_s: float) -> tuple[dict, dict, int, int, object]:
    """Set-ups, warm-up jobs, then closed-loop jobs for `seconds`, then
    the oracle gate. Job metrics are medians over the jobs.
    The first set-up is the cold one that launched the JVM (`cold_s`); the
    others restart the session in that JVM."""
    from perfbench import procstat

    setups = [cold_s]
    for _ in range(SETUPS - 1):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_spark()
        w.warm(spark)
        setups.append(time.perf_counter() - t0)
        log(f"setup {setups[-1]:.2f} s")

    warm_up(w, spark)
    walls, cpus, failed = [], [], 0
    t_start = time.perf_counter()
    while True:
        w.reset()
        c0 = procstat.tree_cpu_s()
        walls.append(w.job(spark))
        cpus.append(procstat.tree_cpu_s() - c0)
        failed += w.quick_check()
        log(f"job {len(walls)} {walls[-1]:.2f} s")
        if (len(walls) >= MIN_JOBS and time.perf_counter() - t_start
                + statistics.median(walls) > seconds):
            break
    log("checking output")
    gate_failed, checked = w.check()
    tail_s, tail_pct, n_jobs = tail(walls)
    rss = procstat.peak_rss_mb()
    metrics = {
        "rows_per_s": w.rows / statistics.median(walls),
        "cpu_s_per_krow": statistics.median(cpus) / (w.rows / 1000),
        "setup_s": statistics.median(setups),
        "worker_rss_mb": rss[1],
        "out_bytes_per_in_byte": w.out_bytes() / w.in_bytes,
        "job_p50_s": statistics.median(walls),
        "job_tail_s": tail_s,
    }
    context = {"job_walls_s": walls, "job_cpu_s": cpus, "setups_s": setups,
               "tail_percentile": tail_pct, "jobs": n_jobs,
               "jvm_rss_mb": rss[0],
               "gate_rows": checked, "gate_failed": gate_failed}
    return metrics, context, w.rows * len(walls), failed + gate_failed, spark


def traced(w, spark, seconds: float) -> tuple[dict, dict, int, int, object]:
    """Warm-up jobs, rounds of floor jobs for `seconds` (at least one),
    then the gate."""
    from perfbench import procstat
    from perfbench.sparkmetrics import SparkMetrics

    warm_up(w, spark)
    sm = SparkMetrics(spark)
    rounds = []
    t_start = time.perf_counter()
    while True:
        rounds.append(w.floor_jobs(spark, sm))
        per_round = (time.perf_counter() - t_start) / len(rounds)
        if time.perf_counter() - t_start + per_round > seconds:
            break
    layers = w.layers(spark, rounds)
    unknown = set(layers) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics {sorted(unknown)}")
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(layers)
    metrics["spark.jvm_rss_mb"] = procstat.peak_rss_mb()[0]
    failed, checked = w.check()
    return metrics, {"rounds": len(rounds), "gate_rows": checked}, \
        w.rows * len(rounds), failed, spark


def _deadline(signum, frame):
    raise TimeoutError(f"run not finished within {DEADLINE_S} s")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import glm_ocr_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import procstat
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    _isolate()
    from pyspark import cloudpickle

    import perfbench.tracing
    import perfbench.workloads
    # ship the benchmark's own functions to the workers by value
    cloudpickle.register_pickle_by_value(perfbench.tracing)
    cloudpickle.register_pickle_by_value(perfbench.workloads)

    log("probing capacity")
    context = procstat.run_context(ROOT, args.seed)
    context["workload"] = args.workload
    log("building inputs")
    w = WORKLOADS[args.workload](args.seed)
    log("starting spark")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark()
        w.warm(spark)
        cold_s = time.perf_counter() - t0
        log(f"cold setup {cold_s:.2f} s")
        if args.trace:
            out = traced(w, spark, args.seconds)
        else:
            out = measured(w, spark, args.seconds, cold_s)
        metrics, extra, attempted, failed, spark = out
    finally:
        log("stopping")
        shutdown(spark)
        signal.alarm(0)
        log("stopped")
    context.update(extra)
    context["trace"] = args.trace
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": (END_TO_END.get(k)
                                             or PER_LAYER[k])[0]}
                    for k, v in metrics.items()},
    }
    os.makedirs(os.path.join(SCRATCH, "results"), exist_ok=True)
    with open(os.path.join(SCRATCH, "results", f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump({"context": context, "result": result}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
