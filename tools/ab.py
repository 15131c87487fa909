"""Paired A/B and byte-parity harness over git refs.

    python3 tools/ab.py --base REF --head REF --workload extract_batch \\
        --pairs 10 --trace 0
    python3 tools/ab.py --base REF --head REF --workload parity

Each ref is checked out in its own `git worktree` (`.ab_<sha[:12]>/`,
ignored by git; one tree when both refs name the same commit) and runs its own
`perfbench/run.py`, so neither side imports the other's code. Pair i uses
seed i; the base runs first on odd i, the head on even i. `--trace 1`
follows every untraced run with a traced run of the same side and seed, for
the per-layer metrics.

Every end-to-end metric of BENCHMARK.json gets both medians and IQRs, the
per-pair ratios (head / base), the head's win count and a verdict (`judge`):
gain, no regression, regression or unresolved. Per-layer metrics get ratios
and wins only. A run that crashes, reads `correct` false or `failed` > 0
makes the comparison invalid (exit status 1). The report, with every run's
seed, order, capacity probe and count of other Spark JVMs, is written as
JSON under `.bench/ab/`.

`--workload parity` runs no benchmark: it writes the transcript rows of
`perfbench.inputs.transcript_rows(1, 30_000)` once, runs each tree's
`pipeline._extract_arrow_batches` over them in a subprocess without Spark,
and requires equal output tables. A mismatch names the first differing
(conv_id, turn_idx, column) and exits 1.

Refuses to start when the refs differ in `perfbench/` or BENCHMARK.json
(the two sides would be scored by different benchmarks) or when another
Spark JVM is running.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(REPO, ".bench", "ab")

MIN_PAIRS = 10      # fewer pairs never make a gain
WIN_FRAC = 0.9      # share of pairs the head must win for a gain
DRIFT = 0.2         # capacity readings of one pair further apart: flagged
RUN_TIMEOUT_S = 600

PARITY_SEED = 1
PARITY_ROWS = 30_000
PARITY_BATCH = 10_000   # Spark's default Arrow batch size

_PARITY_BODY = """
import sys
import pyarrow as pa
sys.path.insert(0, ".")
from glm_ocr_spark import pipeline
src = pa.ipc.open_file(sys.argv[1]).read_all()
out = pa.Table.from_batches(pipeline._extract_arrow_batches(
    src.to_batches(max_chunksize=int(sys.argv[3]))))
with pa.OSFile(sys.argv[2], "wb") as f, pa.ipc.new_file(f, out.schema) as w:
    w.write_table(out)
"""


# ------------------------------------------------------------- verdicts

def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _beats(a: float, b: float, better: str) -> bool:
    return a > b if better == "higher" else a < b


def _ratio(head: float, base: float) -> float | None:
    if base == 0:
        return 1.0 if head == 0 else None
    return head / base


def compare(base: list[float], head: list[float], better: str) -> dict:
    """Medians, IQRs, per-pair ratios and wins of one metric over paired
    runs (base[i] and head[i] ran in pair i). Ties count for neither."""
    bq1, bmed, bq3 = quartiles(base)
    hq1, hmed, hq3 = quartiles(head)
    return {
        "base_median": bmed, "base_iqr": bq3 - bq1,
        "head_median": hmed, "head_iqr": hq3 - hq1,
        "ratios": [_ratio(h, b) for b, h in zip(base, head)],
        "wins": sum(_beats(h, b, better) for b, h in zip(base, head)),
        "losses": sum(_beats(b, h, better) for b, h in zip(base, head)),
        "pairs": len(base),
    }


def judge(base: list[float], head: list[float], better: str,
          bound: float) -> dict:
    """`compare` plus a verdict for an end-to-end metric:

    - gain: at least MIN_PAIRS pairs, the head wins at least WIN_FRAC of
      them, and its median beats the base's by more than the base's IQR;
    - regression: the head's median is worse than the base's by more than
      `bound` (a fraction of the base median);
    - unresolved: otherwise, when either side's IQR is wider than `bound`
      of its median, unless every head run beats every base run;
    - no regression: otherwise.
    """
    c = compare(base, head, better)
    bmed, hmed = c["base_median"], c["head_median"]
    sign = 1 if better == "lower" else -1
    worse = sign * (hmed - bmed) / abs(bmed) if bmed else \
        (0.0 if hmed == bmed else sign * math.inf)
    spread = max(c["base_iqr"] / abs(bmed) if bmed else 0.0,
                 c["head_iqr"] / abs(hmed) if hmed else 0.0)
    if (c["pairs"] >= MIN_PAIRS and c["wins"] >= WIN_FRAC * c["pairs"]
            and _beats(hmed, bmed, better)
            and abs(hmed - bmed) > c["base_iqr"]):
        verdict = "gain"
    elif worse > bound:
        verdict = "regression"
    elif spread > bound and not all(_beats(h, b, better)
                                    for h in head for b in base):
        verdict = "unresolved"
    else:
        verdict = "no regression"
    c.update(worse_frac=worse, spread=spread, bound=bound, verdict=verdict)
    return c


def drifted(base_capacity: float, head_capacity: float) -> bool:
    """The two capacity probes of one pair differ by more than DRIFT."""
    lo, hi = sorted((base_capacity, head_capacity))
    return hi > lo * (1 + DRIFT)


def run_problem(run: dict) -> str | None:
    """Why a run invalidates the comparison, or None."""
    if "error" in run:
        return run["error"]
    r = run["result"]
    if not r.get("correct") or r.get("failed", 0) > 0:
        return f"correct={r.get('correct')} failed={r.get('failed')}"
    return None


# --------------------------------------------------------------- parity

def first_difference(base, head) -> tuple | None:
    """None when the two Arrow tables are equal, else (conv_id, turn_idx,
    column) of the first differing row, in row then column order. A schema
    or row-count difference names the column "schema" or "rows"."""
    if base.schema != head.schema:
        return None, None, "schema"
    if base.equals(head):
        return None
    n = min(base.num_rows, head.num_rows)
    first = (n, "rows") if base.num_rows != head.num_rows else None
    for name in base.column_names:
        b = base.column(name).slice(0, n).to_pylist()
        h = head.column(name).slice(0, n).to_pylist()
        i = next((i for i, (x, y) in enumerate(zip(b, h)) if x != y), None)
        if i is not None and (first is None or i < first[0]):
            first = (i, name)
    i, name = first
    keys = base if i < base.num_rows else head
    return (keys.column("conv_id")[i].as_py(),
            keys.column("turn_idx")[i].as_py(), name)


def parity(trees: dict[str, str]) -> dict:
    import pyarrow as pa

    from perfbench.inputs import TRANSCRIPT_SCHEMA, transcript_rows

    rows, planted = transcript_rows(PARITY_SEED, PARITY_ROWS)
    schema = pa.schema([f for f in TRANSCRIPT_SCHEMA if f.name != "ts"])
    src = pa.Table.from_pylist(rows, schema=schema)
    in_path = os.path.join(OUT_DIR, "parity-in.arrow")
    with pa.OSFile(in_path, "wb") as f, pa.ipc.new_file(f, schema) as w:
        w.write_table(src)
    tables = {}
    for side, tree in trees.items():
        out_path = os.path.join(OUT_DIR, f"parity-{side}.arrow")
        subprocess.run([sys.executable, "-c", _PARITY_BODY, in_path, out_path,
                        str(PARITY_BATCH)], cwd=tree, check=True,
                       timeout=RUN_TIMEOUT_S)
        tables[side] = pa.ipc.open_file(out_path).read_all()
    diff = first_difference(tables["base"], tables["head"])
    return {"rows": src.num_rows, "planted": len(planted),
            "identical": diff is None,
            "first_difference": diff and dict(zip(
                ("conv_id", "turn_idx", "column"), diff))}


# ------------------------------------------------------------------ runs

def git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, check=True,
                          capture_output=True, text=True).stdout.strip()


def checkout(sha: str) -> str:
    """A worktree at `sha`; a leftover one from a killed run is reused."""
    tree = os.path.join(REPO, f".ab_{sha[:12]}")
    if not os.path.isdir(tree):
        git("worktree", "prune")
        git("worktree", "add", "--detach", tree, sha)
    return tree


def bench_run(tree: str, workload: str, seed: int, seconds: float,
              trace: int) -> dict:
    """One perfbench run; its last two stdout lines are context and result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    try:
        p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            raise ValueError(f"exit {p.returncode}: {p.stderr[-2000:]}")
        context = json.loads(lines[-2])["context"]
        result = json.loads(lines[-1])
    except (ValueError, KeyError, subprocess.TimeoutExpired) as e:
        return {"error": f"{' '.join(cmd)} crashed: {e}"}
    return {"capacity_speedup": context.get("capacity_speedup"),
            "other_spark_jvms": context.get("other_spark_jvms"),
            "context": context, "result": result}


def pairs(trees: dict[str, str], workload: str, n: int, seconds: float,
          trace: int) -> tuple[list[dict], str | None]:
    """Run n interleaved pairs; stop at the first invalid run."""
    runs = []
    for seed in range(1, n + 1):
        order = ("base", "head") if seed % 2 else ("head", "base")
        for position, side in enumerate(order, start=1):
            for t in sorted({0, trace}):
                run = bench_run(trees[side], workload, seed, seconds, t)
                run.update(side=side, seed=seed, position=position, trace=t)
                runs.append(run)
                problem = run_problem(run)
                print(f"ab: pair {seed} {side} trace={t} capacity="
                      f"{run.get('capacity_speedup')} "
                      f"{problem or 'ok'}", file=sys.stderr, flush=True)
                if problem:
                    return runs, f"pair {seed} {side}: {problem}"
    return runs, None


def values(runs: list[dict], side: str, trace: int, name: str) -> list[float]:
    return [r["result"]["metrics"][name]["value"] for r in runs
            if r["side"] == side and r["trace"] == trace]


def report(runs: list[dict], spec: dict, trace: int) -> dict:
    out: dict = {"end_to_end": {}, "per_layer": {}, "pairs": []}
    for m in spec["end_to_end"]:
        out["end_to_end"][m["name"]] = judge(
            values(runs, "base", 0, m["name"]),
            values(runs, "head", 0, m["name"]), m["better"], m["bound"])
    if trace:
        for m in spec["per_layer"]:
            c = compare(values(runs, "base", 1, m["name"]),
                        values(runs, "head", 1, m["name"]), m["better"])
            out["per_layer"][m["name"]] = {
                k: c[k] for k in ("base_median", "head_median", "ratios",
                                  "wins", "losses", "pairs")}
    untraced = [r for r in runs if r["trace"] == 0]
    for seed in sorted({r["seed"] for r in untraced}):
        cap = {r["side"]: r["capacity_speedup"] for r in untraced
               if r["seed"] == seed}
        first = next(r["side"] for r in untraced
                     if r["seed"] == seed and r["position"] == 1)
        out["pairs"].append({"seed": seed, "first": first, "capacity": cap,
                             "drift": drifted(cap["base"], cap["head"])})
    return out


def _fmt(x) -> str:
    return "-" if x is None else f"{x:.4g}"


def print_report(rep: dict) -> None:
    for p in rep["pairs"]:
        print(f"pair {p['seed']:>2}  first {p['first']:<4}  capacity base "
              f"{p['capacity']['base']} head {p['capacity']['head']}"
              + ("  DRIFT" if p["drift"] else ""))
    print(f"{'metric':<32}{'base median (IQR)':>22}{'head median (IQR)':>22}"
          f"{'wins':>7}  verdict")
    for name, c in rep["end_to_end"].items():
        base = f"{_fmt(c['base_median'])} ({_fmt(c['base_iqr'])})"
        head = f"{_fmt(c['head_median'])} ({_fmt(c['head_iqr'])})"
        print(f"{name:<32}{base:>22}{head:>22}"
              f"{c['wins']:>4}/{c['pairs']}  {c['verdict']}")
        print("    ratios " + " ".join(_fmt(r) for r in c["ratios"]))
    if rep["per_layer"]:
        print(f"{'per-layer metric':<32}{'base median':>22}{'head median':>22}"
              f"{'wins':>7}  ratios")
    for name, c in rep["per_layer"].items():
        if c["base_median"] == c["head_median"] == 0:
            continue  # a layer this workload does not run
        print(f"{name:<32}{_fmt(c['base_median']):>22}"
              f"{_fmt(c['head_median']):>22}{c['wins']:>4}/{c['pairs']}  "
              + " ".join(_fmt(r) for r in c["ratios"]))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", required=True)
    p.add_argument("--head", required=True)
    p.add_argument("--workload", required=True,
                   choices=("extract_batch", "dedup_curate", "parity"))
    p.add_argument("--pairs", type=int, default=MIN_PAIRS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sha = {side: git("rev-parse", "--verify", f"{ref}^{{commit}}")
           for side, ref in (("base", args.base), ("head", args.head))}
    if subprocess.run(["git", "diff", "--quiet", sha["base"], sha["head"],
                       "--", "perfbench", "BENCHMARK.json"],
                      cwd=REPO).returncode != 0:
        print("ab: the refs differ in perfbench/ or BENCHMARK.json; their "
              "runs would be scored by different benchmarks", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from tools.quietbox import assert_quiet

    assert_quiet("ab")
    os.makedirs(OUT_DIR, exist_ok=True)
    record = {"base": args.base, "head": args.head, "sha": sha,
              "workload": args.workload, "started": time.strftime("%FT%T")}
    trees: dict[str, str] = {}
    try:
        for side, s in sha.items():
            trees[side] = checkout(s)
        if args.workload == "parity":
            record["parity"] = parity(trees)
            problem = None if record["parity"]["identical"] else \
                f"outputs differ at {record['parity']['first_difference']}"
        else:
            with open(os.path.join(trees["base"], "BENCHMARK.json")) as f:
                spec = json.load(f)
            runs, problem = pairs(trees, args.workload, args.pairs,
                                  spec["run_seconds"], args.trace)
            record["runs"] = runs
            if problem is None:
                record.update(report(runs, spec, args.trace))
    finally:
        for tree in set(trees.values()):
            git("worktree", "remove", "--force", tree)
    record["valid"] = problem is None
    record["invalid"] = problem
    path = os.path.join(OUT_DIR, f"{args.workload}-{sha['base'][:8]}-"
                        f"{sha['head'][:8]}-{time.strftime('%Y%m%d-%H%M%S')}"
                        ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    if args.workload == "parity":
        print(json.dumps(record["parity"]))
    elif problem is None:
        print_report(record)
    print(f"ab: {'INVALID: ' + problem if problem else 'valid'}; wrote {path}")
    return 1 if problem else 0


if __name__ == "__main__":
    sys.exit(main())
