"""Process-tree accounting from /proc and the run-context probes.

CPU is counted over this process and every descendant (the Spark JVM and
its Python daemon and workers): utime+stime of each live process plus
cutime+cstime, which holds the CPU of children it has already reaped.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """`root` and every live descendant of it."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds consumed so far by this process tree."""
    ticks = 0
    for pid in descendants():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 (utime stime cutime cstime), 0-based 11..14 here
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident memory (VmHWM) in MiB of the Spark JVM and of the
    largest Python worker in this process tree. The JVM's figure swings by
    a fifth from run to run with GC timing; the workers' holds steady."""
    jvm = py = 0
    for pid in descendants():
        cmd = _cmdline(pid)
        if "java" in cmd.split(" ", 1)[0]:
            jvm = max(jvm, _hwm_kb(pid))
        elif "pyspark" in cmd:
            py = max(py, _hwm_kb(pid))
    return jvm / 1024, py / 1024


def other_spark_jvms() -> int:
    """Live Spark JVMs on this host that this process did not start."""
    mine = set(descendants())
    return sum(1 for name in os.listdir("/proc")
               if name.isdigit() and int(name) not in mine
               and "org.apache.spark" in _cmdline(int(name)))


_BURN = """
import sys, time
start_at, seconds = float(sys.argv[1]), float(sys.argv[2])
time.sleep(max(0.0, start_at - time.time()))
end = time.perf_counter() + seconds
n = 0
while time.perf_counter() < end:
    for _ in range(10_000):
        n += 1
print(n)
"""


def capacity(n: int, seconds: float = 0.25) -> float:
    """Pure-CPU loop iterations per second summed over `n` processes that
    start burning at the same instant."""
    start_at = time.time() + 0.5  # room for the interpreters to start
    procs = [subprocess.Popen(
        [sys.executable, "-c", _BURN, repr(start_at), repr(seconds)],
        stdout=subprocess.PIPE, text=True) for _ in range(n)]
    counts = [int(p.communicate(timeout=60)[0]) for p in procs]
    return sum(counts) / seconds


def source_id(root: str) -> str:
    """The git commit when `root` is a checkout with git metadata, else a
    digest of the program's source files (the benchmark may run from a
    plain export of the tree)."""
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            if sha.returncode == 0:
                return sha.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    h = hashlib.sha1()
    pkg = os.path.join(root, "glm_ocr_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src-" + h.hexdigest()[:12]


def run_context(root: str, seed: int) -> dict:
    """Recorded next to every result, as context, not as metrics."""
    n = os.cpu_count() or 1
    one, all_ = capacity(1), capacity(n)
    return {
        "nproc": n,
        "capacity_1": round(one),
        "capacity_nproc": round(all_),
        "capacity_speedup": round(all_ / one, 3),
        "other_spark_jvms": other_spark_jvms(),
        "source": source_id(root),
        "seed": seed,
    }
