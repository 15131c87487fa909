"""Spark's own SQL and stage metrics, read from outside through the status
REST API (`/api/v1/applications/<app>/sql` and `/stages`).

Jobs run one at a time, so the executions and stages of one job are the
ones whose ids lie past a `mark()` taken just before it.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

# plan nodes that run Python code (Arrow or pandas UDF bodies)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                "MapInPandas", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow")


def parse_value(text: str) -> float:
    """A formatted SQL metric value as a number in base units (bytes,
    seconds, count). Per-task metrics read `total (min, med, max ...)\\n<total>
    (<min>, ...)`: the total is the first value on the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkMetrics:
    """Reads one application's SQL and stage metrics."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        url = self._sc.uiWebUrl
        self._base = (f"{url}/api/v1/applications/{self._sc.applicationId}"
                      if url else None)

    def _get(self, path: str):
        if self._base is None:  # UI disabled: no metrics to read
            return []
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        # the status store is fed by the listener bus: let it catch up
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self._drain()
        execs = self._get("/sql?details=false&length=100000")
        stages = self._get("/stages")
        return (max((e["id"] for e in execs), default=-1),
                max((s["stageId"] for s in stages), default=-1))

    def since(self, mark: tuple[int, int]) -> "JobMetrics":
        self._drain()
        # an execution's node metrics are filled in once it is marked done,
        # which can trail the end of the action by a moment
        deadline = time.monotonic() + 10
        while True:
            execs = [e for e in self._get(
                "/sql?details=true&planDescription=false&length=100000")
                if e["id"] > mark[0]]
            if (all(e["status"] != "RUNNING" for e in execs)
                    or time.monotonic() > deadline):
                break
            time.sleep(0.1)
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] > mark[1]]
        return JobMetrics(self, execs, stages)

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"] if q else (0, 0)
        return top / med if med else 0.0


class JobMetrics:
    """The SQL executions and completed stages of one job."""

    def __init__(self, source: SparkMetrics, execs: list, stages: list):
        self._source = source
        self.execs = execs
        self.stages = stages

    def node_metric(self, names, metric: str) -> float:
        """Sum of `metric` over every plan node whose name starts with one
        of `names`, across the job's executions."""
        names = (names,) if isinstance(names, str) else tuple(names)
        return sum(parse_value(m["value"])
                   for e in self.execs for n in e["nodes"]
                   if n["nodeName"].startswith(names)
                   for m in n["metrics"] if m["name"] == metric)

    def stage_sum(self, field: str) -> float:
        return float(sum(s.get(field, 0) for s in self.stages))

    def max_task_skew(self) -> float:
        return max((self._source.task_skew(s) for s in self.stages),
                   default=0.0)

    def spark_layer(self) -> dict:
        return {
            "spark.stages": len(self.stages),
            "spark.tasks": self.stage_sum("numTasks"),
            "spark.gc_s": self.stage_sum("jvmGcTime") / 1e3,
            "spark.spill_bytes": (self.stage_sum("memoryBytesSpilled")
                                  + self.stage_sum("diskBytesSpilled")),
        }
