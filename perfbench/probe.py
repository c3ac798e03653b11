"""Outside-in probes: read what a layer did through Spark's public
handles, without instrumenting the program.

- ``Spans`` keeps trace spans in memory and derives self time.
- ``job_counts`` counts the jobs, stages and tasks a job group ran.
- ``plan_phases`` reads Catalyst's phase times from a DataFrame's
  ``QueryExecution``.
- ``plan_metrics`` walks the AQE final plan (through the query
  stages) and sums its SQL metrics.
- ``held_storage`` reports the persisted RDD blocks still held.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

PHASES = ("analysis", "optimization", "planning")
# SQL metric name -> per-layer metric it feeds. Names as Spark 4.1
# registers them on FileSourceScanExec, ShuffleExchangeExec,
# BroadcastExchangeExec, SortExec and the aggregate operators.
SUM_METRICS = {
    "filesSize": "scan_bytes",
    "shuffleBytesWritten": "shuffle_write_bytes",
    "spillSize": "spill_bytes",
}
PLAN_KEYS = (
    "scans",
    "exchanges",
    "scan_bytes",
    "shuffle_write_bytes",
    "broadcast_bytes",
    "spill_bytes",
    "peak_mem_bytes",
)


@dataclass
class Spans:
    """Trace spans kept in memory; written out once, at the end."""

    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def open(self, name: str, op: int | None) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "op": op,
                "parent": parent,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(sid)
        return sid

    def open_ids(self) -> list[int]:
        return list(self._stack)

    def close(self, sid: int) -> float:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        self._stack.remove(sid)
        return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children of one span never overlap: the loop is single-threaded)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under ``group``; stages skipped
    because their shuffle output was reused count as no tasks."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded by the DataFrame's own
    ``QueryPlanningTracker``; a phase it never ran reads 0."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0
        for p in PHASES
    }


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return []  # its exchange ran once, under the original node
    kids = node.children()
    return [kids.apply(i) for i in range(kids.length())]


# One entry of a Scala ``Map[String, SQLMetric]``'s toString:
# ``key -> SQLMetric(id: 12, name: Some(...), value: 345)``. Reading
# the whole map as one string costs one Py4J call per plan node instead
# of several per metric.
_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^)]*\)?, value: (-?\d+)\)")


def plan_metrics(df) -> dict[str, float]:
    """Scan and exchange counts plus summed SQL metrics of the
    executed (AQE final) plan of ``df``. Call only after its action
    ran and while ``df`` is still referenced: Spark drops the metric
    accumulators of a plan that was garbage-collected."""
    out = dict.fromkeys(PLAN_KEYS, 0.0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name in ("FileSourceScanExec", "BatchScanExec"):
            out["scans"] += 1
        if name in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            out["exchanges"] += 1
        for key, raw in _METRIC.findall(node.metrics().toString()):
            value = float(raw)
            if key in SUM_METRICS:
                out[SUM_METRICS[key]] += value
            elif key == "dataSize" and name == "BroadcastExchangeExec":
                out["broadcast_bytes"] += value
            elif key == "peakMemory":
                out["peak_mem_bytes"] = max(out["peak_mem_bytes"], value)
        stack.extend(_children(node))
    return out


def held_storage(spark) -> tuple[int, float]:
    """(cached blocks, MiB in memory plus on disk) over every
    persisted RDD the session still holds."""
    blocks, size = 0, 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size / 2**20
