"""Spans and Spark counters, taken from outside the program.

`Tracer` records spans (name, start, end, parent) around the benchmark's
calls into each layer and keeps them in memory until `dump`.  A disabled
tracer records nothing, so the untimed code path is the same call with
no bookkeeping.

The Spark counters come from public driver-side handles:
- `SparkContext.statusTracker()` for the jobs of a job group, their
  stages and task counts;
- the driver's status store for the per-stage shuffle, spill and GC
  totals, which the status tracker does not carry;
- the executed plan's SQL metrics (`PythonSQLMetrics` on the
  ArrowEvalPython node) for Python worker time and bytes;
- `QueryExecution.tracker().phases()` for Catalyst phase times.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def dump(self, path) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {"id": i, "name": s.name, "start_s": s.start - t0, "end_s": s.end - t0, "parent": s.parent}
            for i, s in enumerate(self.spans)
        ]
        path.write_text(json.dumps(rows, indent=1))


@contextmanager
def job_group(sc, group: str):
    """Run the body's Spark jobs under `group`, then restore the caller's."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description") or ""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev_desc)


def job_counters(sc, groups: list[str]) -> dict[str, float]:
    """Jobs, stages run, tasks, failed tasks, shuffle write, spill and GC
    over every job of `groups`."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0}
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue  # skipped: its shuffle output was reused
        data = store.lastStageAttempt(sid)
        out["stages"] += 1
        out["tasks"] += info.numCompletedTasks + info.numFailedTasks
        out["failed_tasks"] += info.numFailedTasks
        out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
        out["gc_s"] += data.jvmGcTime() / 1000.0
    return out


def _plan_nodes(node):
    """Every node of an executed plan, through adaptive, query-stage and
    cached-relation wrappers."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
    elif cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
    elif cls == "InMemoryTableScanExec":
        yield from _plan_nodes(node.relation().cachedPlan())


def python_udf_metrics(df, udf_name: str) -> dict[str, float]:
    """PythonSQLMetrics of the ArrowEvalPython nodes that run `udf_name`,
    read from `df`'s executed plan after an action on `df`."""
    out = {"udf_s": 0.0, "bytes_sent": 0, "bytes_received": 0}
    plan = df._jdf.queryExecution().executedPlan()
    for node in _plan_nodes(plan):
        if node.nodeName() != "ArrowEvalPython" or udf_name not in node.toString():
            continue
        m = node.metrics()
        out["udf_s"] += m.apply("pythonTotalTime").value() / 1000.0
        out["bytes_sent"] += m.apply("pythonDataSent").value()
        out["bytes_received"] += m.apply("pythonDataReceived").value()
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds of `df`'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out
