"""Tracing from the benchmark's side of each layer boundary.

Spans are kept in memory (name, start, end, parent, operation id) and
written once when the run ends.  Job, stage and task counts are read from
Spark's status store through the operation's job group, right after the
operation and outside its span.  With tracing off, ``Tracer.span`` is a
no-op context manager and no job group is set.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, op: str | None = None,
            parent: int | None = None) -> None:
        """Record a span measured elsewhere (e.g. from a progress event)."""
        if self.enabled:
            with self._lock:
                self.spans.append({"id": next(self._ids), "name": name,
                                   "parent": parent, "op": op,
                                   "start": start, "end": end})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part covered by child spans."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union([(c["start"], c["end"]) for c in kids[s["id"]]])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group, False)


def job_stats(spark, group: str, wait_s: float = 2.0) -> dict:
    """Jobs, stages, tasks and executor time of one job group, from the
    status store.  Waits briefly for the listener bus to mark jobs done."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    deadline = time.time() + wait_s
    while True:
        jobs = []
        for j in sc.statusTracker().getJobIdsForGroup(group):
            try:
                jobs.append(store.job(j))
            except Py4JJavaError:  # not yet in the store
                jobs.append(None)
        done = all(j is not None and j.status().toString() != "RUNNING" for j in jobs)
        if done or time.time() > deadline:
            break
        time.sleep(0.02)
    jobs = [j for j in jobs if j is not None]
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "job_spans": []}
    for j in jobs:
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isDefined() and done.isDefined():
            out["job_spans"].append(
                (sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        seq = j.stageIds()
        for i in range(seq.size()):
            try:
                sd = store.lastStageAttempt(seq.apply(i))
            except Exception:  # evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def plan_phases_s(df) -> float:
    """Catalyst analysis + optimization + planning seconds of ``df``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        if o.isDefined():
            total += o.get().durationMs()
    return total / 1e3


def gap_s(wall: tuple[float, float], job_spans: list[tuple[float, float]]) -> float:
    """Wall seconds (epoch interval) not covered by any job of the operation."""
    a, b = wall
    clipped = [(max(a, s), min(b, e)) for s, e in job_spans if e > a and s < b]
    return max(0.0, (b - a) - _union(clipped))
