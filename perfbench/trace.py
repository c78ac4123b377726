"""Spans around calls into the engine's layers, with Spark's counters.

A span records its name, start, end, parent span and op id.  Each span
runs its Spark jobs under a job group of its own; when the run ends the
collector reads every group's jobs and stages from the status store
(``statusTracker().getJobIdsForGroup`` → ``getJobInfo(j).stageIds`` →
``statusStore().lastStageAttempt(sid)``) and folds the stage counters into
the span.  Spans and counters stay in memory until :meth:`Tracer.dump`.

With tracing off, :meth:`Tracer.span` only yields, so the untraced run
pays no job-group or status-store cost.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_records", "tasks", "jobs",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []  # one JSON line each in the dump
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "op": op_id if op_id is not None else (parent["op"] if parent else None),
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"perfbench-{s['id']}", name)
        s["start"] = time.perf_counter() - self._t0
        try:
            yield s
        finally:
            s["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def collect(self) -> None:
        """Fold status-store counters into every span (own jobs only, then
        children into parents).  Tolerates skipped stages (all-zero
        counters) and stages still running or evicted (counted as far as
        the store has them, or not at all)."""
        if not self.enabled:
            return
        for s in self.spans:
            s["own"], s["task_ms"] = group_counters(
                self.sc, f"perfbench-{s['id']}", tasks=True
            )
        for s in self.spans:
            s["total"] = dict(s["own"])
        for s in reversed(self.spans):  # children were opened after parents
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                for k in COUNTERS:
                    p["total"][k] += s["total"][k]
                p["task_ms"].update(s["task_ms"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- queries over the collected spans -----------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    @staticmethod
    def wall(s: dict) -> float:
        return s["end"] - s["start"]


def group_counters(sc, group: str, tasks: bool = False):
    """Stage counters summed over the jobs of one job group, plus (with
    ``tasks``) each stage's task run times in ms.  Stages are de-duplicated
    across jobs; a skipped stage adds zeros, a stage the store never saw or
    already evicted adds nothing."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    own = dict.fromkeys(COUNTERS, 0)
    own["jobs"] = len(jobs)
    task_ms: dict[int, list[int]] = {}
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        own["executor_run_s"] += sd.executorRunTime() / 1e3
        own["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        own["shuffle_read_bytes"] += sd.shuffleReadBytes()
        own["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        own["input_records"] += sd.inputRecords()
        if sd.status().toString() != "SKIPPED":
            own["tasks"] += sd.numTasks()
        if tasks:
            task_ms[sid] = _task_run_ms(store, sid, sd.attemptId())
    return own, task_ms


def _task_run_ms(store, sid: int, attempt: int) -> list[int]:
    tl = store.taskList(sid, attempt, 1 << 20)
    out = []
    for i in range(tl.size()):
        m = tl.apply(i).taskMetrics()
        if m.isDefined():
            out.append(int(m.get().executorRunTime()))
    return out


def task_skew(s: dict) -> float:
    """Max over median task run time in the widest stage of the span and
    its children."""
    stages = [t for t in s["task_ms"].values() if t]
    if not stages:
        return 0.0
    widest = max(stages, key=len)
    med = statistics.median(widest)
    return max(widest) / med if med else 0.0


def idle_core_s(s: dict, cores: int) -> float:
    """Cores × wall − executor run time: core-seconds the span left idle."""
    return max(0.0, cores * Tracer.wall(s) - s["total"]["executor_run_s"])
