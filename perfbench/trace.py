"""Spans and Spark status-store counters for the traced run.

A span records (name, start, end, parent, request id) around one layer call
made from the benchmark's own code. Every span runs its Spark jobs under a
job group of its own, so the jobs, stages, tasks, executor times, shuffle and
spill bytes it caused are read back from Spark's status store when it ends.
Spans stay in memory; `Tracer.dump` writes them as JSON at the end of a run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    request_id: int = 0
    counters: dict = field(default_factory=dict)
    group: str = ""
    job_ids: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def stage_counters(spark, job_ids: list[int]) -> dict:
    """Sums over the stages that ran for `job_ids` (skipped stages excluded),
    the length of the union of their run intervals, and the run interval of
    the stage that completed last (`last_stage_s`)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {k: 0.0 for k in _STAGE_FIELDS}
    out.update(jobs=len(job_ids), stages=0, tasks=0)
    intervals = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numCompleteTasks())
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += float(getattr(st, getter)()) * scale
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
    out["stage_union_s"] = _union_length(intervals)
    lo, hi = max(intervals, key=lambda iv: iv[1], default=(0.0, 0.0))
    out["last_stage_s"] = hi - lo
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def plan_nodes(df) -> list[tuple[str, dict]]:
    """(node name, SQL metrics) for every node of the executed physical plan
    of `df`, descending into AQE query stages. A Python node's metrics
    include `pythonNumRowsReceived`, the rows it got back from Python. Call
    after an action."""
    plan = df._jdf.queryExecution().executedPlan()
    out = []

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.finalPhysicalPlan())
            return
        if hasattr(node, "plan") and "QueryStage" in name:
            walk(node.plan())
            return
        metrics, values = node.metrics(), {}
        keys = metrics.keysIterator()
        while keys.hasNext():
            key = keys.next()
            values[key] = int(metrics.apply(key).value())
        out.append((name, values))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(plan)
    return out


class Tracer:
    """Records spans. `overhead_s` is the time the tracer itself spends
    between and after the layer calls (job groups, status-store reads)."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, request_id: int = 0):
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        group = f"perfbench-{self._seq}"
        sc.setJobGroup(group, name)
        s = Span(name, time.perf_counter(), parent=parent.name if parent else None,
                 request_id=request_id, group=group)
        self._stack.append(s)
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            # a parent's counters cover the jobs of its children too
            s.job_ids += list(sc.statusTracker().getJobIdsForGroup(group))
            s.counters = stage_counters(self.spark, s.job_ids)
            s.counters["sched_gap_s"] = max(
                0.0, s.wall_s - s.counters["stage_union_s"]
            )
            if parent is not None:
                parent.job_ids += s.job_ids
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)
            self.overhead_s += time.perf_counter() - s.end

    def overhead_ratio(self) -> float:
        """Tracer time over the wall time of the top-level spans."""
        top = sum(s.wall_s for s in self.spans if s.parent is None)
        return self.overhead_s / top if top else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
