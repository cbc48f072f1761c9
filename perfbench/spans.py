"""Span recorder and Spark job attribution for the traced run.

A span has a name, start, end, parent and trace id. Spans live in memory
and are written out once, at the end of the run. While a span is open its
id is the Spark job group of the calling thread, so every job the call
submits — with its stages, tasks and shuffle bytes — can be tied back to
the span from the JVM status store after the run.

With tracing off, ``span()`` still times the block (the workloads need the
wall time either way) but records nothing and touches no Spark state."""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

from stats import percentile


class Span:
    __slots__ = ("name", "span_id", "parent", "trace_id", "start", "end", "attrs")

    def __init__(self, name, span_id, parent, trace_id, start):
        self.name = name
        self.span_id = span_id
        self.parent = parent
        self.trace_id = trace_id
        self.start = start
        self.end = None
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def self_time(span: Span, children: list) -> float:
    """Span duration minus the part of its interval its children cover.
    Children may overlap each other and may stick out of the parent; only
    the union of their intervals clipped to the parent counts."""
    lo, hi = span.start, span.end
    ivs = sorted(
        (max(c.start, lo), min(c.end, hi)) for c in children
        if c.end is not None and c.end > lo and c.start < hi
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


class Timer:
    """What ``Tracer.span`` yields: the block's wall time once it ends."""

    __slots__ = ("start", "end", "span")

    def __init__(self, span=None):
        self.start = time.perf_counter()
        self.end = None
        self.span = span

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.spark = None  # set when a session exists; job groups need it

    def _set_group(self, span: "Span | None") -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None if span is None else span.span_id)
        sc.setLocalProperty(
            "spark.job.description", None if span is None else span.name)

    @contextmanager
    def span(self, name: str):
        timer = Timer()
        if not self.enabled:
            try:
                yield timer
            finally:
                timer.end = time.perf_counter()
            return
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        sp = Span(name, f"pb{self._next}", parent.span_id if parent else None,
                  self.trace_id, self.clock())
        timer.span = sp
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield timer
        finally:
            sp.end = self.clock()
            timer.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            d = s.as_dict()
            d["self_s"] = self_time(s, self.children(s)) if s.end is not None else None
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": rows}, f, indent=1,
                      default=str)


class SparkCounters:
    """Job, stage and task counters from the JVM status store — the store
    behind Spark's UI and REST API, present with the UI disabled. Jobs are
    matched to spans through their job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm = sc._jvm
        self._gw = sc._gateway

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        """Every job the store still holds: id, group, stage ids, tasks."""
        self._drain()
        seq = self._store.jobsList(self._jvm.java.util.ArrayList())
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            grp = j.jobGroup()
            stages = j.stageIds()
            out.append({
                "job_id": j.jobId(),
                "group": grp.get() if grp.isDefined() else None,
                "stages": [stages.apply(k) for k in range(stages.size())],
                "tasks": j.numCompletedTasks(),
                "tasks_failed": j.numFailedTasks(),
            })
        return out

    def stages(self) -> dict:
        """stage id → shuffle/output bytes, tasks and per-task run times."""
        self._drain()
        seq = self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        out = {}
        for i in range(seq.size()):
            sd = seq.apply(i)
            out[sd.stageId()] = {
                "attempt": sd.attemptId(),
                "shuffle_bytes": sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                "output_bytes": sd.outputBytes(),
                "tasks": sd.numCompleteTasks(),
                "tasks_failed": sd.numFailedTasks(),
            }
        return out

    def task_seconds(self, stage_id: int, attempt: int) -> list[float]:
        seq = self._store.taskList(stage_id, attempt, 1 << 30)
        out = []
        for i in range(seq.size()):
            d = seq.apply(i).duration()
            if d.isDefined():
                out.append(d.get() / 1000.0)
        return out

    def storage_mb(self) -> float:
        """Memory plus disk held by cached and checkpointed blocks."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / (1 << 20)


def attribute(tracer: Tracer, counters: SparkCounters) -> None:
    """Attach Spark counters to every span: its own jobs (``self_*``) and
    those of its whole subtree (``jobs``, ``stages``, ``tasks``,
    ``tasks_failed``, ``shuffle_bytes``, ``output_bytes``, and the task
    run times of its busiest stage, ``task_p50_s``/``task_max_s``)."""
    jobs = counters.jobs()
    stages = counters.stages()
    by_group: dict = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    cache: dict = {}

    def task_secs(sid: int) -> list:
        if sid not in cache:
            cache[sid] = counters.task_seconds(sid, stages[sid]["attempt"])
        return cache[sid]

    for sp in tracer.spans:
        mine = by_group.get(sp.span_id, [])
        sp.attrs["self_jobs"] = len(mine)
    for sp in tracer.spans:
        js = [j for s in tracer.subtree(sp) for j in by_group.get(s.span_id, [])]
        sids = sorted({s for j in js for s in j["stages"] if s in stages})
        sp.attrs["jobs"] = len(js)
        sp.attrs["stages"] = len(sids)
        sp.attrs["tasks"] = sum(stages[s]["tasks"] for s in sids)
        sp.attrs["tasks_failed"] = sum(stages[s]["tasks_failed"] for s in sids)
        sp.attrs["shuffle_bytes"] = sum(stages[s]["shuffle_bytes"] for s in sids)
        sp.attrs["output_bytes"] = sum(stages[s]["output_bytes"] for s in sids)
        # the busiest stage (most task time) is where a hot key straggles
        secs = max((task_secs(s) for s in sids), key=sum, default=[])
        sp.attrs["task_p50_s"] = percentile(secs, 50)
        sp.attrs["task_max_s"] = max(secs, default=0.0)
