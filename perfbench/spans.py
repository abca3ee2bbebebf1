"""Spans around the benchmark's calls into the engine, with Spark's own
counters attached.

A span records name, start, end and parent. When the tracer is enabled,
each span also takes the difference of Spark's status store (the JVM
``AppStatusStore``, which is kept with ``spark.ui.enabled=false``)
before and after: the stages and jobs that completed inside the span,
with their task counts, executor time, records and shuffle bytes.

Attribution is by time, not by job group: every stage that finishes
between a span's start and end belongs to it. Work that the engine
starts on its own driver threads (``_overlap``) does not inherit a job
group, but it does finish inside the caller's span, so it is counted.

Spans are kept in memory and written out once, by the caller, when the
run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Per-span counters read from the status store; all sums over the
# stages that completed inside the span.
STAGE_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "input_records",
    "shuffle_write_records",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "gc_s",
)
# Every span's counter set, in report order.
SPAN_COUNTERS = (
    "wall_s", "self_s", "jobs", "stages", "tasks", "tasks_failed", "executor_run_s",
    "executor_cpu_s", "executor_idle_s", "input_records", "shuffle_write_records",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s",
)

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its direct
    children cover (children that overlap each other count once)."""
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent in by_id and s.end is not None:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids[s.parent].append((lo, hi))
    return {s.id: s.wall_s - _union_length(kids[s.id]) for s in spans}


class StatusStore:
    """Reads completed stages and jobs from the status store of the
    active SparkContext. With no active context (a span around session
    start), the marks are (-1, -1), so everything the new context runs
    inside the span is counted."""

    @staticmethod
    def _context():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @staticmethod
    def _lists(sc):
        # Stage metrics reach the store through the asynchronous
        # listener bus; wait until it has delivered every event.
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        return stages, store.jobsList(jvm.java.util.ArrayList())

    def marks(self) -> tuple[int, int]:
        """(highest stage id, highest job id) known so far."""
        sc = self._context()
        if sc is None:
            return -1, -1
        stages, jobs = self._lists(sc)
        top_stage = stages.apply(0).stageId() if stages.size() else -1
        top_job = jobs.apply(0).jobId() if jobs.size() else -1
        return top_stage, top_job

    def since(self, marks: tuple[int, int]) -> tuple[dict, list[dict]]:
        """Counters summed over stages and jobs newer than ``marks``,
        and one detail row per stage, oldest first.

        Both lists come back newest first, so only new entries are
        read. Skipped stages (their shuffle output was reused) ran no
        tasks and are not counted."""
        stage_mark, job_mark = marks
        c = dict.fromkeys(STAGE_COUNTERS, 0)
        detail = []
        sc = self._context()
        if sc is None:
            return c, detail
        stages, jobs = self._lists(sc)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= stage_mark:
                break
            if s.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            c["tasks_failed"] += s.numFailedTasks()
            c["executor_run_s"] += s.executorRunTime() / 1e3
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["input_records"] += s.inputRecords()
            c["shuffle_write_records"] += s.shuffleWriteRecords()
            c["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            c["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            c["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
            c["gc_s"] += s.jvmGcTime() / 1e3
            detail.append({
                "stage": s.stageId(), "name": s.name(), "tasks": s.numTasks(),
                "executor_run_s": s.executorRunTime() / 1e3,
                "shuffle_write_records": s.shuffleWriteRecords(),
                "shuffle_read_records": s.shuffleReadRecords(),
            })
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= job_mark:
                break
            c["jobs"] += 1
        return c, detail[::-1]

    def storage_mb(self) -> float:
        """Memory plus disk held by cached and checkpointed RDD blocks."""
        infos = self._context()._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / _MB


class Tracer:
    """Records spans; with ``store`` set, attaches status-store counters.

    ``cores`` is the number of task slots, used for
    ``executor_idle_s = wall_s * cores - executor_run_s``: slot time that
    waited on the driver or the scheduler."""

    def __init__(self, store: StatusStore | None = None, cores: int = 1,
                 clock=time.perf_counter):
        self.store = store
        self.cores = cores
        self.clock = clock
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.store is not None

    @contextmanager
    def span(self, name: str, **attrs):
        marks = None
        if self.store is not None:
            t = self.clock()
            marks = self.store.marks()
            self.overhead_s += self.clock() - t
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, self.clock(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            if self.store is not None:
                t = self.clock()
                counters, sp.attrs["stages"] = self.store.since(marks)
                sp.counters.update(counters)
                self.overhead_s += self.clock() - t

    def finish(self) -> list[dict]:
        """Fills ``self_s`` and ``executor_idle_s``; returns plain dicts."""
        selfs = self_times(self.spans)
        out = []
        for sp in self.spans:
            c = {"wall_s": sp.wall_s, "self_s": selfs[sp.id]}
            if sp.counters:
                c.update(sp.counters)
                c["executor_idle_s"] = sp.wall_s * self.cores - sp.counters["executor_run_s"]
            out.append({
                "id": sp.id, "name": sp.name, "parent": sp.parent,
                "start": sp.start, "end": sp.end, "counters": c, "attrs": sp.attrs,
            })
        return out
