"""Spans and Spark counters for the traced run.

Spans are kept in memory: a name, a start and an end (wall-clock
seconds, comparable across the driver and its Python workers on one
host) and the span open when it began. A layer's self time is its
duration minus the part of that interval its child spans cover.

Calls made inside the program are traced by wrappers passed in as
``reader=`` or rebound on the program's module for the traced run only.
Wrappers that may run in Spark's Python workers report their spans back
through an accumulator.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.accumulators import AccumulatorParam


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    size: int = 0             # bytes the call read or wrote, where known


class _ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class TimedFile:
    """``fn(path, ...)`` that records (name, start, end, bytes) of each
    call into a Spark accumulator; picklable, so it runs on executors."""

    def __init__(self, fn, name: str, acc, size_arg: int = 0):
        self.fn, self.name, self.acc, self.size_arg = fn, name, acc, size_arg

    def __call__(self, *args, **kwargs):
        t0 = time.time()
        out = self.fn(*args, **kwargs)
        t1 = time.time()
        path = args[self.size_arg]
        size = os.path.getsize(path) if os.path.exists(path) else 0
        self.acc.add([(self.name, t0, t1, size)])
        return out


class Tracer:
    def __init__(self, spark):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._acc = self._sc.accumulator([], _ListParam())

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0,
                               self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()
            self._drain(idx)

    def file_call(self, fn, name: str, size_arg: int = 0) -> TimedFile:
        return TimedFile(fn, name, self._acc, size_arg)

    def _drain(self, parent: int) -> None:
        """Move spans reported through the accumulator under ``parent``."""
        for name, t0, t1, size in self._acc.value:
            self.spans.append(Span(name, t0, t1, parent, size))
        self._acc.value = []

    # --- reading the spans -------------------------------------------------

    def total(self, name: str, since: int = 0) -> float:
        return sum(s.end - s.start for s in self.spans[since:] if s.name == name)

    def bytes(self, name: str, since: int = 0) -> int:
        return sum(s.size for s in self.spans[since:] if s.name == name)

    def self_time(self, name: str, since: int = 0) -> float:
        out = 0.0
        for i in range(since, len(self.spans)):
            s = self.spans[i]
            if s.name != name:
                continue
            kids = sorted((max(c.start, s.start), min(c.end, s.end))
                          for c in self.spans[i + 1:] if c.parent == i)
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in kids:
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out += (s.end - s.start) - covered
        return out


class SparkCounter:
    """Jobs, stages, tasks and busy time of the Spark jobs in one job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._n = 0

    def start(self) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self._sc.setJobGroup(group, group)
        return group

    def stop(self, group: str) -> dict[str, float]:
        self._sc.setJobGroup("perfbench-idle", "perfbench-idle")
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        intervals = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
            data = store.job(j)
            sub, end = data.submissionTime(), data.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime() / 1e3, end.get().getTime() / 1e3))
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(intervals):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "action_s": busy}


def jvm_rss_mb(spark) -> float:
    """Resident memory of the session's JVM, from /proc."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
