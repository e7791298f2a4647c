"""Spans, Spark job attribution and JVM/host probes, all from outside the
program.

A span wraps one call into a program layer. In a traced run each span
sets its own Spark job group, so the jobs and tasks a call caused are
counted from Spark's status tracker after the run. In an untraced run a
span only records start and end, so operation times carry no tracing cost.
The time the tracer spends setting job groups inside operations is kept,
so the traced run reports its own overhead inside operations.
"""

from __future__ import annotations

import os
import statistics
from contextlib import contextmanager
from dataclasses import dataclass
from time import perf_counter


@dataclass
class Span:
    op: int
    name: str
    start: float
    end: float
    group: str | None = None
    parent: str | None = None
    jobs: int = 0
    tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.op = -1
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(self.op, name, 0.0, 0.0, parent=parent.name if parent else None)
        if self.traced:
            t = perf_counter()
            s.group = f"oceanbench-{len(self.spans)}"
            self.spark.sparkContext.setJobGroup(s.group, name)
            self.overhead_s += perf_counter() - t
        self._stack.append(s)
        s.start = perf_counter()
        try:
            yield s
        finally:
            s.end = perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self.traced:
                t = perf_counter()
                sc = self.spark.sparkContext
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self.overhead_s += perf_counter() - t

    def resolve_jobs(self) -> None:
        """Count jobs and completed tasks per traced span (after the run,
        once Spark's listener bus has drained)."""
        if not self.traced:
            return
        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - best effort; counts may lag by one job
            pass
        tracker = sc.statusTracker()
        for s in self.spans:
            if s.group is None:
                continue
            ids = tracker.getJobIdsForGroup(s.group)
            s.jobs = len(ids)
            for j in ids:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    s.tasks += st.numCompletedTasks if st else 0

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def coverage(spans: list[Span], start: float, end: float) -> float:
    """Seconds of [start, end] covered by the union of top-level spans."""
    iv = sorted((max(s.start, start), min(s.end, end)) for s in spans
                if s.parent is None and s.end > start and s.start < end)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, sample count); (None, None, n) when there
    are fewer than 11 samples, since no percentile then qualifies."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None, None, n
    k = n - 11  # index of the sample with exactly 10 beyond it
    return xs[k], 100.0 * (k + 1) / n, n


# -- JVM and host probes --------------------------------------------------

class JvmProbe:
    def __init__(self, spark):
        jvm = spark._jvm
        self.mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self.mf.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def heap_pools(self):
        return [p for p in self.mf.getMemoryPoolMXBeans() if str(p.getType().name()) == "HEAP"]

    def reset_heap_peak(self) -> None:
        for p in self.heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.heap_pools()) / 2**20

    def rss_peak_mb(self) -> float:
        return _status_kb(self.pid, "VmHWM") / 1024.0


def _status_kb(pid: int, key: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return float(line.split()[1])
    raise KeyError(key)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return vals[7], sum(vals)


def host_facts() -> dict:
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gib": round(mem_kb / 2**20, 1)}
