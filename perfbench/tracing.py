"""Spans, counters and Spark/process probes for the traced run.

Spark evaluates lazily: a span around a layer's public call only times
plan building. The traced run therefore forces each layer boundary's
DataFrame through the ``noop`` sink (every column computed, nothing
moved to the driver) and attributes a layer's execution time as the
difference between its boundary and the boundary before it.

Jobs and tasks come from ``SparkContext.statusTracker()``, which works
with the UI off; memory comes from ``/proc``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def noop_write(df: DataFrame) -> tuple[float, int]:
    """Compute every column of ``df`` into the ``noop`` sink; returns
    (wall seconds, rows). The row count rides an ``Observation`` on the
    same job, so counting adds no Spark job."""
    obs = Observation()
    t0 = time.perf_counter()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    seconds = time.perf_counter() - t0
    return seconds, int(obs.get["rows"])


@dataclass
class Span:
    name: str
    start: float
    end: float


@dataclass
class Tracer:
    """In-memory spans and counters; read out when the run ends."""

    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.perf_counter()))

    def seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def last(self, name: str) -> float:
        """Seconds of the latest span named ``name``."""
        s = next(s for s in reversed(self.spans) if s.name == name)
        return s.end - s.start

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def noop(self, name: str, df: DataFrame) -> int:
        """Span ``name`` around a noop materialisation; returns rows."""
        with self.span(name):
            _, rows = noop_write(df)
        return rows


class JobCounter:
    """Spark jobs and completed tasks started since construction.

    Job ids are sequential and every job here runs without a job group,
    so the jobs of an interval are the ungrouped ids above the last id
    seen before it."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        self._floor = max(self._tracker.getJobIdsForGroup(None), default=-1)

    def jobs_and_tasks(self) -> tuple[int, int]:
        jobs = [j for j in self._tracker.getJobIdsForGroup(None) if j > self._floor]
        stages = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = self._tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), tasks


class StealMeter:
    """Share of CPU time the hypervisor gave to other guests since
    construction, from ``/proc/stat``. On a shared host it tells a
    disturbed run from a slow one."""

    def __init__(self):
        self._start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def fraction(self) -> float:
        delta = [b - a for a, b in zip(self._start, self._read())]
        total = sum(delta[:8])
        return delta[7] / total if total else 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def _tree() -> list[int]:
    """This process and every live descendant (the Spark JVM and its
    Python workers)."""
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes of this process and every live
    descendant."""
    return sum(_vm_hwm_kb(p) for p in _tree()) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and its live descendants,
    with the reaped children of each (a Python worker that exits is
    counted by the daemon that forked it). The kernel leaves out the
    time the hypervisor gave to other guests (steal)."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK
