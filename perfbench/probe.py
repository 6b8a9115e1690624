"""Measurement probes: process-tree CPU and peak memory from ``/proc``, and Spark
work counters from the driver's status store.

``Tracer`` wraps each call into a layer. It tags the call's jobs with
``sc.setJobGroup`` and, right after the call returns, reads every job the
call started from ``sparkContext._jsc.sc().statusStore()``: the store keeps
only ``spark.ui.retainedStages`` stages, so reading late loses the stages of
long iterative queries. Jobs are attributed by id range, not by group, so
jobs submitted from helper threads (which do not inherit the group) still
count. Stages that were skipped (their shuffle output was reused) are counted
apart from those that ran; stages already evicted are counted as ``evicted``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
COUNTERS = (
    "jobs", "stages_skipped", "stages_evicted", "executor_cpu_s", "gc_s",
    "input_rows", "shuffle_write_bytes", "spill_bytes",
)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and all its live descendants,
    plus what it has reaped from exited children."""
    root = os.getpid()
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] are utime, stime, cutime, cstime (stat fields 14-17)
        total += int(fields[11]) + int(fields[12])
        if pid == root:
            total += int(fields[13]) + int(fields[14])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over this process and its live descendants of each process's peak
    resident set size (``VmHWM``, tracked by the kernel since exec)."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total_kb / 1024


def _interval_union_s(intervals: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for start, stop in sorted(intervals):
        if stop <= end:
            continue
        covered += stop - max(start, end)
        end = stop
    return covered


class Tracer:
    """Per-layer spans with Spark work counters. With ``enabled=False`` a
    span only times its call, so untraced runs pay nothing for tracing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: dict[str, dict[str, float]] = {}
        if enabled:
            self._jsc = self.sc._jsc.sc()
            self._store = self._jsc.statusStore()
            self._last_job = self._max_job_id()
            self._seen_stages: set[int] = set()

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    @contextmanager
    def span(self, name: str):
        """Time the enclosed call as layer ``name``; record its counters
        into ``self.spans[name]`` when tracing."""
        if self.enabled:
            self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            rec = {"wall_s": t1 - t0}
            if self.enabled:
                self.sc._jsc.clearJobGroup()
                rec.update(self._harvest(t0, t1))
            self.spans[name] = rec

    def _harvest(self, t0: float, t1: float) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        rec = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        jobs = self._store.jobsList(None)
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                continue
            newest = max(newest, job.jobId())
            rec["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                stop = done.get().getTime() / 1000 if done.isDefined() else t1
                intervals.append((max(sub.get().getTime() / 1000, t0), min(stop, t1)))
            ids = job.stageIds()
            for k in range(ids.size()):
                self._add_stage(rec, ids.apply(k))
        self._last_job = newest
        rec["driver_s"] = max(0.0, (t1 - t0) - _interval_union_s(intervals))
        return rec

    def _add_stage(self, rec: dict[str, float], stage_id: int) -> None:
        # a job that reuses another job's shuffle lists that stage again
        if stage_id in self._seen_stages:
            rec["stages_skipped"] += 1
            return
        self._seen_stages.add(stage_id)
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError as exc:
            if "NoSuchElementException" not in str(exc.java_exception):
                raise
            rec["stages_evicted"] += 1
            return
        if st.status().toString() == "SKIPPED":
            rec["stages_skipped"] += 1
            return
        rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
        rec["gc_s"] += st.jvmGcTime() / 1e3
        rec["input_rows"] += st.inputRecords()
        rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
        rec["spill_bytes"] += st.diskBytesSpilled()
