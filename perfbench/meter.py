"""Measurement from outside the program: process-tree CPU and memory from
/proc, spans around calls into each layer, and Spark's own stage and
executor counters for the jobs each span ran.

The Spark counters come from the application status store, which is
populated whether or not the UI runs: every span sets a job group, and on
exit the jobs of that group are looked up and their stages' metrics summed
(task time, GC, shuffle bytes and records, spill) or maxed (slowest task,
peak execution memory of one task).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in clock ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(rest[1]), sum(int(v) for v in rest[11:15]))
    return out


def _tree(root: int, table) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    found, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            found.append(pid)
            stack.extend(children[pid])
    return found


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM and its Python workers), reaped children included."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(root or os.getpid(), table)) / _CLK


def tree_pids(root: int | None = None) -> list[int]:
    table = _proc_table()
    return [p for p in _tree(root or os.getpid(), table) if p != (root or os.getpid())]


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM) in the tree."""
    total_kb = 0
    for pid in _tree(root or os.getpid(), _proc_table()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started. Both ends are read on the
    boot-time clock, which wall-clock adjustments do not move."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans (name, start, end, parent) with the Spark counters of the jobs
    each span ran."""

    COUNTERS = ("jobs", "task_s", "gc_s", "shuffle_mb", "shuffle_records",
                "spill_mb", "max_task_s", "peak_exec_mb")

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()
        self.overhead_s = 0.0  # time spent reading /proc and the status store

    @contextmanager
    def span(self, name: str, **attrs):
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic() - self._t0, **attrs}
        self.spans.append(rec)
        group = f"perfbench-{id(self)}-{sid}"
        sc.setJobGroup(group, name)
        self._stack.append(sid)
        t = time.monotonic()
        cpu0 = tree_cpu_s()
        self.overhead_s += time.monotonic() - t
        try:
            yield rec
        finally:
            t = time.monotonic()
            rec["end"] = t - self._t0
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            rec.update(self._counters(group))
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(f"perfbench-{id(self)}-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.monotonic() - t

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        quant = sc._gateway.new_array(sc._gateway.jvm.double, 1)
        quant[0] = 1.0
        c = dict.fromkeys(self.COUNTERS, 0.0)
        stages = set()
        for job in sc.statusTracker().getJobIdsForGroup(group):
            c["jobs"] += 1
            info = sc.statusTracker().getJobInfo(job)
            stages.update(info.stageIds if info else ())
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt in the store
                continue
            c["task_s"] += sd.executorRunTime() / 1000.0
            c["gc_s"] += sd.jvmGcTime() / 1000.0
            c["shuffle_mb"] += sd.shuffleWriteBytes() / 2**20
            c["shuffle_records"] += sd.shuffleWriteRecords()
            c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            if sd.numCompleteTasks() == 0:
                continue
            summary = store.taskSummary(sid, sd.attemptId(), quant)
            if summary.isDefined():
                d = summary.get()
                c["max_task_s"] = max(c["max_task_s"], d.executorRunTime().apply(0) / 1000.0)
                c["peak_exec_mb"] = max(c["peak_exec_mb"], d.peakExecutionMemory().apply(0) / 2**20)
        return c

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s, **extra}, f, indent=1)
