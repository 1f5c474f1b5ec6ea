"""Spans and Spark counters recorded from outside the engine.

A span wraps one call into a layer. While it is open, every Spark job the
call starts carries the span's job group, so after the run each span's
jobs, stages, tasks, shuffle bytes, spill and executor CPU can be read
from ``statusTracker`` and the status store (both work with the UI
disabled). Spans stay in memory until the run ends.

With tracing off, ``span`` only records the span's start and end, which
the end-to-end per-query percentile needs; no job group is set.
"""

from __future__ import annotations

import gc
import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_mb", "spill_mb",
            "executor_cpu_s", "input_mb")


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: dict[int, Span] = {}
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.op = -1

    @contextmanager
    def span(self, name: str):
        """Time a layer call. When enabled, also tag its Spark jobs with the
        span's job group."""
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, self.op, parent, time.perf_counter())
        self.spans[s.sid] = s
        if parent is not None:
            self.spans[parent].children.append(s.sid)
        self._stack.append(s.sid)
        tagged = self.enabled
        if tagged:
            self.sc.setJobGroup(f"perfbench-{s.sid}", name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if tagged:
                outer = self._stack[-1] if self._stack else 0
                self.sc.setJobGroup(f"perfbench-{outer}", "outside any span")

    @contextmanager
    def aside(self):
        """Run the benchmark's own Spark work under a job group that no
        span owns, so it never counts towards a layer."""
        self.sc.setJobGroup("perfbench-aside", "benchmark measurement, not the program")
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-0", "outside any span")

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its children cover (children of
        one span run one after another, so their durations add up)."""
        return s.duration - sum(self.spans[c].duration for c in s.children)

    def collect_counters(self) -> None:
        """Read each span's own Spark counters (jobs started while it was
        the innermost open span)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans.values():
            c = dict.fromkeys(COUNTERS, 0.0)
            jobs = tracker.getJobIdsForGroup(f"perfbench-{s.sid}")
            c["jobs"] = len(jobs)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - skipped stages have no attempt
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["failed_tasks"] += st.numFailedTasks()
                    c["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
                    c["spill_mb"] += st.diskBytesSpilled() / 2**20
                    c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["input_mb"] += st.inputBytes() / 2**20
            s.counters = c

    def inclusive(self, s: Span, key: str) -> float:
        return s.counters.get(key, 0.0) + sum(
            self.inclusive(self.spans[c], key) for c in s.children)

    def per_op(self, ops: list[int]) -> dict[int, dict]:
        """For each op: {span name: {"self_s", "total_s", counters...}},
        summed over the op's spans of that name; counters are inclusive of
        child spans."""
        out: dict[int, dict] = {op: {} for op in ops}
        for s in self.spans.values():
            if s.op not in out:
                continue
            row = out[s.op].setdefault(s.name, dict.fromkeys(("self_s", "total_s") + COUNTERS, 0.0))
            row["self_s"] += self.self_time(s)
            row["total_s"] += s.duration
            for k in COUNTERS:
                row[k] += self.inclusive(s, k)
        return out


# ---------------------------------------------------------------------------
# process probes
# ---------------------------------------------------------------------------
def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_status_mb(pid: int | str, key: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class JvmProbe:
    """CPU, GC time and heap of the driver JVM, read through py4j."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self._mf = self.jvm.java.lang.management.ManagementFactory

    def cpu_s(self) -> float:
        """JVM plus this Python process, user and system CPU."""
        return proc_cpu_s(self.pid) + time.process_time()

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def heap_after_gc_mb(self, rounds: int = 5) -> list[float]:
        """Heap in use after each of ``rounds`` full JVM collections. The pauses
        let Spark's ContextCleaner drop the shuffle and broadcast state
        that a collection made unreachable; the last reading is the
        smallest unless something still allocates."""
        gc.collect()   # Python cycles can hold py4j handles to JVM objects
        rt = self.jvm.java.lang.Runtime.getRuntime()
        out = []
        for _ in range(rounds):
            self.jvm.java.lang.System.gc()
            time.sleep(0.4)
            out.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        return out

    def peak_rss_mb(self) -> float:
        return proc_status_mb(self.pid, "VmHWM")
