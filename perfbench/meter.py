"""Measurement plumbing: spans, CPU and host-steal counters, JVM beans,
job counts, and the order statistics the report uses.

Spans are kept in memory and written out once, at exit. CPU is read
from ``/proc`` for the whole process tree under the benchmark (the
driver interpreter, the JVM it launches, and the JVM's Python workers),
so work moved between the driver and the executors still counts.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


# --- order statistics -------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def percentile_supported(xs: list[float], p: float) -> float | None:
    """The ``p``-th percentile, or None unless at least ten samples lie
    beyond it (a tail read from fewer samples is one sample's noise)."""
    if not xs or len(xs) * (1 - p / 100) < 10:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, int(round(p / 100 * (len(s) - 1))))]


# --- ambient counters from /proc ------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        kids.setdefault(int(fields[1]), []).append(int(entry.name))
    return kids


def _proc_cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` plus its reaped children's, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu_s(root_pid: int | None = None) -> float:
    """Core-seconds used so far by ``root_pid`` and every descendant."""
    root_pid = root_pid or os.getpid()
    kids = _children_map()
    total, stack = 0.0, [root_pid]
    while stack:
        pid = stack.pop()
        total += _proc_cpu_s(pid)
        stack.extend(kids.get(pid, []))
    return total


def compiler_threads_cpu_s(pid: int) -> dict[int, float]:
    """CPU seconds of each live JIT compiler thread of JVM ``pid``."""
    out = {}
    for entry in os.scandir(f"/proc/{pid}/task"):
        try:
            with open(f"{entry.path}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if head.split("(", 1)[1].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = rest.split()
            out[int(entry.name)] = (int(fields[11]) + int(fields[12])) / _TICK
    return out


def host_cpu_s() -> tuple[float, float]:
    """Machine-wide (busy, stolen) CPU seconds so far, over all CPUs.
    Steal is time a runnable virtual CPU waited for the hypervisor."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


# --- JVM management beans over the Py4J gateway ----------------------------


class Jvm:
    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def pid(self) -> int:
        return int(self._mf.getRuntimeMXBean().getPid())

    def heap_peak_bytes(self) -> int:
        return sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
        )


class Counters:
    """A snapshot of every cumulative counter; ``delta`` subtracts two.

    ``jit_cpu_s`` is the CPU the JVM's compiler threads used between two
    snapshots; a compiler thread that exits in between loses only what
    it used since the earlier snapshot."""

    KEYS = ("wall_s", "cpu_s", "jit_cpu_s", "busy_s", "steal_s", "jit_s", "gc_s")

    def __init__(self, jvm: Jvm):
        self.jvm = jvm
        self.jvm_pid = jvm.pid()

    def read(self) -> dict:
        busy, steal = host_cpu_s()
        return {
            "wall_s": time.perf_counter(),
            "cpu_s": tree_cpu_s(),
            "jit_threads": compiler_threads_cpu_s(self.jvm_pid),
            "busy_s": busy,
            "steal_s": steal,
            "jit_s": self.jvm.jit_s(),
            "gc_s": self.jvm.gc_s(),
        }

    @staticmethod
    def delta(a: dict, b: dict) -> dict[str, float]:
        out = {k: b[k] - a[k] for k in Counters.KEYS if k != "jit_cpu_s"}
        ta, tb = a["jit_threads"], b["jit_threads"]
        out["jit_cpu_s"] = sum(v - ta.get(tid, 0.0) for tid, v in tb.items())
        return out

    @staticmethod
    def total(deltas: list[dict[str, float]]) -> dict[str, float]:
        return {k: sum(d[k] for d in deltas) for k in Counters.KEYS}


# --- job accounting per op -------------------------------------------------


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numTasks > 0:
                stages += 1
                tasks += stage.numTasks
    return jobs, stages, tasks


# --- spans -----------------------------------------------------------------


class Tracer:
    """Records (name, start, end, parent, op) spans when enabled; a
    disabled tracer costs one attribute test per call."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def totals(self, prefix: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None and s["name"].startswith(prefix):
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))
