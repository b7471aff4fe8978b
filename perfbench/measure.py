"""Measurement helpers: process-tree CPU and memory from ``/proc``, JVM
MXBean counters, Spark job counts by job group, and the percentile
rules used in the report.

Everything here is read at phase boundaries (before and after the
timed phase, between ops), never from a sampling thread.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int, float, float] | None:
    """``(ppid, starttime, own_s, children_s)`` of ``pid`` from
    ``/proc/<pid>/stat``: own is utime+stime, children is cutime+cstime
    (fields 14-17). None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    rest = raw[raw.rindex(")") + 2:].split()
    own = (int(rest[11]) + int(rest[12])) / _CLK_TCK
    children = (int(rest[13]) + int(rest[14])) / _CLK_TCK
    return int(rest[1]), int(rest[19]), own, children


def _all_stats() -> dict[int, tuple[int, int, float, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, stats: dict) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


@dataclass
class TreeCpu:
    """Monotonic CPU seconds of a process tree.

    Each read sums utime+stime+cutime+cstime over the live tree. A
    process that exits leaves that sum: a parent that waits for it
    absorbs its time into cutime+cstime, but Spark's Python worker
    daemon ignores SIGCHLD, so the kernel reaps its workers and their
    time would vanish. The counter therefore remembers every process's
    last reading and, when one disappears, keeps whatever part of it
    the parent's cutime+cstime did not absorb. Processes are keyed by
    ``(pid, starttime)`` so a recycled pid counts as a new process.

    ``jvm_pid`` splits the total three ways: the JVM's own threads
    (``jvm``), every process below the JVM, i.e. the Python workers and
    their daemon (``pyworker``), and the rest of the tree, i.e. the
    Python driver (``driver``).
    """

    root: int
    jvm_pid: int | None = None
    _last: dict = field(default_factory=dict)  # (pid, start) -> (ppid, own+children, group)
    _children_s: dict = field(default_factory=dict)  # pid -> cutime+cstime at last read
    _gone: dict = field(default_factory=lambda: {"jvm": 0.0, "pyworker": 0.0, "driver": 0.0})

    def read(self) -> dict[str, float]:
        stats = _all_stats()
        tree = descendants(self.root, stats)
        below_jvm = set(descendants(self.jvm_pid, stats)) if self.jvm_pid else set()
        live: dict = {}
        for pid in tree:
            ppid, start, own, children = stats[pid]
            if pid == self.jvm_pid:
                group = "jvm"
            elif pid in below_jvm:
                group = "pyworker"
            else:
                group = "driver"
            live[(pid, start)] = (ppid, own + children, group)
        # what each parent absorbed from reaped children since the last read
        absorbed = {
            pid: stats[pid][3] - self._children_s.get(pid, stats[pid][3]) for pid in tree
        }
        for key, (ppid, cpu, group) in self._last.items():
            if key in live:
                continue
            take = min(max(absorbed.get(ppid, 0.0), 0.0), cpu)
            absorbed[ppid] = absorbed.get(ppid, 0.0) - take
            self._gone[group] += cpu - take
        self._last = live
        self._children_s = {pid: stats[pid][3] for pid in tree}
        out = dict(self._gone)
        for _, cpu, group in live.values():
            out[group] += cpu
        out["total"] = out["jvm"] + out["pyworker"] + out["driver"]
        return out


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each live tree process's peak resident set (``VmHWM``) in
    MB: an upper bound on the tree's simultaneous peak."""
    total_kb = 0
    for pid in descendants(root, _all_stats()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            continue
    return total_kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (``/proc/stat``): a check on how busy the host was."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK


class Jvm:
    """JVM MXBean readers over the py4j gateway."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def jit_ms(self) -> int:
        return int(self._comp.getTotalCompilationTime())

    def gc_ms(self) -> int:
        return sum(int(g.getCollectionTime()) for g in self._gcs)

    def codegen_compiles(self) -> int:
        """Generated classes Spark compiled (codegen cache misses)."""
        return int(self._codegen.getCount())


@dataclass
class Snapshot:
    """Counters read at a phase boundary."""

    wall: float
    jit_ms: int
    gc_ms: int
    codegen_compiles: int
    steal_s: float

    @classmethod
    def take(cls, jvm: Jvm) -> Snapshot:
        return cls(time.perf_counter(), jvm.jit_ms(), jvm.gc_ms(), jvm.codegen_compiles(), steal_s())

    def minus(self, before: Snapshot) -> dict[str, float]:
        return {
            "wall_s": self.wall - before.wall,
            "jit_ms": self.jit_ms - before.jit_ms,
            "gc_ms": self.gc_ms - before.gc_ms,
            "codegen_compiles": self.codegen_compiles - before.codegen_compiles,
            "steal_s": self.steal_s - before.steal_s,
        }


class JobCounter:
    """Counts the Spark jobs, stages and tasks run under one job group,
    from ``statusTracker``. The status store is fed asynchronously by
    the listener bus, so ``counts`` waits until every job of the group
    has ended and the figures stop changing."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def _read(self, group: str, after: set[int]) -> tuple[tuple[int, int, int], bool]:
        jobs = stages = tasks = 0
        done = True
        for jid in self._tracker.getJobIdsForGroup(group):
            if jid in after:
                continue
            info = self._tracker.getJobInfo(jid)
            if info is None:
                done = False
                continue
            if info.status not in ("SUCCEEDED", "FAILED"):
                done = False
            jobs += 1
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped (reused exchange) stage
                stages += 1
                tasks += st.numCompletedTasks
        return (jobs, stages, tasks), done

    def job_ids(self, group: str) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(group))

    def output_bytes(self, group: str, after: set[int] = frozenset()) -> int:
        """Bytes the group's stages wrote to output files, from the
        status store's per-stage data."""
        store = self._sc._jsc.sc().statusStore()
        jvm = self._sc._jvm
        total = 0
        for jid in self.job_ids(group) - set(after):
            for sid in self._tracker.getJobInfo(jid).stageIds:
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False,
                    self._sc._gateway.new_array(jvm.double, 0),
                )
                total += sum(int(attempts.apply(i).outputBytes()) for i in range(attempts.size()))
        return total

    def counts(self, group: str, after: set[int] = frozenset(), timeout_s: float = 10.0) -> tuple[int, int, int]:
        """``(jobs, stages, tasks)`` of ``group`` excluding job ids in
        ``after``."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            cur, done = self._read(group, after)
            if done and cur == prev:
                return cur
            if time.monotonic() > deadline:
                raise RuntimeError(f"job group {group!r} did not settle: {cur}")
            prev = cur
            time.sleep(0.05)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it, or None when that is not above the median (n <= 20)."""
    if n <= 20:
        return None
    p = (100 * (n - 10)) // n
    while n - math.ceil(p * n / 100) < 10:
        p -= 1
    return p if p > 50 else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(math.ceil(p * len(s) / 100), 1) - 1]


def tail(values: list[float]) -> dict | None:
    p = tail_percentile(len(values))
    if p is None:
        return None
    return {"percentile": p, "value": percentile(values, p), "n": len(values)}
