"""Counters read from outside the engine: Spark's status store, the
JVM's GC beans, and ``/proc`` for CPU and resident memory.

Every reading here is taken by the benchmark around a call into the
engine; nothing is read from inside the engine's own code.
"""

from __future__ import annotations

import os
import re

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, CPU seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return comm, ppid, (utime + stime + cutime + cstime) / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> dict[int, tuple[str, float]]:
    """pid → (comm, CPU seconds) for every live process below ``root``."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        comm, _, cpu = procs[pid]
        out[pid] = (comm, cpu)
        todo.extend(children.get(pid, []))
    return out


class ProcessTree:
    """CPU and high-water RSS of this process, the JVM it launched and
    the Python workers below the JVM.

    Own CPU excludes reaped children (the JVM is counted directly while
    alive); a descendant's CPU includes its reaped children, so a Python
    worker that exits is still counted through the daemon that forked it.
    """

    def __init__(self) -> None:
        self.pid = os.getpid()

    def cpu(self) -> tuple[float, float]:
        """(total CPU seconds, CPU seconds of Python descendants)."""
        own = os.times()
        total = own.user + own.system
        python = 0.0
        for comm, cpu in descendants(self.pid).values():
            total += cpu
            if comm.startswith("python"):
                python += cpu
        return total, python

    def _pids(self) -> list[int]:
        return [self.pid] + [
            p for p, (comm, _) in descendants(self.pid).items()
            if comm.startswith(("java", "python"))
        ]

    def reset_peaks(self) -> None:
        """Reset the high-water RSS of every process :meth:`hwm_mb` sums
        to its current RSS, so the next reading covers only what runs
        after this call."""
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:  # the process ended meanwhile
                pass

    def hwm_mb(self) -> float:
        """Sum of the per-process high-water RSS of this process and its
        Java and Python descendants, in MiB."""
        return sum(_hwm_kb(p) for p in self._pids()) / 1024.0


class SparkCounters:
    """Per-job-group counters from the in-process status store.

    Tag work with :meth:`set_group` before the call; :meth:`read` then
    sums the stages of every job in that group. The listener bus is
    drained first, because the store is filled asynchronously.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.slots = self.sc.defaultParallelism

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def codegen_compiles(self) -> int:
        """Generated-code compilations so far (codegen cache misses)."""
        return self._codegen.METRIC_COMPILATION_TIME().getCount()

    def jvm_gc_s(self) -> float:
        return sum(max(b.getCollectionTime(), 0) for b in self._gc_beans) / 1000.0

    def jobs(self, group: str) -> list[int]:
        self._jsc.listenerBus().waitUntilEmpty()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def read(self, group: str) -> dict[str, float]:
        jobs = self.jobs(group)
        stage_ids = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            ("stages", "tasks", "shuffle_bytes", "spill_bytes", "executor_run_s"), 0.0
        )
        out["jobs"] = float(len(jobs))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # stage pruned from the store or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
        return out


_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)")


def plan_nodes(tree: str) -> tuple[int, int]:
    """(scans, joins) among the operator names of a physical plan's
    tree string."""
    scans = joins = 0
    for line in tree.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(1)
        if name in ("FileScan", "Scan", "BatchScan", "InMemoryTableScan"):
            scans += 1
        elif name.endswith("Join") or name == "CartesianProduct":
            joins += 1
    return scans, joins


def catalyst_seconds(qe) -> float:
    """Analysis + optimization + planning time recorded by a query
    execution's planning tracker."""
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            total += phases.apply(name).durationMs()
    return total / 1000.0
