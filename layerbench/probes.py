"""Readings taken from outside the program: ``/proc`` for CPU, steal and
worker memory, the driver JVM's management beans for JIT and GC time,
and Spark's status store for the jobs a span started."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime in seconds)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # comm (field 2) may hold spaces; the fields after it are fixed
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(f) for f in fields[11:15])
        table[int(name)] = (int(fields[1]), ticks / _TICK)
    return table


def tree_pids(table: dict[int, tuple[int, float]] | None = None) -> list[int]:
    """This process and all its live descendants."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+sys CPU seconds of this process and its descendants, reaped
    ones included (they are folded into their parent's cutime/cstime).
    The difference of two readings is the tree's CPU over the interval:
    the driver JVM with its JIT and GC threads, the Python workers, and
    this process."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(table))


def steal_s() -> float:
    """Host-wide CPU steal, in seconds summed over all CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def worker_peak_rss_mb() -> float:
    """Highest ``VmHWM`` among the live PySpark Python worker processes
    (the daemon and its forked workers)."""
    peak_kb = 0
    for pid in tree_pids():
        cmd = _cmdline(pid)
        if "pyspark.daemon" not in cmd and "pyspark.worker" not in cmd:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024


class JvmClock:
    """Cumulative JIT compile time and GC time of the driver JVM."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def jit_s(self) -> float:
        return self._jit.getTotalCompilationTime() / 1000

    def gc_s(self) -> float:
        return sum(max(g.getCollectionTime(), 0) for g in self._gcs) / 1000


def spark_jobs(spark, group_prefix: str) -> list[dict]:
    """Finished jobs of the given job-group prefix from the status store
    (works with ``spark.ui.enabled=false``), oldest first, with
    submission and completion times in epoch seconds."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    seq = sc.statusStore().jobsList(None)
    jobs = []
    for i in range(seq.size()):
        j = seq.apply(i)
        group = j.jobGroup()
        if not group.isDefined() or not str(group.get()).startswith(group_prefix):
            continue
        sub, done = j.submissionTime(), j.completionTime()
        if not sub.isDefined():
            continue
        start = sub.get().getTime() / 1000
        jobs.append(
            {
                "id": int(j.jobId()),
                "group": str(group.get()),
                "start": start,
                "end": done.get().getTime() / 1000 if done.isDefined() else start,
                "status": str(j.status()),
                "call_site": str(j.name()),
            }
        )
    return sorted(jobs, key=lambda j: j["id"])


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
