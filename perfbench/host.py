"""Host-noise record for one run: context for a slow run, not a metric.

Reads ``/proc``: CPU steal, softirq time and the CPU time of processes
outside this run's process tree (the driver, its JVM and the JVM's Python
workers), plus the thread counts the run used.
"""

from __future__ import annotations

import os
import resource
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _procs() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds, threads)."""
    out = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        f = stat[stat.rindex(")") + 2:].split()
        # proc(5) fields 4 (ppid), 14-17 (utime, stime and those of reaped
        # children: the Python workers of a stopped session), 20 (num_threads)
        out[int(p.name)] = (int(f[1]), comm, sum(map(int, f[11:15])) / _TICK, int(f[17]))
    return out


def _tree(procs, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class HostSampler:
    def __init__(self):
        self.cpu0 = _cpu_line()
        self.own0 = sum(resource.getrusage(resource.RUSAGE_SELF)[:2])
        self.seen: dict[int, float] = {}  # pid -> CPU seconds, this run's children

    def note(self) -> dict:
        """Snapshot this run's children. Call it before stopping a Spark
        session: its Python workers are orphaned when the session stops,
        and their CPU time is lost to the run's own process tree."""
        procs = _procs()
        for p in _tree(procs, os.getpid()):
            if p != os.getpid():
                self.seen[p] = procs[p][2]
        return procs

    def record(self) -> dict:
        cpu1 = _cpu_line()
        d = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(d[:8]) or 1  # user nice system idle iowait irq softirq steal
        # softirq time (mostly the loopback traffic between the JVM and its
        # Python workers) is no process's, so it is kept apart from both
        busy = total - d[3] - d[4] - d[6]
        procs = self.note()
        mine = _tree(procs, os.getpid())
        # children started during the run: their whole CPU time is this run's
        own = sum(self.seen.values())
        own += sum(resource.getrusage(resource.RUSAGE_SELF)[:2]) - self.own0
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "steal_share": round(d[7] / total, 4),
            "busy_cpu_s": round(busy / _TICK, 2),
            "own_cpu_s": round(own, 2),
            "softirq_cpu_s": round(d[6] / _TICK, 2),
            "other_cpu_s": round(max(busy / _TICK - own, 0.0), 2),
            "loadavg": os.getloadavg(),
            "jvm_threads": sum(procs[p][3] for p in mine if procs[p][1] == "java"),
        }
