"""Process-tree CPU and memory, host steal and host facts, read from /proc.

The benchmark process is the root of the tree: it is the Spark driver's
Python side, the JVM is its child, and the PySpark daemon (a child of
the JVM) and its forked workers are the Python workers.  CPU of a process is
``utime + stime + cutime + cstime``: a worker that exits is reaped by
its parent, and its CPU moves into that parent's ``cutime``/``cstime``,
so a delta between two snapshots counts every CPU-second exactly once.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
ROLES = ("driver", "jvm", "python_workers")


def _stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after comm) or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    head, _, tail = s.rpartition(")")
    fields = tail.split()
    return head.partition("(")[2], int(fields[1]), fields


def _tree(root: int) -> dict[int, tuple[str, str, list[str]]]:
    """pid -> (role, comm, stat fields) for ``root`` and its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    stack = [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        if pid not in procs:
            continue
        comm, _, fields = procs[pid]
        if role == "driver" and pid != root:
            role = "jvm" if comm == "java" else "driver"
        elif role == "jvm" and comm.startswith("python"):
            role = "python_workers"
        out[pid] = (role, comm, fields)
        stack += [(c, role) for c in children.get(pid, ())]
    return out


def cpu_by_role(root: int | None = None) -> dict[str, float]:
    """CPU seconds used so far by each role of the tree (incl. reaped children)."""
    out = dict.fromkeys(ROLES, 0.0)
    for role, _, f in _tree(root or os.getpid()).values():
        # fields after comm: [0]=state ... [11..14]=utime,stime,cutime,cstime
        out[role] += sum(int(x) for x in f[11:15]) / CLK_TCK
    return out


def rss_by_role(root: int | None = None) -> dict[str, float]:
    """Resident MB of each role of the tree right now.

    The JVM's other children (``chmod``/``rm`` run by Hadoop's local file
    system, and each such child between fork and exec) are skipped: they
    are short-lived, and before exec a child reports the JVM's whole RSS,
    which would count the JVM twice."""
    out = dict.fromkeys(ROLES, 0.0)
    for role, comm, f in _tree(root or os.getpid()).values():
        if role == "jvm" and comm != "java":
            continue
        out[role] += int(f[21]) * PAGE / 2**20  # field 24 of stat: rss pages
    return out


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class RssSampler:
    """Background sampler of the tree's peak RSS (total and per role)
    while ``active`` is set; the timed window sets it around each op."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = dict.fromkeys(("total", *ROLES), 0.0)
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            if self.active.is_set():
                rss = rss_by_role()
                rss["total"] = sum(rss.values())
                for k, v in rss.items():
                    self.peak[k] = max(self.peak[k], v)


class OpMeter:
    """Wall, CPU-by-role and host-steal deltas around one op."""

    def __enter__(self) -> "OpMeter":
        self.steal0, self.total0 = cpu_times()
        self.cpu0 = cpu_by_role()
        self.t0 = time.perf_counter()
        self.start_ms = time.time() * 1000
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.t0
        self.end_ms = time.time() * 1000
        cpu1 = cpu_by_role()
        steal1, total1 = cpu_times()
        self.cpu = {k: cpu1[k] - self.cpu0[k] for k in ROLES}
        # share of all host CPU time in the window that the hypervisor stole
        self.steal_share = (steal1 - self.steal0) / max(total1 - self.total0, 1)


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": round(mem_kb / 1024), "load1_start": load1}
