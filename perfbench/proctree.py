"""Process-tree sampler over ``/proc``.

The engine runs as three kinds of process: the Python process that
calls it (this one), the JVM it launches, and the ``pyspark.daemon``
workers the JVM forks. ``getrusage(RUSAGE_CHILDREN)`` only counts descendants that were
waited for, and the JVM and the workers are still running when a pass
ends, so CPU is read from ``/proc/<pid>/stat`` of every live process in
the tree instead. A process's ``cutime``/``cstime`` hold the CPU of the
children it has reaped, so summing ``utime + stime + cutime + cstime``
over the live tree also keeps the CPU of workers that exited.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.25  # PeakRss's sampling period


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_ticks: int  # utime + stime + cutime + cstime
    rss_pages: int


def _read_stat(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces and parentheses: split at the last ')'
    head, _, rest = raw.rpartition(")")
    comm = head.split("(", 1)[1]
    fields = rest.split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss = int(fields[21])
    return Proc(pid, ppid, comm, utime + stime + cutime + cstime, rss)


def snapshot() -> dict[int, Proc]:
    """Every live process in the tree rooted at this process."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_stat(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    tree, stack = {}, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            stack.extend(children.get(pid, ()))
    return tree


def cpu_s(snap: dict[int, Proc]) -> float:
    return sum(p.cpu_ticks for p in snap.values()) / _TICK


def pss_mb(snap: dict[int, Proc]) -> float:
    """Resident memory of this process, the JVM and the Python workers,
    with each shared page split among the processes sharing it (forked
    workers share most pages with the daemon, so summed RSS would
    count them once per worker). Other processes are short-lived
    helpers the JVM spawns; before its exec such a helper runs in the
    JVM's own address space and would count the JVM twice."""
    kb = 0
    for pid, p in snap.items():
        if p.comm != "java" and not p.comm.startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):  # exited, or no smaps
            kb += p.rss_pages * _PAGE // 1024
    return kb / 1024


def python_workers(snap: dict[int, Proc]) -> dict[int, Proc]:
    """The Python processes below a JVM in the tree: the
    ``pyspark.daemon`` and the workers it forks."""
    jvms = [p.pid for p in snap.values() if p.comm == "java"]
    out: dict[int, Proc] = {}
    stack = [c.pid for c in snap.values() if c.ppid in jvms]
    while stack:
        pid = stack.pop()
        if pid in out or pid not in snap:
            continue
        out[pid] = snap[pid]
        stack.extend(c.pid for c in snap.values() if c.ppid == pid)
    return {pid: p for pid, p in out.items() if p.comm.startswith("python")}


class PeakRss:
    """Background thread that samples the tree's resident memory (summed
    proportional set size) and keeps the peak. Use as a context manager."""

    def __init__(self):
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, pss_mb(snapshot()))

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
