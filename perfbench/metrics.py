"""Latency percentiles with the failure rule, and process-tree CPU and
memory read from /proc (the driver process, its JVM and the JVM's
Python workers)."""

from __future__ import annotations

import math
import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def percentile(ok: list[float], failed: list[float], p: float) -> float:
    """p-th percentile, interpolated linearly between ranks, in which
    every failed operation ranks slower than every success. A failed
    operation reads as the slowest latency measured in the run, so a fix
    that turns failures into successes can only lower the figure."""
    n = len(ok) + len(failed)
    if n == 0:
        raise ValueError("no samples")
    slowest = max(ok + failed)
    ranked = sorted(ok) + [slowest] * len(failed)
    h = (n - 1) * p / 100.0
    lo = math.floor(h)
    hi = min(lo + 1, n - 1)
    return ranked[lo] + (h - lo) * (ranked[hi] - ranked[lo])


def _stat(pid: int):
    """(comm, ppid, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1: s.rindex(")")]
    f = s[s.rindex(")") + 2:].split()
    cpu = sum(int(x) for x in f[11:15]) / _HZ  # utime stime cutime cstime
    return comm, int(f[1]), cpu, int(f[21]) * _PAGE


def tree(root: int | None = None) -> dict[int, tuple]:
    """pid -> (comm, ppid, cpu_s, rss_bytes) for `root` and its descendants."""
    root = root or os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in keep:
            keep[pid] = procs[pid]
            frontier.extend(p for p, v in procs.items() if v[1] == pid)
    return keep


def cpu_by_role(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the tree split into driver / jvm / python_workers."""
    root = root or os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid, (comm, _ppid, cpu, _rss) in tree(root).items():
        if pid == root:
            out["driver"] += cpu
        elif comm.startswith("java"):
            out["jvm"] += cpu
        else:
            out["python_workers"] += cpu
    return out


def host_steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine (all
    CPUs, since boot): slow runs on a shared host show up here."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


class RssSampler:
    """Background thread that tracks the peak summed RSS of the tree."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(v[3] for v in tree().values()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
