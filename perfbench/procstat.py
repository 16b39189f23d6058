"""Process-tree CPU and memory, and host CPU shares, read from /proc.

The benchmark's process tree is this Python driver, the Spark JVM it
launches and the Python workers the JVM forks.  CPU time of a child that
exits is folded into its parent's cutime/cstime once reaped, so summing
utime+stime+cutime+cstime over the live tree gives a counter whose deltas
include short-lived workers.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rfind(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime+cutime+cstime summed over the live process tree."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK


def tree_cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the tree split by process kind: this driver, the JVM
    (with its launcher) and everything the JVM forked (Python workers)."""
    root = os.getpid() if root is None else root
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        own = (int(f[11]) + int(f[12])) / _CLK
        reaped = (int(f[13]) + int(f[14])) / _CLK
        if pid == root:
            out["driver"] += own
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm.startswith("python"):
            out["workers"] += own + reaped
        else:
            # the JVM reaps the worker daemon only at shutdown, so its
            # cutime is launcher/JVM children, never live workers
            out["jvm"] += own + reaped
    return out


def tree_rss_mb(root: int | None = None) -> float:
    pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE / 1e6


class RssSampler:
    """Background sampler of the tree's summed RSS; `peak_mb` is the
    highest sum seen.  Use as a context manager so the thread is joined."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def host_sample() -> list[int]:
    """Jiffy counters of /proc/stat's aggregate line (user nice system idle
    iowait irq softirq steal)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals + [0] * (8 - len(vals))


def host_window(s0: list[int], s1: list[int]) -> dict[str, float]:
    """Host CPU shares over a window: steal (time the hypervisor gave to
    other guests) and idle, as fractions of all jiffies."""
    d = [b - a for a, b in zip(s0, s1)]
    tot = max(sum(d), 1)
    return {"steal_share": d[7] / tot, "idle_share": d[3] / tot,
            "iowait_share": d[4] / tot, "load1": os.getloadavg()[0]}
