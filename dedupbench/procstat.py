"""Process-tree CPU and RSS read from ``/proc`` (Linux only).

A Spark run is a tree: the Python driver, the JVM it launches, the Python
daemon the JVM forks and the workers the daemon forks.  CPU of the whole
tree is the sum, over live members, of their own user+system time plus the
time of children they have already reaped (``cutime``/``cstime``), so a
worker that exits mid-run is still counted exactly once, by its reaper.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int) -> tuple[float, float]:
    """(CPU seconds, RSS MB) of ``root``'s process tree.

    A child the JVM has just spawned shares the JVM's address space until
    it execs (posix_spawn/vfork), so it briefly reports the JVM's whole
    RSS; a member whose (vsize, rss) equals its parent's is such a child
    and its RSS is not counted twice."""
    ticks = 0
    pages = 0
    stats = {pid: _stat_fields(pid) for pid in tree_pids(root)}
    for pid, fields in stats.items():
        if fields is None:
            continue
        # fields[1] = ppid; fields[11..14] = utime stime cutime cstime;
        # fields[20] = vsize bytes; fields[21] = rss pages
        ticks += sum(int(v) for v in fields[11:15])
        parent = stats.get(int(fields[1]))
        if parent is None or parent[20:22] != fields[20:22]:
            pages += int(fields[21])
    return ticks / _CLK_TCK, pages * _PAGE / 2**20


def host_busy_seconds() -> float:
    """CPU seconds the whole host spent busy (all cores) since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...: busy = all but
    # idle and iowait, and guest time is already inside user
    return (sum(vals[:8]) - vals[3] - vals[4]) / _CLK_TCK


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class TreeSampler:
    """Background sampler of one process tree's peak RSS, and of the host
    CPU used outside that tree while the sampler runs.

    The tree's CPU is the largest ``tree_usage`` reading taken; it misses
    at most one interval's worth at the end, when the tree winds down."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak_rss_mb = 0.0
        self.outside_cpu_s = 0.0
        self.tree_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            cpu, rss = tree_usage(self.root)
            self.peak_rss_mb = max(self.peak_rss_mb, rss)
            self.tree_cpu_s = max(self.tree_cpu_s, cpu)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "TreeSampler":
        self._host0 = host_busy_seconds()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        host = host_busy_seconds() - self._host0
        self.outside_cpu_s = max(0.0, host - self.tree_cpu_s)
