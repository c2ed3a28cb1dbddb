"""Process-tree CPU and memory sampling from /proc.

The benchmark's process tree is this interpreter, the Spark JVM it
launches and the Python workers the JVM forks.  A sampler thread reads
the tree every ``interval`` seconds and keeps (time, CPU seconds,
memory) points; CPU over any wall-clock window is then read off the
series.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pid_usage(pid: int) -> tuple[float, int] | None:
    """(CPU seconds incl. reaped children, PSS bytes) of one process.

    PSS splits pages shared between processes, such as the Python
    workers' copy-on-write pages from their common parent, so the tree's
    sum is the memory it really holds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
    except (OSError, StopIteration):
        return None
    # fields[0] is field 3 of stat(5): utime..cstime are fields 14-17
    ticks = sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK, pss_kb * 1024


def tree_usage(root: int) -> tuple[float, int]:
    cpu, mem = 0.0, 0
    for pid in tree_pids(root):
        u = _pid_usage(pid)
        if u is not None:
            cpu += u[0]
            mem += u[1]
    return cpu, mem


class TreeSampler:
    """Samples the process tree rooted at this process until ``stop``."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.points: list[tuple[float, float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def sample(self) -> None:
        cpu, mem = tree_usage(os.getpid())
        self.points.append((time.monotonic(), cpu, mem))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def cpu_between(self, t0: float, t1: float) -> float:
        return cpu_between(self.points, t0, t1)

    def peak_memory_between(self, t0: float, t1: float) -> int:
        return peak_memory_between(self.points, t0, t1)


def cpu_between(points: list[tuple[float, float, int]], t0: float, t1: float) -> float:
    """CPU seconds spent in [t0, t1], linearly interpolated between samples."""

    def at(t: float) -> float:
        if t <= points[0][0]:
            return points[0][1]
        for (ta, ca, _), (tb, cb, _) in zip(points, points[1:]):
            if ta <= t <= tb:
                return ca if tb == ta else ca + (cb - ca) * (t - ta) / (tb - ta)
        return points[-1][1]

    return max(0.0, at(t1) - at(t0))


def peak_memory_between(points: list[tuple[float, float, int]], t0: float, t1: float) -> int:
    """Largest memory sample taken in [t0, t1]."""
    return max(p[2] for p in points if t0 <= p[0] <= t1)
