"""Process-tree CPU, peak RSS and host context read straight from ``/proc``.

The Spark JVM is a child of this Python process and the PySpark
workers are children of the JVM's worker daemon, so the process tree rooted
at ``os.getpid()`` holds every process the benchmark pays for.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
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


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by the tree so far: user + system of each live
    process plus what its reaped children left in cutime/cstime."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class RssSampler:
    """Background thread that samples the tree's summed RSS and keeps the
    peak; ``stop()`` joins it."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
        return self.peak_mb


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostContext:
    """load1 and the machine's iowait / steal share over an interval.
    Recorded beside a run to explain noise; never used as a gate."""

    def __init__(self) -> None:
        self.load1_start = os.getloadavg()[0]
        self._j0 = _cpu_jiffies()

    def finish(self) -> dict:
        j1 = _cpu_jiffies()
        d = [b - a for a, b in zip(self._j0, j1)]
        total = max(sum(d[:8]), 1)  # user..steal; guest is inside user
        return {
            "load1_start": self.load1_start,
            "load1_end": os.getloadavg()[0],
            "iowait_frac": d[4] / total,
            "steal_frac": d[7] / total if len(d) > 7 else 0.0,
        }

