"""Peak resident memory and CPU time of a process tree, read from
``/proc``."""

from __future__ import annotations

import os
import threading
from typing import Dict, List

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _parents() -> Dict[int, int]:
    out: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # "pid (comm) state ppid ..."; comm may hold spaces or parens
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def tree_pids(root: int) -> List[int]:
    kids: Dict[int, List[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    including the children they have reaped (a Python worker that exits
    is counted in its parent's ``cutime``/``cstime``)."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over
    this host's CPUs since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class PeakRss:
    """Samples the RSS sum of this process and all its descendants (the
    Python driver, the JVM and its Python workers) on a daemon thread;
    ``stop()`` returns the peak in MiB."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.peak = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self._period):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / (1024.0 * 1024.0)
