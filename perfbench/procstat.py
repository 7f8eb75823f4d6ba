"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process and every descendant: the
JVM that PySpark launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
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
    """User + system CPU seconds of the tree, including children that
    have ended and been waited for (their time moves to the parent's
    cutime/cstime, so nothing is counted twice)."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a background thread while
    active; ``peak`` is the largest sample."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self.peak = tree_rss_bytes(self.root)
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, tree_rss_bytes(self.root))

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
