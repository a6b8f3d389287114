"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process and every descendant: the JVM
that PySpark launches and the Python workers that the JVM forks.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # Field 2 (comm) may contain spaces; everything after its ')' is
    # space-separated, starting at field 3 (state).
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """A process and its descendants at the moment of each reading."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def stats(self) -> dict[int, list[str]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return tree

    def descendants(self) -> list[int]:
        return [pid for pid in self.stats() if pid != self.root]

    def cpu_s(self) -> float:
        """User + system CPU of the tree, including reaped children."""
        # stat fields 14-17 (utime, stime, cutime, cstime) sit at 11-14
        # of the list that starts at field 3.
        return sum(
            sum(int(x) for x in st[11:15]) for st in self.stats().values()
        ) / _TICK

    def rss_bytes(self) -> int:
        # field 24 (rss, in pages) sits at index 21
        return sum(int(st[21]) for st in self.stats().values()) * _PAGE


class PeakRss:
    """Samples the tree's total RSS on a thread until stopped; ``peak``
    is the largest sample."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.2) -> None:
        self.tree, self.interval_s = tree, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self.tree.rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree.rss_bytes())
