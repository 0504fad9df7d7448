"""Peak resident memory of a process tree, read from ``/proc``.

The root (the driver JVM) is read as RSS from ``statm``, which is cheap; its
pages are almost all private. Its descendants (Python workers forked from one
daemon) share many pages, so each is read as PSS from ``smaps_rollup``:
summing their RSS would count every shared page once per worker.
"""

from __future__ import annotations

import os
import threading

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; fields resume after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_MB
    except (OSError, IndexError, ValueError):
        return 0.0


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024 / 1e6  # kB
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    kids, out, todo = _children(), [], [root]
    while todo:
        for pid in kids.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def tree_rss_mb(root: int) -> tuple[float, float]:
    """Resident memory of ``root`` and of all its descendants, in MB."""
    return _rss_mb(root), sum(_pss_mb(pid) for pid in descendants(root))


class PeakRss:
    """Samples the tree's resident memory every ``period`` seconds on a
    daemon thread; :attr:`peak_mb` is the largest sum seen, ``root_mb`` and
    ``below_mb`` the root's and its descendants' share of it."""

    def __init__(self, root: int, period: float = 0.2) -> None:
        self.root, self.period = root, period
        self.peak_mb = self.root_mb = self.below_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            root, below = tree_rss_mb(self.root)
            if root + below > self.peak_mb:
                self.peak_mb, self.root_mb, self.below_mb = root + below, root, below
            self._stop.wait(self.period)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
