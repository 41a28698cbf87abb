"""Peak resident memory of a process tree, sampled from ``/proc``.

The tree is the root process plus every descendant alive at a sample:
for the benchmark worker that is the driver Python, the JVM it launched
and any Python workers the JVM forks.  Resident sizes come from
``statm``: ``smaps_rollup`` would give proportional sizes, but reading it
walks the JVM's page tables under its memory-map lock (about 13 ms a
read on 4 cores) and slowed the measured run.  Pages a forked Python
worker shares with its parent therefore count once per process.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; the fields after it start past ')'.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss(root: int) -> int:
    """Bytes resident in ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
        todo += kids.get(pid, [])
    return total


class PeakSampler(threading.Thread):
    """Samples ``tree_rss(pid)`` every ``interval`` seconds until stopped."""

    def __init__(self, pid: int, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss(self.pid))
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak
