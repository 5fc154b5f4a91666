"""Memory of this process and every process it started (the JVM and the
Python workers), sampled from /proc.

Each process counts its proportional set size (PSS): resident pages, with
every page shared by k processes counted 1/k in each. Forked Python
workers share most of their pages with the daemon they fork from, so a
plain RSS sum would count those pages once per worker and swing with the
number of idle workers alive at the sample.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended while we listed the tree
            continue
    return total


class PeakRss:
    """Background sampler of the process tree's summed PSS."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.period_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
        return self.peak
