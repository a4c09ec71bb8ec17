"""Host-side measurements: peak memory of the process tree, CPU steal, and
the first-touch page-fault cost (tzspark.hostcal.fault_probe).

None of these touch Spark; they read /proc only.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict:
    """ppid -> [pid] for every process visible in /proc."""
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of root_pid and all its descendants."""
    kids = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        stack.extend(kids.get(pid, ()))
    return total


class PeakRss:
    """Background sampler of tree_rss_bytes(own pid): the driver, the JVM it
    launched and the JVM's Python workers. Use as a context manager."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self.marks = {}  # phase name -> peak so far, for the run record
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self.samples += 1
            if self._stop.wait(self.interval_s):
                return

    def mark(self, phase: str):
        self.marks[phase] = self.peak / 2**20

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_times() -> list:
    """The aggregate 'cpu' line of /proc/stat as integers (jiffies)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(before: list, after: list) -> float:
    """Share of all CPU time between two cpu_times() readings that the
    hypervisor stole. Columns: user nice system idle iowait irq softirq
    steal (guest time is already counted in user)."""
    d = [a - b for a, b in zip(after[:8], before[:8])]
    busy = sum(d)
    return d[7] / busy if busy else 0.0
