"""Resident memory and CPU time of a process tree, read from ``/proc``.

The tree is the benchmark's own Python process plus every descendant: the
Spark driver JVM that PySpark launches and the Python worker daemon and
workers the JVM forks.  ``psutil`` is not required.
"""

from __future__ import annotations

import os
import threading

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def _read_tree(root: int) -> list[list[bytes]]:
    """``/proc/<pid>/stat`` fields (after the command name) of *root* and
    all of its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[bytes]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces and parentheses: the fields
        # start after the last ')'; ppid is the second of them
        fields = stat[stat.rindex(b")") + 2 :].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of *root* and all of its descendants."""
    return sum(int(f[21]) for f in _read_tree(root)) * PAGE_SIZE


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU time of *root* and all of its descendants, including
    descendants that have already exited and been reaped inside the tree
    (their time is in their parent's ``cutime``/``cstime``).  Time the
    hypervisor stole from the vCPUs is not CPU time, so this reading does
    not grow with the load of other guests on the host."""
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in _read_tree(root)) / CLOCK_TICKS


INTERVAL_S = 0.1


class PeakRssSampler:
    """Background thread recording the peak of :func:`tree_rss_bytes` for
    this process's tree every ``INTERVAL_S``.

    Use as a context manager around the region to observe; ``peak_mb``
    holds the result (10^6 bytes) after exit.
    """

    def __init__(self):
        self.root = os.getpid()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(INTERVAL_S):
                return

    def __enter__(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6
