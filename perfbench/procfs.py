"""Process-tree CPU and memory readings from ``/proc``.

The benchmark's process launches the Spark JVM, which launches the
Python worker daemon, which forks the workers.  ``cpu_s`` counts the
whole tree; ``peak_rss_mb`` counts everything but the benchmark's own
interpreter (the JVM plus the Python workers), as proportional set
size, so pages the forked workers share are counted once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_cpu_seconds(root: int | None = None) -> float:
    root = os.getpid() if root is None else root
    return cpu_seconds([root, *descendants(root)])


def rss_mb(pids: list[int]) -> float:
    """Summed proportional set size: a page shared by n processes (the
    forked Python workers share their daemon's) counts 1/n in each, so
    the sum does not grow with the number of workers alive."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


class PeakRss:
    """Samples the summed PSS of every process below this one until
    stopped; ``peak_mb`` is the largest sum that held for two samples
    in a row, so a single-sample blip (a worker being forked, a read
    racing a process exit) does not set it."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_workers_mb = 0.0  # the part below the JVM, for the stamp
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        prev = prev_workers = 0.0
        while not self._stop.wait(self.interval_s):
            below = descendants(me)
            workers = rss_mb(below[1:])  # the JVM is the first child listed
            total = rss_mb(below[:1]) + workers
            self.peak_mb = max(self.peak_mb, min(prev, total))
            self.peak_workers_mb = max(self.peak_workers_mb, min(prev_workers, workers))
            prev, prev_workers = total, workers

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
