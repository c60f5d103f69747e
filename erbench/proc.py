"""Resident memory and CPU time of this process and every process below it:
the driver JVM, the Python worker daemon and its workers. Read from /proc."""

from __future__ import annotations

import os
import threading

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat_fields(int(d))[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return sorted(tree)


def tree_rss_mb() -> float:
    kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


class PeakRss:
    """Samples ``tree_rss_mb`` on a background thread; ``stop`` returns the peak."""

    def __init__(self, period_s: float = 0.25):
        self.peak = 0.0
        self._period = period_s
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self):
        while not self._done.wait(self._period):
            self.peak = max(self.peak, tree_rss_mb())

    def stop(self) -> float:
        self._done.set()
        self._thread.join()
        return max(self.peak, tree_rss_mb())


def tree_cpu_s() -> float:
    """User + system CPU seconds the tree has used so far: each live process's
    own time plus the time of the children it has reaped. Time a vCPU was
    stolen by the host, or a thread waited for a CPU, is not in it."""
    ticks = 0
    for p in tree_pids():
        try:
            f = _stat_fields(p)
        except (OSError, IndexError):
            continue
        # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
        ticks += sum(int(x) for x in f[11:15])
    return ticks * TICK_S

