"""Host state and memory of the benchmark's process tree, read from /proc."""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes mapping it, so forked workers (and the JVM's short-lived
    forks) do not count the parent's memory twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Total resident memory (summed PSS) of ``root`` and all its
    descendants: the benchmark process, the JVM it launched and the JVM's
    Python workers."""
    kids = _children()
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        total_kb += _pss_kb(pid)
    return total_kb / 1024.0


class PeakRss:
    """Samples the process tree's RSS every ``interval`` seconds (a sample
    reads the JVM's page tables, ~25 ms of a core at 1 GB resident)."""

    def __init__(self, interval: float = 1.0):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def _run(self, interval: float) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            if self._stop.wait(interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc() -> int:
    return len(os.sched_getaffinity(0))
