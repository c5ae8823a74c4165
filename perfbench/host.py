"""Host-side probes read from /proc: peak RSS of the process tree, CPU
steal, and the first-touch page-backing rate."""

from __future__ import annotations

import os
import threading
import time


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed RSS of every descendant of this process (the
    Spark driver JVM and its Python workers) and keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(fields[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def first_touch_gb_s(mb: int = 256) -> float:
    """Rate at which the host backs fresh pages, measured as in the frozen
    bench.py: a degraded host window shows up here, not as a regression."""
    import numpy as np

    t0 = time.perf_counter()
    buf = np.zeros(mb * 1024 * 1024, dtype=np.uint8)
    buf[::4096] = 1
    dt = time.perf_counter() - t0
    del buf
    return (mb / 1024) / max(dt, 1e-9)
