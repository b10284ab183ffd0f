"""Order statistics, host facts and a process-tree RSS sampler.

Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import os
import threading

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    """Median of a non-empty sample (mean of the middle pair when even)."""
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic that still has at
    least ``beyond`` samples above it.

    With n samples sorted ascending that is the one at 0-based index
    n - 1 - beyond, i.e. the percentile 100 * (n - beyond) / n. A sample of
    ``beyond`` or fewer values has no such statistic; then the maximum is
    returned with percentile 100, so the tail never reads better than the
    data allows. The caller states the sample count beside it.
    """
    if not values:
        raise ValueError("tail of an empty sample")
    s = sorted(values)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(total_mb: int) -> int:
    """Driver heap for local mode: a sixteenth of the host's memory, within
    [1 GiB, 4 GiB]. The workloads cache a few MiB of input and shuffle tens
    of MiB per call, and the host is shared, so the heap stays far below the
    engine's own 48g default. A heap the calls fill also keeps the peak RSS
    from depending on when the collector happened to run."""
    return max(1024, min(4096, total_mb // 16))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, grandchildren, ...)."""
    kids = _children_map()
    out: list[int] = []
    todo = list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` plus all its descendants, in MiB."""
    return sum(_rss_kb(p) for p in [pid, *descendants(pid)]) / 1024.0


class RssSampler:
    """Polls the resident memory of this process tree (the Python driver,
    the Spark JVM it launched and the JVM's Python workers) and keeps the
    peak. It reads /proc, so it needs no psutil."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
