"""Small measurement helpers: the tail rule, peak RSS, and run stamps."""

from __future__ import annotations

import os
import statistics
import threading
import time

TAIL_BEYOND = 10


def tail(times: list) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` ops beyond it.

    Returns ``(value, percentile)`` by nearest rank: with ``n`` sorted ops
    the value is the one with exactly ten slower ops after it, at
    percentile ``100 * (n - 10) / n``. With 20 ops or fewer no percentile
    above the median has ten ops beyond it, so the median is reported, as
    percentile 50: a tail read off fewer ops would be one or two samples.
    """
    xs = sorted(times)
    n = len(xs)
    if n == 0:
        raise ValueError("no ops")
    if n <= 2 * TAIL_BEYOND:
        return statistics.median(xs), 50.0
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (JVM, Python workers)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the process tree's RSS on a daemon thread; keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def calibrate_ns_per_element(n: int = 1_000_000, reps: int = 3) -> float:
    """Spark-free single-thread insert kernel, best of ``reps`` (the same
    probe as ``bench.calibrate_ns_per_element``): a contended box reads
    slower here, so a run can be told apart from a clean one."""
    from exaloglog_paper_spark.sketchlib.bitops import splitmix64_stream
    from exaloglog_paper_spark.sketchlib.exaloglog import ExaLogLog

    hashes = splitmix64_stream(1, n)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        ExaLogLog.create(2, 20, 8).add_hashes(hashes)
        best = min(best, time.perf_counter() - t0)
    return best / n * 1e9


def cpu_ticks() -> list:
    """The aggregate ``cpu`` line of ``/proc/stat`` (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def run_stamp() -> dict:
    return {"ns_per_element": calibrate_ns_per_element(), "loadavg": list(os.getloadavg()), "cpu_ticks": cpu_ticks()}
