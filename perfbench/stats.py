"""Latency summaries and process-tree memory sampling."""

from __future__ import annotations

import os
import statistics
import threading
import time

# A tail percentile needs this many samples strictly beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``TAIL_BEYOND`` samples beyond it, by nearest rank: with n sorted
    samples that is the sample at rank n - TAIL_BEYOND, the
    100 * (n - TAIL_BEYOND) / n percentile. Below 2 * TAIL_BEYOND samples
    that percentile would fall under the median, so the maximum is
    returned as percentile 100; the percentile shows which case applied."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return float(xs[-1]), 100.0
    rank = n - TAIL_BEYOND
    return float(xs[rank - 1]), 100.0 * rank / n


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it do not
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants_rss(root: int) -> int:
    """Resident memory of every process below ``root`` (the JVM this
    process launched, and the Python daemon and workers the JVM forked),
    summed as PSS so pages the forked workers share with the daemon count
    once."""
    kids = _children()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(kids.get(pid, []))
    return total


class RssSampler:
    """Samples ``descendants_rss`` of this process on a thread and keeps
    the peak; ``with RssSampler() as s: ...`` then ``s.peak_mb``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class Clock:
    """Monotonic deadline for a measuring window."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.seconds = seconds

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def running(self) -> bool:
        return self.elapsed() < self.seconds
