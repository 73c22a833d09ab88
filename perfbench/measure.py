"""Measurement helpers: percentiles, process-tree memory, process start."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

RSS_INTERVAL_S = 0.25
TAIL_CANDIDATES = (99, 95, 90, 75, 50)  # percentiles, highest first


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile (``pct`` in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(1, math.ceil(pct / 100 * len(s)))
    return s[k - 1]


def tail_percentile(n: int) -> int | None:
    """Highest of ``TAIL_CANDIDATES`` with at least ten samples beyond it.

    With nearest rank, ``percentile(p)`` is sample number ceil(p*n/100);
    the samples beyond it number n - ceil(p*n/100)."""
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p * n / 100) >= 10:
            return p
    return None


def process_start_time() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat; 3 are before ")"
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def descendants(pid: int) -> list[int]:
    """All live (not zombie) descendant pids of ``pid``."""
    parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue
        if state != "Z":
            parent.setdefault(int(ppid), []).append(int(name))
    out: list[int] = []
    stack = [pid]
    while stack:
        kids = parent.get(stack.pop(), [])
        out.extend(kids)
        stack.extend(kids)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError):
        return 0


class TreeRssSampler:
    """Samples the resident memory of this process and all its descendants
    (Python driver, JVM, Python workers) every ``RSS_INTERVAL_S`` seconds."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self._sample()

    def __enter__(self) -> "TreeRssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
