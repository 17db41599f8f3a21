"""Summaries the benchmark reports: percentiles with an honest tail,
and the peak resident memory of this process tree."""

from __future__ import annotations

import math
import os
import threading

# percentiles a tail may be reported at, lowest first
TAIL_LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the ``p``-th percentile."""
    return n - math.ceil(n * p / 100.0 - 1e-9)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND of
    ``n`` samples beyond it, or None when even the lowest has fewer."""
    best = None
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def _pname(p: float) -> str:
    return f"p{p:g}".replace(".", "_")


def summarize(name: str, values: list[float]) -> dict[str, float]:
    """``{name.p50: median, name.pXX: tail}`` where the tail is the
    highest percentile the sample supports (omitted when none is), plus
    ``name.n``, the sample count."""
    if not values:
        return {}
    out = {f"{name}.p50": percentile(values, 50.0), f"{name}.n": len(values)}
    tail = tail_percentile(len(values))
    if tail is not None:
        out[f"{name}.{_pname(tail)}"] = percentile(values, tail)
    return out


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, from /proc."""
    by_parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":
            by_parent.setdefault(int(ppid), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(by_parent.get(p, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (the
    driver JVM and the Python workers descend from the benchmark)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's resident memory on a daemon thread
    until ``stop()``; ``peak_mb`` is the largest sample."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
