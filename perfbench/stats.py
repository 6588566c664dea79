"""Summary statistics and host diagnostics.

Nothing here touches Spark: the helpers read ``/proc`` and time a fixed
Python loop, so they behave identically on both sides of a comparison.
"""

from __future__ import annotations

import math
import os
import time

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile
    that still has ``beyond`` samples above it.

    With ``n`` sorted samples that is the sample at index ``n - beyond - 1``,
    i.e. percentile ``100 * (n - beyond) / n``.  A run with ``n <= beyond``
    has no such percentile: it reports its maximum (percentile 100, zero
    samples beyond) and the caller prints that count next to it.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return s[-1], 100.0, 0
    k = n - beyond - 1
    return s[k], 100.0 * (k + 1) / n, n - k - 1


# ---------------------------------------------------------------------------
# Host weather
# ---------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def steal_seconds() -> float:
    """Cumulative CPU steal of the host, in seconds (``/proc/stat``)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def calibrate(iterations: int = 3_000_000) -> float:
    """Seconds for a fixed single-thread Python loop — a gauge of how fast
    the host runs right now, independent of the program under test."""
    t0 = time.perf_counter()
    s = 0
    for i in range(iterations):
        s += i
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Process-tree memory
# ---------------------------------------------------------------------------


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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRss:
    """Peak resident memory of the process tree: the driver, the JVM and
    the Python workers.  Each sample sums the high-water marks of the
    processes alive at that moment, so a spike between samples still
    counts; the peak is the largest such sum."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_peak_rss_kb(p) for p in process_tree()))

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def finite(x: float) -> float:
    if not math.isfinite(x):
        raise ValueError(f"non-finite metric value {x!r}")
    return x
