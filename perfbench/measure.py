"""Statistics and host readings shared by the benchmark and its tests."""

from __future__ import annotations

import os
import re
import statistics
import time

MIN_BEYOND = 10  # a reported tail percentile keeps at least this many samples above it
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``MIN_BEYOND`` samples strictly after it in sorted order: the
    nearest-rank value at rank ``n - MIN_BEYOND``."""
    xs = sorted(values)
    rank = len(xs) - MIN_BEYOND
    if rank < 1:
        raise ValueError(f"{len(xs)} samples leave no percentile with {MIN_BEYOND} beyond it")
    return float(xs[rank - 1]), rank / len(xs)


def cpu_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: a reading of host speed
    that no change to the program can move."""
    t = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and iowait shares of all CPU time between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"steal": d[7] / total, "iowait": d[4] / total}


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, data files) under ``path``; data files exclude
    hidden and underscore-prefixed entries such as checksums and _SUCCESS."""
    total = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            if not name.startswith((".", "_")):
                files += 1
    return total, files
