"""Measurement helpers: host canaries, process CPU and memory, percentiles.

Everything here reads only the benchmark's own process, its JVM child and
``/proc/stat``; nothing changes a machine setting.
"""

from __future__ import annotations

import math
import os
import resource
import time

import numpy as np

CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat.  Guest
    time is already counted inside user/nice, so it is left out of the
    total."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    total = sum(vals[:8])
    return vals[7], total


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    d_total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / d_total if d_total > 0 else 0.0


def copy_gbps(mib: int = 64, reps: int = 5) -> float:
    """Single-core one-way memory-copy throughput: bytes copied per second
    by ``np.copyto`` of a ``mib`` MiB buffer, best of ``reps``."""
    src = np.ones(mib * 1024 * 1024 // 8)
    dst = np.empty_like(src)
    best = math.inf
    for _ in range(reps):
        t = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t)
    return src.nbytes / best / 1e9


def proc_cpu_s(pid: int | str = "self") -> float:
    """user + system CPU seconds of one process, from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return float("nan")
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def rss_peak_mb() -> float:
    """Peak resident set of this process (ru_maxrss is KiB on Linux)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def percentile(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def gmean(xs) -> float:
    return float(np.exp(np.mean(np.log(np.asarray(xs, dtype=float)))))


def q_error(est: float, true: float) -> float:
    """max(est/true, true/est), both clamped to at least one row, so an
    empty result and an estimate below one row compare as equal."""
    e, t = max(est, 1.0), max(true, 1.0)
    return max(e / t, t / e)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
