"""Summary statistics shared by every workload."""

from __future__ import annotations

import resource
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """(percentile, value, n) for the highest order statistic that has
    at least ten samples above it.  With ten samples or fewer no such
    statistic exists; the maximum is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 10:
        return 100.0, float(xs[-1]), n
    return 100.0 * (n - 10) / n, float(xs[n - 11]), n


def failed_ratio(failed: int, attempted: int) -> float:
    """Operations that raised ÷ operations attempted."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def driver_peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver JVM VmHWM plus this Python process's ru_maxrss, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
