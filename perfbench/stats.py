"""Summary statistics for the benchmark report."""

from __future__ import annotations

import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank q-th percentile (0 < q < 100) of ``xs``."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def tail(xs: list[float], q: float = 90.0, min_beyond: int = 10) -> float | None:
    """The q-th percentile, or None when fewer than ``min_beyond``
    samples lie strictly above it (too few to say anything about it)."""
    if not xs:
        return None
    p = percentile(xs, q)
    return p if sum(1 for x in xs if x > p) >= min_beyond else None


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of one process, in MB; 0 when the
    process has gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def reset_hwm(pid: int | str = "self") -> None:
    """Restart the peak resident set size of one process from its
    current size (writing 5 to ``clear_refs``, Linux 4.0+)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")
