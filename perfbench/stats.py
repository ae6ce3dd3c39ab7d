"""Order statistics shared by the workloads (percentiles interpolated
linearly between closest ranks, as numpy's default and Python's
``statistics.quantiles(method="inclusive")``)."""

from __future__ import annotations

import math


def _pos(n: int, p: float) -> float:
    # 0-based position of the p-th percentile among n sorted samples
    return (n - 1) * p / 100.0


def percentile(xs, p: float) -> float:
    """The ``p``-th percentile, interpolated between the two samples around
    its position. 0.0 for no samples. Unlike the nearest rank, it does not
    jump to another sample when the sample count changes by one, so a batch
    run's p90 stays near its second-slowest execution whether the window
    held three whole passes or four."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = _pos(len(s), p)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (pos - lo) * (s[hi] - s[lo]))


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the ``p``-th percentile's position."""
    return n - 1 - math.floor(_pos(n, p) + 1e-9) if n else 0


def tail_percentile(n: int, tail: int = 10) -> float | None:
    """The highest percentile that still has ``tail`` samples beyond it, or
    None when ``n`` samples cannot support one."""
    if n <= tail:
        return None
    return 100.0 * (n - 1 - tail) / (n - 1)


def median(xs) -> float:
    return percentile(xs, 50.0)


def sample_note(n: int) -> str:
    """The sample count line printed beside the latency percentiles."""
    tail = tail_percentile(n)
    best = f"p{math.floor(tail):.0f} is the highest with ten" if tail is not None \
        else "none has ten beyond it"
    return f"{n} latency samples; p90 has {beyond(n, 90)} beyond it ({best})"
