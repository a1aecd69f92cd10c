"""Pure arithmetic of the benchmark: percentiles, the tail-percentile rule,
open-loop schedule lateness and span self time.

No Spark, no I/O — the unit tests in ``test_perfbench.py`` import this
module alone.
"""

from __future__ import annotations

import math

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile among n samples
    (rounded first so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it. Raises on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    return xs[_rank(len(xs), p) - 1]


def median(values) -> float:
    """Middle value (mean of the two middle values for an even count)."""
    if not values:
        raise ValueError("median of an empty sample")
    xs = sorted(values)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile."""
    return n - _rank(n, p)


def tail_percentile(n: int, candidates=TAIL_PERCENTILES,
                    min_beyond: int = 10) -> float | None:
    """The highest candidate percentile that still has at least
    ``min_beyond`` samples beyond it, or None when even the lowest
    candidate has fewer (too few samples to report any tail)."""
    for p in candidates:
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


def open_loop_lateness(due, sent) -> list[float]:
    """Per-request lateness of an open-loop generator: how long after its
    scheduled time each request was actually sent (never negative — a
    request sent early counts as on time)."""
    if len(due) != len(sent):
        raise ValueError("due and sent must pair up")
    return [max(0.0, s - d) for d, s in zip(due, sent)]


def open_loop_schedule(rate: float, duration: float) -> list[float]:
    """Due offsets (seconds from start) of a fixed-rate open loop: request
    i is due at i / rate, for every i whose due time is < duration."""
    if rate <= 0:
        raise ValueError("rate must be positive")
    n = max(0, math.ceil(duration * rate))
    return [i / rate for i in range(n) if i / rate < duration]


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals — overlapping
    children (parallel writes) are counted once."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span, children) -> float:
    """A span's self time: its duration minus the part of its interval
    that its child spans cover. Child time outside the parent interval is
    clipped; overlapping children are counted once."""
    lo, hi = span
    clipped = [(max(lo, a), min(hi, b)) for a, b in children]
    return (hi - lo) - covered(clipped)
