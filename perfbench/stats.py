"""Statistics the benchmark reports: percentiles, the tail rule, and
the interval arithmetic behind a span's gap_ms and span coverage."""

import math


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of `values`."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail_pct(n, beyond=10):
    """The highest whole percentile p that leaves at least `beyond` of
    `n` samples above its nearest rank; None when n <= beyond."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gap_ms(span, jobs):
    """Span wall minus the part of it covered by its Spark jobs."""
    lo, hi = span
    return (hi - lo) - covered(jobs, lo, hi)
