"""Statistics the benchmark reports, kept free of I/O so they can be tested.

Intervals are (start, end) pairs in one time unit; spans are dicts with
`start_us`, `end_us` as written by the benchmark's recorder.
"""
import math


def median(xs):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def geomean(xs):
    """Geometric mean of positive values."""
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(n, beyond=10):
    """Highest whole percentile that still has at least `beyond` of `n`
    samples above it, or None when n < beyond (no percentile qualifies).
    With 100 samples this is 90: p90 has ten samples beyond it."""
    if n < beyond:
        return None
    return int(math.floor(100.0 * (n - beyond) / n))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    rank = max(1, int(math.ceil(p / 100.0 * len(s))))
    return s[rank - 1]


def union(intervals):
    """Merge overlapping or touching intervals; returns a sorted list."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def covered(intervals, lo=None, hi=None):
    """Total length of the union of intervals, clipped to [lo, hi]."""
    if lo is not None:
        intervals = [(max(a, lo), min(b, hi)) for a, b in intervals]
    return sum(b - a for a, b in union(intervals))


def self_time(span, children):
    """A span's length minus the part of it its children cover."""
    lo, hi = span["start_us"], span["end_us"]
    kids = [(c["start_us"], c["end_us"]) for c in children]
    return (hi - lo) - covered(kids, lo, hi)


def quartile_spread(xs):
    """Inter-quartile distance over the median (statistics.quantiles)."""
    import statistics
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)
