"""Small statistics helpers shared by the benchmark, its A/B helper and tests."""

import math
import statistics

# percentiles the tail is reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def nearest_rank(sorted_values, p):
    """Nearest-rank p-th percentile of an ascending list."""
    k = max(1, math.ceil(len(sorted_values) * p / 100.0))
    return sorted_values[k - 1]


def tail(values):
    """The highest ladder percentile with at least ten samples beyond it.

    "Beyond" means strictly after the nearest-rank position. Returns
    ``(value, percentile, n)``. With fewer than 20 samples no ladder
    percentile qualifies; the median is returned with percentile 50 and the
    caller reports the short sample count beside it.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        return float("nan"), None, 0
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(n * p / 100.0)) >= TAIL_MIN_BEYOND:
            return nearest_rank(s, p), p, n
    return statistics.median(s), 50.0, n


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span name: duration minus the union of its children.

    ``spans`` are dicts with ``id``, ``parent``, ``name``, ``start``, ``end``.
    Returns ``{name: (total_ms, self_ms, count)}``.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        dur = s["end"] - s["start"]
        own = dur - union_ms(children.get(s["id"], []), s["start"], s["end"])
        t, o, c = out.get(s["name"], (0.0, 0.0, 0))
        out[s["name"]] = (t + dur, o + own, c + 1)
    return out
