"""Statistics shared by the benchmark runner and the steadiness tool."""

import math
import statistics

MIN_BEYOND = 10
CANDIDATES = (99.9, 99, 95, 90, 75, 50)


def percentile(values, p):
    """Nearest-rank p-th percentile of `values`.

    A percentile is only reported when at least MIN_BEYOND samples lie
    beyond it; otherwise ValueError, since its value would rest on a
    handful of samples.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    beyond = len(xs) - rank
    if beyond < MIN_BEYOND:
        raise ValueError(f"p{p} of {len(xs)} samples has {beyond} beyond it, "
                         f"fewer than {MIN_BEYOND}")
    return xs[rank - 1]


def highest_percentile(values):
    """The highest of CANDIDATES with MIN_BEYOND samples beyond it, as
    (p, value), or None when even the lowest lacks them."""
    for p in CANDIDATES:
        try:
            return p, percentile(values, p)
        except ValueError:
            continue
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover.

    `span` and each child are (start, end); children are clipped to the
    span, and overlapping children are counted once.
    """
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length([c for c in clipped if c[1] > c[0]])


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")
