"""Statistics for the benchmark's metrics: percentiles and self time."""
import statistics

# candidate tail percentiles, highest first
TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, p):
    """Nearest-rank percentile ``p`` (0-100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(rank) - 1]


def beyond(n, p):
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``p`` percentile."""
    return n - max(1, int(-(-n * p // 100)))


def tail_percentile(n):
    """The highest percentile in ``TAILS`` with at least ten of ``n``
    samples beyond it, or None when even the lowest has fewer."""
    for p in TAILS:
        if beyond(n, p) >= 10:
            return p
    return None


def median(values):
    return statistics.median(values)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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

    Children are clipped to the span first, so a child that starts
    before or ends after its parent only subtracts the overlap."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)
