"""Pure statistics for the benchmark: medians and quartiles, the tail
percentile rule, span self time, driver gap and error counting.

Times are in the units the caller passes; span and job intervals are
(start, end) pairs on one clock.
"""

import statistics

# Candidate percentiles, highest last.
PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them;
    a single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def tail_percentile(n):
    """The highest candidate percentile that leaves at least ten of `n`
    samples beyond it, or None when even the median does not."""
    best = None
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= 10.0:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile `p` (0-100) of `values`."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def union_length(intervals):
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clip(intervals, lo, hi):
    """Intervals cut to [lo, hi]; those outside are dropped."""
    out = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out


def driver_gap(span, jobs):
    """Wall time of `span` not covered by any job interval inside it: the
    driver's planning, listing and bookkeeping between Spark jobs."""
    lo, hi = span
    return (hi - lo) - union_length(clip(jobs, lo, hi))


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    its child spans cover. `spans` maps id -> (parent, start, end)."""
    children = {}
    for sid, (parent, a, b) in spans.items():
        children.setdefault(parent, []).append((a, b))
    out = {}
    for sid, (_, a, b) in spans.items():
        out[sid] = (b - a) - union_length(clip(children.get(sid, []), a, b))
    return out


def count_errors(attempted, failed_ops, mismatches):
    """(attempted, failed, rate): an operation that raised and an output
    that did not match its expected digest each count as one failure."""
    failed = failed_ops + mismatches
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return attempted, failed, failed / attempted
