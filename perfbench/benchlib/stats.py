"""Order statistics and span arithmetic used by the benchmark's reports."""
import math
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) == 1:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def tail_percentile(values, highest=90, beyond=10):
    """The highest whole percentile, at most `highest`, with at least `beyond`
    samples above it, as (percentile, value, sample count); None when there
    are too few samples for any. Nearest-rank: the p-th percentile of n
    sorted samples is the one at rank ceil(p * n / 100).
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(highest, 0, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= beyond:
            return p, xs[rank - 1], n
    return None


def task_skew(run_times_ms):
    """Longest task time over the median task time (1.0 for even tasks); the
    median is floored at 1 ms, the resolution Spark reports task time in.
    """
    if not run_times_ms:
        return 0.0
    return max(run_times_ms) / max(statistics.median(run_times_ms), 1)


def covered(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total = 0.0
    end_so_far = -math.inf
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end_so_far:
            total += e - s
            end_so_far = e
        elif e > end_so_far:
            total += e - end_so_far
            end_so_far = e
    return total


def self_times(spans):
    """Each span's duration minus the part of it its child spans cover.

    `spans` maps id -> dict with "parent", "start" and "end".
    """
    children = {}
    for sid, s in spans.items():
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {sid: (s["end"] - s["start"]) - covered(children.get(sid, []), s["start"], s["end"])
            for sid, s in spans.items()}
