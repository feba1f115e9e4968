"""Small statistics helpers of the benchmark, kept apart so they can be tested."""
import statistics


def union(intervals):
    """Merges (start, end) intervals into a sorted list of disjoint ones.

    Jobs overlap when a query builds sub-plans on several driver threads,
    so busy time is the length of their union, never the sum.
    """
    merged = []
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if merged and start <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], end)
        else:
            merged.append([start, end])
    return [tuple(m) for m in merged]


def covered(intervals, lo, hi):
    """Length of [lo, hi] that the union of `intervals` covers."""
    return sum(max(0, min(e, hi) - max(s, lo)) for s, e in union(intervals))


def tail(values):
    """The highest percentile that has at least ten samples beyond it.

    Returns (value, percentile, samples beyond). That is the eleventh
    largest sample, at percentile 100 * (n - 10) / n. With fewer than
    eleven samples no percentile has ten beyond it, and the slowest
    sample stands in, reported as percentile 100 with none beyond.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 11:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def median_pass(samples):
    """Wall time of a pass at each op's median: the sum over op names of
    the median of that op's (name, time) samples.

    Unlike the median of whole passes, it sets aside a slow op in one pass
    and a different slow op in the next, so it needs fewer passes to
    settle.
    """
    by_name = {}
    for name, t in samples:
        by_name.setdefault(name, []).append(t)
    if not by_name:
        raise ValueError("no samples")
    return sum(statistics.median(ts) for ts in by_name.values())


def spread(values):
    """Quartile distance over the median, as `statistics.quantiles` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
