"""Statistics the benchmark reports: medians, quartiles, rates and
run-to-run spread."""
import math
import statistics


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    xs = list(xs)
    if len(xs) < 2:
        x = median(xs)
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median (0 when the median
    is 0 and every sample equals it)."""
    q1, q2, q3 = quartiles(xs)
    if q2 == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(q2)


def rate(units, seconds):
    """Units per second over summed samples: sum(units) / sum(seconds)."""
    units, seconds = list(units), list(seconds)
    total = sum(seconds)
    if total <= 0:
        return 0.0
    return sum(units) / total


def agree(first, second, bound, better):
    """Whether the second set's median is not worse than the first's by
    more than `bound` (a share of the first median)."""
    a, b = median(first), median(second)
    if a == 0:
        return b == 0
    worse = (b - a) / abs(a) if better == "lower" else (a - b) / abs(a)
    return worse <= bound
