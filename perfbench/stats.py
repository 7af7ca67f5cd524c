"""Summary statistics shared by the benchmark's report and its tests."""
import math

# Candidate tail percentiles, highest first.
TAILS = (99.9, 99.0, 90.0, 50.0)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples; the epsilon
    keeps float error (99.9% of 10000 = 9990.000000000002) off the
    ceiling."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail_percentile(n):
    """The highest percentile in TAILS that leaves at least ten of `n`
    samples beyond it, or None when even the median does not."""
    for p in TAILS:
        if n - _rank(p, n) >= 10:
            return p
    return None


def tail(values):
    """(percentile, value) by the tail rule; falls back to the median,
    labelled 50.0, when there are too few samples for any tail."""
    p = tail_percentile(len(values))
    if p is None:
        return 50.0, median(values)
    return p, percentile(values, p)


def geomean(values):
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))
