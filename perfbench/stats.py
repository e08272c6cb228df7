"""Order statistics shared by the benchmark and its compare command."""
import statistics

# tail percentiles tried from the highest down
TAILS = (99, 95, 90, 75)


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def tail_percentile(n):
    """The highest percentile of TAILS with at least ten of n samples
    beyond it, or None when n is too small for any."""
    for p in TAILS:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    rank = max(1, -(-p * len(s) // 100))
    return s[int(rank) - 1]


def tail(values):
    """(percentile, value) of the highest tail with ten samples beyond
    it, or None."""
    p = tail_percentile(len(values))
    return None if p is None else (p, percentile(values, p))
