"""Order statistics shared by the benchmark and its self-tests."""
import statistics

# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10
PERCENTILES = (50, 90, 99)


def median(values):
    return statistics.median(values)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, -(-len(xs) * p // 100))
    return xs[int(k) - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, -(-n * p // 100))


def reportable(n, percentiles=PERCENTILES, min_beyond=MIN_BEYOND):
    """The percentiles of n samples that have min_beyond samples above
    them. The median is always reportable."""
    return [p for p in percentiles if p == 50 or beyond(n, p) >= min_beyond]


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles Python's statistics.quantiles(n=4) gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
