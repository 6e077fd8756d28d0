"""Metric maths for the benchmark: percentiles and trends."""
import statistics


def percentile(samples, p):
    """Nearest-rank p-th percentile, or None when fewer than ten samples
    lie beyond it (a tail read off fewer points is noise)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0 or not 0 < p < 100:
        return None
    rank = -(-p * n // 100)  # ceil(p*n/100), 1-based
    rank = max(1, int(rank))
    if n - rank < 10:
        return None
    return xs[rank - 1]


def highest_percentile(samples, candidates=(99, 95, 90, 75, 50)):
    """(p, value) for the highest candidate percentile that is reportable."""
    for p in candidates:
        v = percentile(samples, p)
        if v is not None:
            return p, v
    return None, None


def trend_ratio(samples):
    """Median of the second half over the median of the first half, in
    arrival order: about 1.0 when the timed phase no longer drifts."""
    if len(samples) < 4:
        return None
    h = len(samples) // 2
    a, b = statistics.median(samples[:h]), statistics.median(samples[h:])
    return b / a if a > 0 else None

