"""Statistics used by the benchmark's reports."""
import math

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, p, min_beyond=MIN_BEYOND):
    """The `p`-th percentile (0 < p < 100) of `values`, interpolated
    linearly between order statistics.

    Refuses (``TooFewSamples``) unless at least `min_beyond` samples lie
    beyond the percentile, i.e. ``floor(n * (1 - p / 100)) >= min_beyond``:
    a p90 needs 100 samples, a p50 needs 20.
    """
    if not 0 < p < 100:
        raise ValueError(f"percentile out of range: {p}")
    xs = sorted(values)
    n = len(xs)
    beyond = math.floor(n * (1 - p / 100.0) + 1e-9)
    if beyond < min_beyond:
        raise TooFewSamples(f"p{p:g} of {n} samples has {beyond} beyond it; "
                            f"{min_beyond} needed")
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    xs = sorted(values)
    if not xs:
        raise TooFewSamples("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0
