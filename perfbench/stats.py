"""Latency statistics shared by run.py and its tests."""

BEYOND = 10


def tail(samples, beyond=BEYOND):
    """(value, quantile, samples strictly above it): the highest percentile
    of the samples that still has at least `beyond` samples above it, where
    the quantile is the share of samples at or below the value. Too few
    samples for one give (None, None, 0)."""
    s = sorted(samples)
    for v in reversed(s):
        above = sum(x > v for x in s)
        if above >= beyond:
            return v, (len(s) - above) / len(s), above
    return None, None, 0
