"""Sample summaries and the output checks shared by every workload."""

from __future__ import annotations

import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


class TooFewSamples(ValueError):
    pass


def percentile(samples: list[float], q: float) -> float:
    """The ``q``-th percentile (0 < q < 100, linear interpolation).

    Refuses a percentile with fewer than ``MIN_BEYOND`` samples above it:
    such a tail is one or two unlucky samples, not a measurement.
    """
    n = len(samples)
    if not 0 < q < 100:
        raise ValueError(f"percentile must lie in (0, 100), got {q}")
    beyond = n - int(n * q / 100.0)
    if q > 50 and beyond < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q:g} of {n} samples has {beyond} beyond it; need >= {MIN_BEYOND}"
        )
    if n < 2:
        if n == 1:
            return float(samples[0])
        raise TooFewSamples("no samples")
    xs = sorted(samples)
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(samples: list[float]) -> dict:
    """Median, quartiles and sample count."""
    if not samples:
        raise TooFewSamples("no samples")
    if len(samples) == 1:
        q1 = q3 = samples[0]
    else:
        q1, _, q3 = statistics.quantiles(samples, n=4, method="inclusive")
    return {"n": len(samples), "median": statistics.median(samples), "q1": q1, "q3": q3}


def digest_mismatch(expected: dict, got: dict) -> str | None:
    """Compare two output digests ``{"n": rows, "h": hash sum}``; return a
    description of the difference, or None when they agree."""
    if expected["n"] != got["n"]:
        return f"row count {got['n']} != expected {expected['n']}"
    if expected["h"] != got["h"]:
        return f"digest {got['h']} != expected {expected['h']}"
    return None
