"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import math


class TooFewSamples(ValueError):
    """A percentile was asked of fewer samples than it needs."""


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile of ``values``, interpolated linearly
    between the two nearest ranks.

    Refuses to report a percentile with fewer than ten samples beyond it:
    p90 needs at least 100 samples, p50 at least 20.
    """
    n = len(values)
    if n == 0 or n * (100 - q) / 100 < 10:
        raise TooFewSamples(
            f"p{q:g} of {n} samples leaves fewer than ten samples beyond it"
        )
    ordered = sorted(values)
    pos = (n - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)
