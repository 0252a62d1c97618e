"""Order statistics the benchmark reports."""

from __future__ import annotations


def tail(values, beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile of ``values`` that still has at least
    ``beyond`` samples above it: ``(value, percentile, sample count)``,
    where the percentile is the share of samples at or below the value.
    None when there are not more than ``beyond`` samples."""
    ordered = sorted(values)
    n = len(ordered)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return float(ordered[k]), 100.0 * (k + 1) / n, n
