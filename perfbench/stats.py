"""Order statistics used by the benchmark's reports.

The median of an even number of samples is the mean of the two middle
values (``statistics.median``), never the lower middle one.  Quartiles use
``statistics.quantiles(n=4)`` (the "exclusive" method), the same rule the
acceptance check applies to the ten-run spreads.
"""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); a single sample is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no samples")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count of one metric's samples."""
    q1, _, q3 = quartiles(values)
    return {"median": median(values), "q1": q1, "q3": q3, "n": len(values)}
