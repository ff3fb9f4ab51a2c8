"""Metric arithmetic shared by the runner, the steadiness report and the tests."""

from __future__ import annotations

import math
import statistics

#: Percentiles a timing may report, lowest first.
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def geomean_of_medians(samples: dict[str, list[float]]) -> float:
    """Geometric mean, over queries, of each query's median latency.

    Every query weighs the same however many samples it has, so one slow
    query cannot dominate the way it does in the median of a pooled mix."""
    meds = [statistics.median(v) for v in samples.values() if v]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def highest_supported_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest ladder percentile with at least ``beyond`` of ``n`` samples
    above it, or None when even the median has fewer."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (1.0 - p / 100.0) >= beyond - 1e-9:
            best = p
    return best


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles, (max - min) / median and IQR / median."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "range_over_median": (max(values) - min(values)) / med if med else float("nan"),
        "iqr_over_median": (q3 - q1) / med if med else float("nan"),
    }
