"""Order statistics shared by the benchmark and its steadiness tool."""

from __future__ import annotations

import statistics


# fewer samples than this leave no tail worth the name: with ten
# samples beyond it, the "tail" would sit below the median
TAIL_MIN_SAMPLES = 20


def timing(xs: list[float], unit: str, scale: float = 1.0) -> dict:
    """Median, the highest percentile with at least ten samples beyond
    it (``None`` below TAIL_MIN_SAMPLES samples), and the sample count."""
    s = sorted(x * scale for x in xs)
    out = {"unit": unit, "count": len(s), "median": statistics.median(s) if s else None,
           "tail": None, "tail_pct": None}
    if len(s) >= TAIL_MIN_SAMPLES:
        i = len(s) - 11
        out["tail"] = s[i]
        out["tail_pct"] = round(100.0 * (i + 1) / len(s), 1)
    return out


def spread(xs: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(xs, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
