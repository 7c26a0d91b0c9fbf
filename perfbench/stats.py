"""Percentiles, the sample-count rule and order-insensitive hashes.

Pure Python and pandas: nothing here touches Spark, so the tests in
``perfbench/tests`` exercise it directly.
"""

from __future__ import annotations

import math

# A percentile is reported as supported only when at least this many
# samples lie beyond it (choosing-metrics: "the highest percentile that
# has at least ten samples beyond it"), so p90 needs n >= 100.
TAIL_SAMPLES = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``,
    the same definition as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def min_samples(q: float) -> int:
    """Smallest sample count that leaves ``TAIL_SAMPLES`` samples above
    the ``q``-th percentile."""
    if not 0 <= q < 100:
        raise ValueError(f"percentile {q} outside 0..100")
    return math.ceil(round(TAIL_SAMPLES * 100.0 / (100.0 - q), 9))


def supported(q: float, n: int) -> bool:
    return n >= min_samples(q)


def summarize(values) -> dict:
    """Median and p90 of ``values`` with their sample count and whether
    the sample supports the p90."""
    n = len(values)
    if n == 0:
        return {"n": 0}
    return {
        "n": n,
        "p50": percentile(values, 50),
        "p90": percentile(values, 90),
        "p90_supported": supported(90, n),
    }


def frame_hash(pdf, columns: list[str]) -> tuple[int, int]:
    """Order-insensitive content hash of a pandas frame: (row count,
    sum of per-row hashes mod 2**64). Summing, not xor-ing, keeps
    duplicate rows from cancelling out."""
    import pandas as pd

    if len(pdf) == 0:
        return (0, 0)
    h = pd.util.hash_pandas_object(pdf[columns], index=False)
    return (len(pdf), int(h.to_numpy(dtype="uint64").sum(dtype="uint64")))
