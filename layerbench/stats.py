"""Sample summaries: median plus the highest percentile that still has
at least ten samples beyond it."""

from __future__ import annotations

import statistics

# candidate tail percentiles in per-mille, highest first
_LADDER = (999, 990, 900, 750, 500)
MIN_BEYOND = 10


def samples_beyond(n: int, per_mille: int) -> float:
    return n * (1000 - per_mille) / 1000


def tail_percentile(n: int) -> float | None:
    """Highest percentile of the ladder with >= ten of ``n`` samples
    beyond it, or None when ``n`` is too small for any."""
    for pm in _LADDER:
        if n * (1000 - pm) >= MIN_BEYOND * 1000:  # exact in integers
            return pm / 10
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """{n, median, tail_p, tail}: ``tail`` is None when no percentile
    has ten samples beyond it."""
    n = len(values)
    if n == 0:
        return {"n": 0, "median": None, "tail_p": None, "tail": None}
    p = tail_percentile(n)
    return {
        "n": n,
        "median": statistics.median(values),
        "tail_p": p,
        "tail": percentile(values, p) if p is not None else None,
    }
