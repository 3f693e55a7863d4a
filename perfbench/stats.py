"""Summary statistics used by every workload's report."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    """Geometric mean, as TPC-H's power metric summarises a query mix.
    With one or a few samples per operation type, the mean of the logs
    varies less between runs than their median does."""
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples above it:
    ``(value, percentile, sample count)``, or None below 11 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    i = n - 11
    return float(xs[i]), 100.0 * (i + 1) / n, n


def fmt_tail(xs, unit: str) -> str:
    t = tail(xs)
    if t is None:
        return f"n/a (n={len(xs)}, needs 11 samples)"
    v, p, n = t
    return f"{v:.4f} {unit} (p{p:.0f}, n={n})"


def union_len(spans, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` spans clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
