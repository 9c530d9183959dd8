"""Order statistics and span arithmetic for the benchmark (pure Python).

Nothing here touches Spark, so the tests for it run anywhere.
"""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, the "tail" is one or two unlucky samples.
MIN_BEYOND = 10


class InsufficientSamples(ValueError):
    """Too few samples for the requested percentile."""


def quantile(values, q: float) -> float:
    """The ``q``-quantile (0 <= q <= 1) by linear interpolation between
    closest ranks (NumPy's default method)."""
    xs = sorted(values)
    if not xs:
        raise InsufficientSamples("no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def samples_needed(pct: int, min_beyond: int = MIN_BEYOND) -> int:
    """Fewest samples for which ``min_beyond`` of them lie above the
    ``pct``-th percentile (integer percent, so p90 needs exactly 100)."""
    if not 0 < pct < 100:
        raise ValueError(f"percentile {pct} outside (0, 100)")
    return -(-min_beyond * 100 // (100 - pct))


def tail(values, pct: int, min_beyond: int = MIN_BEYOND) -> tuple[float, int]:
    """(``pct``-th percentile, sample count). Raises InsufficientSamples
    unless at least ``min_beyond`` samples lie beyond the percentile."""
    n = len(values)
    need = samples_needed(pct, min_beyond)
    if n < need:
        raise InsufficientSamples(
            f"p{pct} needs {need} samples to leave {min_beyond} beyond it; have {n}")
    return quantile(values, pct / 100.0), n


def quartiles(values) -> tuple[float, float, float]:
    """(Q1, median, Q3) across runs, as ``statistics.quantiles(n=4)``
    (its default exclusive method) computes them."""
    if len(values) < 2:
        raise InsufficientSamples("quartiles need at least 2 values")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def self_times(spans) -> dict:
    """Span id -> self time: the span's duration minus the part of its
    interval that its direct children cover. Children that overlap each
    other (concurrent work) are counted once, and a child's time outside
    its parent's interval is ignored.

    ``spans`` is an iterable of mappings with ``id``, ``parent`` (an id
    or None), ``start`` and ``end``."""
    by_id = {s["id"]: s for s in spans}
    kids: dict = {}
    for s in by_id.values():
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for sid, s in by_id.items():
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_a = cur_b = None
        for c in sorted(kids.get(sid, []), key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[sid] = (hi - lo) - covered
    return out
