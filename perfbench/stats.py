"""The benchmark's arithmetic: latency summaries, failure share, self time.

Pure functions with no Spark dependency, covered by ``tests/``.
"""

from __future__ import annotations

import math


def nearest_rank(sorted_vals: list[float], pct: int) -> float:
    """The ``pct``-th percentile by nearest rank (1-based rank
    ``ceil(pct/100 * n)``, at least 1)."""
    n = len(sorted_vals)
    rank = max(1, math.ceil(pct * n / 100))
    return sorted_vals[rank - 1]


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it,
    but never below the median.

    With nearest rank, percentile p leaves ``n - ceil(p*n/100)`` samples
    above its rank, which is at least ten exactly when
    ``p <= 100 * (n - 10) / n``. With fewer than 20 samples that is below
    the median (or no percentile at all), so the tail is the median."""
    return max(50, (100 * (n - 10)) // n) if n else 50


def summarize(samples_ms: list[float]) -> dict:
    """Median and tail of a latency sample, with the tail's percentile
    and the sample count."""
    if not samples_ms:
        return {"n": 0, "p50": None, "tail": None, "tail_pct": None}
    vals = sorted(samples_ms)
    pct = tail_percentile(len(vals))
    return {
        "n": len(vals),
        "p50": nearest_rank(vals, 50),
        "tail": nearest_rank(vals, pct),
        "tail_pct": f"p{pct}",
    }


def failed_frac(attempted: int, raised: int, wrong: int) -> float:
    """Share of attempted ops that raised or returned a wrong result.

    An op that raised has no result to check, so ``raised + wrong`` never
    double-counts; nothing is dropped from the denominator."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    if raised + wrong > attempted:
        raise ValueError("more failures than attempts")
    return (raised + wrong) / attempted


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.

    Children are clipped to the parent's interval and their overlaps are
    counted once, so parallel child spans (concurrent Spark jobs) never
    drive the self time below zero."""
    start, end = span
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)

