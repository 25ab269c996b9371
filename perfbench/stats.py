"""Pure statistics helpers for the benchmark (no Spark, no I/O)."""

from __future__ import annotations

import math


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) and the number of
    samples strictly above it, so a caller can tell whether the tail it
    reports rests on enough samples."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < q <= 100:
        raise ValueError(f"percentile q must be in (0, 100], got {q}")
    ordered = sorted(values)
    value = ordered[max(1, math.ceil(q / 100 * len(ordered))) - 1]
    return value, sum(1 for v in ordered if v > value)


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    start, end = span["start"], span["end"]
    covered = 0.0
    cur_start = cur_end = None
    for s, e in sorted((max(c["start"], start), min(c["end"], end)) for c in children):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (end - start) - covered
