"""Metric arithmetic shared by the workloads and the traced run.

Pure functions, no Spark: percentiles, interval unions for self time,
and the storage-accounting ratios.
"""

from __future__ import annotations

import math

#: candidate percentiles, highest first, for :func:`tail_percentile`
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (``p`` in (0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly beyond the nearest-rank
    ``p``-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least ten samples beyond it, or
    ``None`` when even the median has fewer than ten beyond it."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= 10:
            return p
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
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

    Children may overlap each other (the engine commits tables from
    several driver threads at once), so the covered part is the length
    of the *union* of the children, clipped to the span."""
    start, end = span
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)


def stored_bytes_per_user_byte(live_part_bytes: dict[str, int], logical_bytes: int) -> float:
    """On-disk bytes of the live parts of every index table over the
    logical bytes of the live objects. Below 1 means the store saves
    space; above 1 means index overhead outweighs dedup."""
    if logical_bytes <= 0:
        raise ValueError("no live objects to account against")
    return sum(live_part_bytes.values()) / logical_bytes
