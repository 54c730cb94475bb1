"""Pure-Python statistics helpers shared by every workload.

Kept free of Spark imports so the self-tests run without a JVM.
"""

from __future__ import annotations

# Percentiles tried for a tail figure, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    if len(ordered) == 1:
        return ordered[0]
    pos = (len(ordered) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> dict | None:
    """The highest percentile of ``TAIL_LADDER`` that still has at least
    ``min_beyond`` samples strictly above its rank, with the sample count.

    Returns ``None`` when even the median has fewer than ``min_beyond``
    samples beyond it: such a sample supports no tail figure at all.
    """
    n = len(values)
    for pct in TAIL_LADDER:
        beyond = round(n * (100.0 - pct) / 100.0, 9)  # no float shortfall at 10.0
        if beyond >= min_beyond:
            return {"pct": pct, "value": percentile(values, pct), "n": n,
                    "beyond": int(beyond)}
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end < start:
            raise ValueError(f"interval ends before it starts: {(start, end)}")
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent, overlaps between children counted once).

    ``spans`` are dicts with ``id``, ``parent`` (id or None), ``start``
    and ``end``.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = s["parent"]
        if parent is None or parent not in by_id:
            continue
        p = by_id[parent]
        start, end = max(s["start"], p["start"]), min(s["end"], p["end"])
        if end > start:
            children.setdefault(parent, []).append((start, end))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []))
        for s in spans
    }
