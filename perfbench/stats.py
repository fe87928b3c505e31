"""Summary statistics and span arithmetic for the benchmark.

Timings are reported as a median with quartiles and a sample count. A
tail percentile is reported only when at least ``MIN_BEYOND`` samples lie
above it, so a p90 taken from nine rounds is never passed off as one.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them;
    a single sample is its own quartiles."""
    if not values:
        raise ValueError("quartiles of an empty sample")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def supported_percentile(values: list[float], p: float,
                         min_beyond: int = MIN_BEYOND) -> float | None:
    """The ``p``-th percentile (nearest rank), or None when fewer than
    ``min_beyond`` samples lie strictly above it."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    value = xs[rank - 1]
    beyond = sum(1 for x in xs if x > value)
    return value if beyond >= min_beyond else None


def highest_supported_percentile(values: list[float],
                                 candidates=(99.9, 99, 95, 90, 75, 50),
                                 min_beyond: int = MIN_BEYOND):
    """(p, value) for the highest candidate percentile that has at least
    ``min_beyond`` samples beyond it, or None."""
    for p in candidates:
        v = supported_percentile(values, p, min_beyond)
        if v is not None:
            return p, v
    return None


def describe(values: list[float]) -> dict:
    """Median, quartiles, sample count and the highest supported tail."""
    q1, med, q3 = quartiles(values)
    out = {"median": med, "q1": q1, "q3": q3, "n": len(values)}
    tail = highest_supported_percentile(values)
    if tail is not None:
        out[f"p{tail[0]:g}"] = tail[1]
    return out


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, each clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    """Every span below ``root_id`` (not including it)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out
