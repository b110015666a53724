"""Summary statistics of op latencies."""

from __future__ import annotations

import math
import statistics


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean_of_medians(records, kinds=("read", "write")) -> float:
    by_type: dict[str, list[float]] = {}
    for r in records:
        if r["kind"] in kinds:
            by_type.setdefault(r["op"], []).append(r["s"])
    return geomean(median(v) for v in by_type.values())


def drift(records) -> float:
    """Median latency of the second half of the run over that of the
    first half, each op's latency taken relative to its type's median
    so that all timed ops count; 0 when too few samples."""
    by_type: dict[str, list[float]] = {}
    for r in records:
        by_type.setdefault(r["op"], []).append(r["s"])
    meds = {k: median(v) for k, v in by_type.items()}
    rel = [r["s"] / meds[r["op"]] for r in records if meds[r["op"]] > 0]
    half = len(rel) // 2
    if half == 0:
        return 0.0
    return median(rel[half:]) / median(rel[:half])
