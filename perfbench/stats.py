"""Pure statistics for the benchmark: medians, the tail rule, geometric
means, span self time and failure accounting. No Spark, no I/O."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass
from typing import Iterable, Optional, Sequence

#: percentiles tried for the tail, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond a percentile before it is reported
TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


@dataclass(frozen=True)
class Tail:
    percentile: float
    value: float
    beyond: int  # samples strictly after the percentile's rank
    samples: int


def tail(values: Sequence[float]) -> Optional[Tail]:
    """The highest percentile in :data:`TAIL_PERCENTILES` that has at
    least :data:`TAIL_MIN_BEYOND` samples beyond it (nearest-rank), or
    ``None`` when the sample is too small for any of them."""
    ordered = sorted(values)
    n = len(ordered)
    for p in TAIL_PERCENTILES:
        rank = max(math.ceil(p / 100.0 * n), 1)
        beyond = n - rank
        if beyond >= TAIL_MIN_BEYOND:
            return Tail(p, ordered[rank - 1], beyond, n)
    return None


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str = ""
    request_id: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
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


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover. Children may overlap one another (threads)
    or stick out of the parent; only their union inside the parent
    counts."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        parent = by_id.get(s.parent) if s.parent is not None else None
        if parent is None:
            continue
        lo, hi = max(s.start, parent.start), min(s.end, parent.end)
        if hi > lo:
            children.setdefault(parent.id, []).append((lo, hi))
    return {
        s.id: s.duration - _covered(children.get(s.id, [])) for s in spans
    }


def layer_sums(spans: Sequence[Span]) -> dict[str, dict[str, float]]:
    """Per span name: call count, total duration and total self time."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s.duration
        row["self_s"] += selfs[s.id]
    return out


@dataclass
class Tally:
    """Operations attempted and failed. A failure is an exception, a
    non-200 response or a failed correctness check."""

    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
        return ok

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
