"""Aggregation of operation records into the benchmark's metrics.

An operation record is ``Op(cycle, kind, role, start, end, ok)``: ``role``
is ``read``, ``commit`` or ``maintenance``.  A cycle is one pass through the
workload's fixed operation sequence; a cycle that starts before the deadline
runs to its end, so every timed cycle is complete.

Percentiles are taken within one operation kind or over whole cycles, never
across kinds of different cost.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict
from typing import NamedTuple, Optional

TAIL_CANDIDATES = (99.9, 99.5, 99.0, 95.0, 90.0, 75.0, 50.0)


class Op(NamedTuple):
    cycle: int
    kind: str
    role: str
    start: float
    end: float
    ok: bool

    @property
    def seconds(self) -> float:
        return self.end - self.start


def median(values) -> Optional[float]:
    values = list(values)
    return statistics.median(values) if values else None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least p% of the
    sample at or below it)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[min(rank, len(s)) - 1]


def tail(values) -> Optional[dict]:
    """The highest percentile in TAIL_CANDIDATES with at least ten samples
    above it: ``{"value", "pct", "n", "beyond"}``, or None when the sample
    is too small (fewer than 11 values) for any candidate."""
    values = list(values)
    n = len(values)
    for p in TAIL_CANDIDATES:
        rank = max(1, math.ceil(p / 100.0 * n))
        beyond = n - rank
        if beyond >= 10:
            return {"value": percentile(values, p), "pct": p, "n": n,
                    "beyond": beyond}
    return None


def cycles(ops: list) -> dict:
    """Group ops by cycle: {cycle: [ops in start order]}."""
    by: dict = defaultdict(list)
    for op in ops:
        by[op.cycle].append(op)
    return {c: sorted(v, key=lambda o: o.start) for c, v in sorted(by.items())}


def cycle_wall(cyc_ops: list) -> float:
    return max(o.end for o in cyc_ops) - min(o.start for o in cyc_ops)


def role_time(cyc_ops: list, role: str) -> float:
    return sum(o.seconds for o in cyc_ops if o.role == role)


def trend(values: list) -> Optional[float]:
    """Median of the second half over median of the first half (in the
    order given); None with fewer than 2 values."""
    if len(values) < 2:
        return None
    h = len(values) // 2
    first, second = values[:h], values[len(values) - h:]
    return statistics.median(second) / statistics.median(first)


def kind_medians(ops: list) -> dict:
    by: dict = defaultdict(list)
    for o in ops:
        by[o.kind].append(o.seconds)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def end_to_end(ops: list) -> dict:
    """The untraced end-to-end figures of one timed phase (seconds unless
    named otherwise); ``setup_s`` is added by the caller.  The phase is the
    sum of the cycle walls, so bookkeeping between cycles never counts."""
    by = cycles(ops)
    walls = [cycle_wall(v) for v in by.values()]
    reads = [role_time(v, "read") for v in by.values()]
    commits = [role_time(v, "commit") for v in by.values()
               if any(o.role == "commit" for o in v)]
    km = kind_medians(ops)
    return {
        "ops_per_s": len(ops) / sum(walls) if walls else None,
        "cycle_p50_s": median(walls),
        "headline_total_s": sum(km.values()) if km else None,
        "read_p50_s": median(reads),
        "commit_p50_s": median(commits),
        "cycles": len(walls),
        "cycle_walls_s": walls,
        "cycle_tail": tail(walls),
        "trend": trend(walls),
        "kind_p50_s": km,
    }
