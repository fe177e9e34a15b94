"""Pure-Python arithmetic of the benchmark: medians, the
tail-percentile rule, failure accounting, span self time and the
per-layer roll-up. Nothing here imports Spark, so it is unit-tested on
its own (``perfbench/tests``)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

#: percentiles tried for a tail, highest first
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in [0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``p``-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(values: Sequence[float]) -> tuple[float, float] | None:
    """The highest percentile of :data:`TAIL_LADDER` with at least
    :data:`MIN_BEYOND` samples beyond it, as ``(p, value)``; ``None`` when
    even the median has fewer than that beyond it."""
    for p in TAIL_LADDER:
        if samples_beyond(len(values), p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


class Outcomes:
    """Attempted/failed operation ledger. An operation is one workload run
    or one MERGE; an exception or an oracle mismatch makes it a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def add_mismatches(self, mismatches: Iterable[str]) -> None:
        """Oracle mismatches found after an operation was counted as
        attempted turn it into a failure (once per operation)."""
        found = list(mismatches)
        if found:
            self.failed += 1
            self.errors.extend(found)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# ------------------------------------------------------------- spans ----

#: counters summed from Spark's status store per span
STAGE_COUNTERS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb",
)


def busy_seconds(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def finish_spans(spans: list[dict]) -> None:
    """Fill net wall, self time and self counters in place.

    Each span carries ``raw_wall_s`` (entry to forced result), ``own_ovh_s``
    (the tracer's bookkeeping after its clock stopped), ``parent`` (an
    index or ``None``) and inclusive counters under ``incl``, among them
    ``busy_s``, the time any of its stages was active. A span's
    net wall excludes the bookkeeping of the spans nested in it; its self
    time excludes the net wall of its children, and its self counters the
    inclusive counters of its children."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)
    tot_ovh: dict[int, float] = {}

    def total_overhead(i: int) -> float:
        if i not in tot_ovh:
            tot_ovh[i] = spans[i]["own_ovh_s"] + sum(total_overhead(c) for c in children.get(i, ()))
        return tot_ovh[i]

    for i, s in enumerate(spans):
        kids = children.get(i, [])
        s["wall_s"] = s["raw_wall_s"] - sum(total_overhead(c) for c in kids)
        # driver time: the part of the span during which no stage was active
        s["incl"]["driver_s"] = max(0.0, s["wall_s"] - s["incl"].get("busy_s", 0.0))
    for i, s in enumerate(spans):
        kids = children.get(i, [])
        s["self_s"] = max(0.0, s["wall_s"] - sum(spans[c]["wall_s"] for c in kids))
        s["self"] = {
            k: s["incl"].get(k, 0.0) - sum(spans[c]["incl"].get(k, 0.0) for c in kids)
            for k in (*STAGE_COUNTERS, "jobs", "driver_s")
        }


def outermost_in_layer(spans: list[dict], i: int) -> bool:
    """True when no ancestor of span ``i`` belongs to the same layer."""
    layer = spans[i]["layer"]
    p = spans[i]["parent"]
    while p is not None:
        if spans[p]["layer"] == layer:
            return False
        p = spans[p]["parent"]
    return True


def layer_rollup(spans: list[dict], layers: Sequence[str]) -> dict[str, dict[str, float]]:
    """Per-layer totals: ``wall_s`` and ``rows_out`` over the layer's
    outermost spans (nested calls of one layer are not counted twice),
    ``calls`` over all its spans, and self time and self counters summed,
    so the layers add up to the traced run."""
    out = {
        layer: {"wall_s": 0.0, "self_s": 0.0, "calls": 0, "rows_out": 0,
                **{k: 0.0 for k in (*STAGE_COUNTERS, "jobs", "driver_s")}}
        for layer in layers
    }
    for i, s in enumerate(spans):
        agg = out[s["layer"]]
        agg["calls"] += 1
        agg["self_s"] += s["self_s"]
        for k, v in s["self"].items():
            agg[k] += v
        if outermost_in_layer(spans, i):
            agg["wall_s"] += s["wall_s"]
            agg["rows_out"] += s.get("rows_out", 0)
    return out
