"""Pure helpers: percentiles, the tail rule, spans and metric names.

Nothing here touches Spark, so the tests in ``perfbench/tests`` exercise it
directly.
"""

from __future__ import annotations

import math
import random
import re
import statistics
from dataclasses import dataclass

# Percentiles the tail rule may report, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def best_times(records) -> dict[str, float]:
    """Each query's fastest time ``s`` over the records that hold one.

    A busy host only ever adds time, so the fastest of a query's samples in
    a run is the one a burst of load least disturbed."""
    best: dict[str, float] = {}
    for r in records:
        if "s" in r:
            best[r["query"]] = min(r["s"], best.get(r["query"], r["s"]))
    return best


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """The ``pct``-th percentile by the nearest-rank rule."""
    rank = max(1, math.ceil(pct / 100.0 * len(sorted_values)))
    return float(sorted_values[rank - 1])


def tail(values) -> tuple[float, float, int]:
    """``(percentile, value, samples_beyond)`` for the highest percentile of
    :data:`TAIL_LADDER` with at least :data:`TAIL_MIN_BEYOND` samples ranked
    above it. With too few samples for any of them (fewer than 20) it is the
    maximum: percentile 100 with no sample beyond."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    best = (100.0, float(xs[-1]), 0)
    for pct in TAIL_LADDER:
        beyond = n - max(1, math.ceil(pct / 100.0 * n))
        if beyond >= TAIL_MIN_BEYOND:
            best = (pct, nearest_rank(xs, pct), beyond)
    return best


def pass_order(names, seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a permutation fixed by (seed, pass)."""
    order = list(names)
    random.Random(f"order:{seed}:{pass_no}").shuffle(order)
    return order


def cut_points(n_rows: int, n_segments: int, seed: int, table: str) -> tuple[int, ...]:
    """Interior split indices for an ``n_segments`` replay of ``n_rows`` rows:
    even cuts, each moved by up to a quarter segment, fixed by (seed, table)."""
    if n_rows < 2 * n_segments:
        raise ValueError(f"{n_rows} rows cannot fill {n_segments} segments")
    rng = random.Random(f"cuts:{seed}:{table}")
    step = n_rows / n_segments
    cuts = [round(k * step + rng.uniform(-step / 4, step / 4)) for k in range(1, n_segments)]
    return tuple(sorted(set(min(n_rows - 1, max(1, c)) for c in cuts)))


def valid_metric_name(name: str) -> bool:
    return len(name) <= 64 and METRIC_NAME.fullmatch(name) is not None


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    query: str | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.span_id] = (s.end - s.start) - covered
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer, the span name up to its first dot."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + own[s.span_id]
    return out


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}


def parse_metric(text: str, metric_type: str) -> float:
    """Numeric value of a SQL metric as the status store formats it: bytes
    for ``size``, milliseconds for ``timing`` / ``nsTiming``, a plain count
    otherwise. Aggregated metrics put the total on the line after the
    ``total (min, med, max ...)`` header."""
    line = text.strip().splitlines()[-1]
    parts = line.split()
    value = float(parts[0].replace(",", ""))
    if metric_type in ("size", "timing", "nsTiming") and len(parts) > 1:
        value *= _UNITS.get(parts[1], 1)
    return value
