"""Pure helpers: percentiles, interval unions, span self time, audit-row
windowing and the DAG critical path. No Spark, no I/O — unit-tested in
``perfbench/tests``."""

from __future__ import annotations

import math
from collections.abc import Iterable, Mapping, Sequence

#: a reported percentile must have at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile (0 < q <= 100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q`` percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``TAIL_MIN_BEYOND`` above the
    ``q`` percentile — the rule a reported tail must meet."""
    return n > 0 and beyond(n, q) >= TAIL_MIN_BEYOND


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((a, b) for a, b in intervals if b > a):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans: Sequence[Mapping]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval that its child spans cover (children may overlap each other,
    e.g. parallel DAG stages, so their union is subtracted, not their sum).
    Spans are mappings with ``id``, ``parent``, ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def window_audit(rows: Iterable[Mapping], lo, hi) -> list[Mapping]:
    """Audit rows of one run: those whose ``start_time`` lies in
    ``[lo, hi]``. A reused warehouse keeps every earlier run's rows in the
    same table, so anything that reads stage walls must window first."""
    return [r for r in rows if r.get("start_time") is not None and lo <= r["start_time"] <= hi]


def stage_walls(rows: Iterable[Mapping]) -> dict[tuple[str, str], float]:
    """Seconds per (source_system, source_object) from windowed audit rows:
    the last SUCCESS row of each stage (an earlier FAILED attempt that a
    retry then hid is counted by ``hidden_retries``, not here)."""
    out: dict[tuple[str, str], tuple] = {}
    for r in rows:
        if r.get("status") != "SUCCESS" or r.get("end_time") is None:
            continue
        key = (r["source_system"], r["source_object"])
        if key not in out or r["end_time"] > out[key][0]:
            out[key] = (r["end_time"], (r["end_time"] - r["start_time"]).total_seconds())
    return {k: v[1] for k, v in out.items()}


def hidden_retries(rows: Iterable[Mapping]) -> int:
    """FAILED attempts of stages that later succeeded in the same window."""
    rows = list(rows)
    ok = {(r["source_system"], r["source_object"]) for r in rows if r.get("status") == "SUCCESS"}
    return sum(
        1 for r in rows
        if r.get("status") == "FAILED" and (r["source_system"], r["source_object"]) in ok
    )


def critical_path(walls: Mapping[str, float], deps: Mapping[str, Sequence[str]]) -> float:
    """Longest dependency chain by stage wall. Stages absent from ``deps``
    have no dependencies; dependencies absent from ``walls`` are ignored."""
    memo: dict[str, float] = {}

    def finish(name: str) -> float:
        if name not in memo:
            before = [finish(d) for d in deps.get(name, ()) if d in walls]
            memo[name] = walls[name] + max(before, default=0.0)
        return memo[name]

    return max((finish(n) for n in walls), default=0.0)
