"""Arithmetic the benchmark reports: percentiles, latency from due
time, and span self time. Pure Python, so the tests can check it
against hand-computed fixtures."""

from __future__ import annotations

import math

# Tail percentiles tried from the top; the first with at least
# MIN_BEYOND samples above it is the one reported.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (the epsilon
    keeps 99.9% of 10000 at 9990, not 9991 by float error)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    return v[_rank(p, len(v)) - 1]


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of the
    ``n`` samples beyond it (50 when there are too few for any)."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return 50.0


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and the
    count; both nearest-rank, so the tail is never below the median."""
    if not values:
        raise ValueError("no samples")
    p = tail_percentile(len(values))
    return {
        "p50": percentile(values, 50),
        "tail": percentile(values, p),
        "tail_pct": p,
        "n": len(values),
    }


def latencies_from_due(due_ms: dict[str, float], done_ms: dict[str, float]) -> list[float]:
    """Per-item latency from the time the item was due to the time it
    completed. Items that never completed give no sample (they count as
    failed instead); an item completed but never due is an error."""
    extra = set(done_ms) - set(due_ms)
    if extra:
        raise ValueError(f"{len(extra)} completions without a due time")
    return [done_ms[k] - due_ms[k] for k in sorted(done_ms)]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span id: its duration minus the part of its interval
    covered by its direct children (overlapping children count once;
    child time outside the parent's interval is ignored).

    Each span is ``{"id", "parent", "start", "end"}``."""
    children: dict[str, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for sid, s in by_id.items():
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(sid, [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[sid] = (hi - lo) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Summed self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out
