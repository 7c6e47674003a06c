"""Pure metric arithmetic over timings and spans (no Spark, no I/O).

Spans are ``(start, end)`` pairs in seconds on one clock.
"""

from __future__ import annotations

import statistics


def union_length(spans) -> float:
    """Total time covered by at least one span (overlaps counted once)."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(spans):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(spans, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``spans`` that fall inside ``[lo, hi]``."""
    return [(max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi]


def driver_gap(wall: float, job_spans) -> float:
    """Wall time of one operation not covered by any of its Spark jobs:
    Python plan building plus driver idle time between jobs. Job spans
    are clipped to the operation's window ``(0, wall)`` first."""
    return wall - union_length(clip(job_spans, 0.0, wall))


def tail(samples) -> tuple[float, float]:
    """``(percentile, value)`` of the highest percentile that still has
    at least ten samples beyond it: the sample with exactly ten larger
    ranks above it. With ten samples or fewer no percentile qualifies
    and the minimum is returned at percentile 0."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    idx = max(0, n - 11)
    pct = 100.0 * (n - 10) / n if n > 10 else 0.0
    return pct, xs[idx]


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must be between 0 and attempted")
    return failed / attempted


def suite(per_op: dict[str, list[float]]) -> float:
    """Sum over operations of each operation's median sample."""
    return sum(statistics.median(v) for v in per_op.values())


def per_pass(per_op: dict[str, list[dict[str, float]]]) -> dict[str, float]:
    """Per-layer numbers for one pass of a workload: for each metric,
    the sum over operations of the median over that operation's
    executions. Metrics absent from an execution count as 0."""
    keys = sorted({k for execs in per_op.values() for e in execs for k in e})
    return {
        k: sum(
            statistics.median(e.get(k, 0.0) for e in execs)
            for execs in per_op.values()
            if execs
        )
        for k in keys
    }
