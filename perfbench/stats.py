"""Arithmetic the benchmark reports with; no Spark, no I/O.

Kept apart so ``test_stats.py`` can check every rule the numbers depend on
without starting a JVM.
"""

from __future__ import annotations

import math
import random
from collections.abc import Iterable, Sequence

# A tail percentile is reported only where at least this many samples lie
# beyond it; below that the tail is noise.
TAIL_SAMPLES = 10


def quantile(values: Sequence[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default) of ``values``."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int) -> float | None:
    """The highest percentile level (0..1) with at least ``TAIL_SAMPLES``
    of ``n`` samples above it, or None when no level above the median has
    that many (n < 2 * TAIL_SAMPLES)."""
    if n < 2 * TAIL_SAMPLES:
        return None
    return 1.0 - TAIL_SAMPLES / n


def tail(values: Sequence[float]) -> tuple[float, str]:
    """Tail latency by the rule above, with a label naming what it is.

    With too few samples for the rule the maximum is reported and the
    label says so, so a small run never passes off its worst sample as a
    percentile.
    """
    level = tail_level(len(values))
    if level is None:
        return max(values), f"max of {len(values)}"
    return quantile(values, level), f"p{100 * level:.1f} of {len(values)}"


def poisson_arrivals(n: int, seconds: float, rng: random.Random) -> list[float]:
    """Due offsets (s) of ``n`` arrivals of a Poisson process over
    ``seconds``: given their count, Poisson arrival times are uniform order
    statistics, so every run sends the same number of requests at the
    same mean rate."""
    return sorted(rng.uniform(0.0, seconds) for _ in range(n))


def open_loop_latency(due: float, sent: float, done: float) -> tuple[float, float]:
    """(latency, lateness) of one open-loop request.

    Latency runs from when the request was *due*, not when it was sent, so
    a stall that delays later sends is charged to them; lateness is how
    far behind schedule the generator sent it.
    """
    if sent < due or done < sent:
        raise ValueError("times out of order")
    return done - due, sent - due


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that
    its children cover (children may overlap each other).

    A span is ``{"id", "parent", "start", "end", ...}``; ``parent`` is
    None for roots.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s["start"]), min(hi, s["end"]))
            for lo, hi in children.get(s["id"], ())
            if hi > s["start"] and lo < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def layer_self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Self time summed per span name."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def failed_frac(outcomes: Iterable[bool]) -> tuple[int, int, float]:
    """(attempted, failed, failed / attempted) over per-operation
    success flags.  Every attempted operation counts, so a failure can
    never shrink the denominator."""
    flags = list(outcomes)
    failed = sum(1 for ok in flags if not ok)
    return len(flags), failed, (failed / len(flags) if flags else 0.0)
