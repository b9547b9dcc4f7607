"""Percentiles that admit their sample size, and span self time."""

from __future__ import annotations

import math

#: a percentile is reported only with at least this many samples above it
MIN_BEYOND = 10


def percentile(values, q: float) -> float | None:
    """The q-th percentile (0 < q < 100, nearest rank) of `values`, or None
    when fewer than MIN_BEYOND samples lie beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def summarize(values, qs=(50, 95)) -> dict:
    """{'n': sample count, 'p50': ..., 'p95': ...}; an unsupported
    percentile is left out rather than guessed."""
    out: dict = {"n": len(values)}
    for q in qs:
        v = percentile(values, q)
        if v is not None:
            out[f"p{q:g}"] = v
    return out


def self_time(span: tuple[float, float], children) -> float:
    """Duration of `span` minus the part of it that its children cover.
    Children may overlap each other (concurrent work) and may stick out of
    the parent; only the union of their intervals inside the parent counts."""
    lo, hi = span
    covered = 0.0
    cur_lo = cur_hi = None
    for c_lo, c_hi in sorted((max(a, lo), min(b, hi)) for a, b in children):
        if c_hi <= c_lo:
            continue
        if cur_hi is None or c_lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = c_lo, c_hi
        else:
            cur_hi = max(cur_hi, c_hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered
