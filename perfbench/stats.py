"""Arithmetic of the benchmark's metrics, kept free of Spark so the unit
tests in ``perfbench/tests`` can pin it."""

from __future__ import annotations

import math

import numpy as np

# Tail percentiles tried from the highest down, in per mille so the
# sample-count test is exact. A percentile is usable only when at least
# TAIL_BEYOND samples lie above it.
TAIL_LADDER_PERMILLE = (999, 990, 900)
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest ladder percentile with at
    least TAIL_BEYOND samples beyond it. With fewer samples than any
    ladder step needs (under 100 for p90) no percentile qualifies and
    the tail is the maximum, reported as percentile 100. Percentiles
    interpolate linearly, numpy's default."""
    n = len(values)
    for pm in TAIL_LADDER_PERMILLE:
        if n * (1000 - pm) >= TAIL_BEYOND * 1000:
            return float(np.percentile(values, pm / 10)), pm / 10, n
    return max(values), 100.0, n


def paired_overhead(ops: list[dict]) -> float:
    """``tracing.overhead_frac``: geometric mean over op pairs of traced
    wall / untraced wall, minus 1. Half the pairs run the traced op
    first, so a steady warm-up trend between the two runs cancels."""
    pairs: dict = {}
    for op in ops:
        if op["pair"] is not None:
            pairs.setdefault(op["pair"], {})[op["traced"]] = op["wall"]
    logs = [math.log(p[True] / p[False]) for p in pairs.values() if len(p) == 2]
    return math.exp(sum(logs) / len(logs)) - 1.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it that child spans cover. Child
    intervals are clipped to the span and may overlap or nest."""
    clipped = [(max(a, start), min(b, end)) for a, b in children if b > start and a < end]
    return (end - start) - union_length(clipped)


def stored_per_input(stored_bytes: int, input_bytes: int) -> float:
    """``stored_bytes_per_input_byte``: bytes on disk under the output
    directories over the bytes of generated input delivered."""
    if input_bytes <= 0:
        raise ValueError("no input delivered")
    return stored_bytes / input_bytes
