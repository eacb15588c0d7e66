"""Shared result record and order statistics."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def pct(samples, q: float) -> float:
    """``q``-th percentile, interpolated linearly between the two nearest
    ranks, so a small sample does not jump from one value to the next."""
    xs = sorted(samples)
    pos = q / 100.0 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


class Result:
    """What one workload run observed. ``latency`` holds the samples the
    latency percentiles come from; ``layer`` holds per-layer metrics as
    ``name: (value, unit)``."""

    def __init__(self) -> None:
        self.correct = True
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.setup: list[float] = []
        self.throughput = 0.0
        self.latency: list = []
        self.layer: dict[str, tuple[float, str]] = {}
        self.info: dict = {}

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.correct = False
            self.problems.append(what)
        self.info.setdefault("checks", []).append(what)
