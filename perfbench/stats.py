"""Sampling and summary helpers: the seeded Zipf key chooser and the
percentile rule every latency in the benchmark is reported with."""

from __future__ import annotations

import statistics

import numpy as np

# Candidate tail levels, highest first.
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile is reported only with at least this many samples above it.
MIN_BEYOND = 10


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile ``q`` (to 0.1) among ``n``
    samples, in integer arithmetic so 99.9% of 10,000 is exactly 9,990."""
    return max(1, -(-round(q * 10) * n // 1000))


def nearest_rank(sorted_xs: list, q: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    return sorted_xs[_rank(q, len(sorted_xs)) - 1]


def tail_percentile(xs, levels=TAIL_LEVELS, beyond: int = MIN_BEYOND):
    """The highest percentile in ``levels`` that still has at least
    ``beyond`` samples above its rank, as ``(level, value)``; None when
    even the lowest level lacks them."""
    s = sorted(xs)
    n = len(s)
    for q in levels:
        k = _rank(q, n)
        if n - k >= beyond:
            return q, s[k - 1]
    return None


def summarize(xs) -> dict:
    """{"n", "p50", "tail_q", "tail"} for a list of samples (median always;
    the tail only when ``tail_percentile`` allows one)."""
    xs = list(xs)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None}
    tail = tail_percentile(xs)
    if tail is not None:
        out["tail_q"], out["tail"] = tail
    return out


class ZipfKeys:
    """Zipf(theta) over ``n`` key indices. Rank r is drawn with weight
    1/r**theta; a seeded permutation decides which key holds each rank, so
    the hot set moves with the seed while its shape stays fixed."""

    def __init__(self, n: int, theta: float, seed: int):
        self.n = n
        self.perm = np.random.default_rng([seed, 0x21F]).permutation(n)
        w = 1.0 / np.arange(1, n + 1, dtype="float64") ** theta
        cdf = np.cumsum(w)
        self.cdf = cdf / cdf[-1]

    def sample(self, rng: np.random.Generator, size: int | None = None):
        ranks = np.searchsorted(self.cdf, rng.random(size), side="right")
        return self.perm[np.minimum(ranks, self.n - 1)]
