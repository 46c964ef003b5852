"""Pure helpers of the benchmark: the seeded op order, percentiles and
interval arithmetic.  Nothing here touches Spark, so the benchmark's
own tests can pin these rules without a session."""

from __future__ import annotations

import math
import random
import re
from typing import Iterator, Sequence

#: every metric name the benchmark prints must match this
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: the tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def rounds(seed: int, op_names: Sequence[str]) -> Iterator[list[str]]:
    """Endless seeded rounds; each round is a permutation of every op
    type, so every op type appears once per round and any whole number
    of rounds runs the same mix of ops whatever the seed."""
    rng = random.Random(seed)
    names = list(op_names)
    while True:
        yield rng.sample(names, len(names))


def rank_index(n: int, pct: float) -> int:
    """0-based nearest-rank index of the ``pct`` percentile of ``n``
    sorted samples."""
    return max(0, math.ceil(pct / 100.0 * n) - 1)


def samples_beyond(n: int, pct: float) -> int:
    return n - 1 - rank_index(n, pct)


def percentile(samples: Sequence[float], pct: float) -> float:
    ordered = sorted(samples)
    return ordered[rank_index(len(ordered), pct)]


def tail_pct_for(n_min: int) -> int:
    """Highest whole percentile that leaves at least
    :data:`TAIL_MIN_BEYOND` samples beyond it when a run has ``n_min``
    samples."""
    best = 0
    for pct in range(1, 100):
        if samples_beyond(n_min, pct) >= TAIL_MIN_BEYOND:
            best = pct
    if best == 0:
        raise ValueError(f"{n_min} samples cannot leave {TAIL_MIN_BEYOND} beyond any percentile")
    return best


def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(merged) -> float:
    return sum(b - a for a, b in merged)


def overlap(a: float, b: float, merged) -> float:
    """Length of ``[a, b)`` covered by the merged intervals."""
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in merged)


def clip(merged, a: float, b: float) -> list[tuple[float, float]]:
    return [(max(a, x), min(b, y)) for x, y in merged if min(b, y) > max(a, x)]
