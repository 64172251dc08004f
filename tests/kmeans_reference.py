"""Plain-Python reference for the deterministic grid k-means
(operators/kmeans.py): exact integer squared distances, the argmin
with ties to the smaller cid, and one Lloyd recompute whose means
round back to the grid. It shares no code with the Spark and numpy
kernels it checks."""

from __future__ import annotations

import math

Q = 10000


def rnd(v: float) -> int:
    # ties-away-from-zero on the binary double, matching both
    # engines' ROUND (python's round() is banker's and diverges)
    return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))


def quantize(v: list[float]) -> list[int]:
    return [rnd(x * Q) for x in v]


def nearest(x: list[int], cents: dict[int, list[int]]) -> tuple[int, int]:
    """(dist, cid) of the center in ``cents`` nearest to ``x``; ties go
    to the smaller cid."""
    return min(
        (sum((a - b) * (a - b) for a, b in zip(x, cq)), c)
        for c, cq in cents.items()
    )


def lloyd_step(
    xq: dict[int, list[int]], cents: dict[int, list[int]]
) -> dict[int, list[int]]:
    """One Lloyd round over the grid vectors ``xq``: assign each to its
    nearest center, then each non-empty cell's grid-rounded mean."""
    sums: dict[int, list[int]] = {}
    counts: dict[int, int] = {}
    for x in xq.values():
        c = nearest(x, cents)[1]
        counts[c] = counts.get(c, 0) + 1
        s = sums.setdefault(c, [0] * len(x))
        for d, v in enumerate(x):
            s[d] += v
    return {
        c: [rnd(s[d] / counts[c]) for d in range(len(s))] for c, s in sums.items()
    }
