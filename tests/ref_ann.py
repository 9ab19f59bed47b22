"""Pure-Python reference for the ANN trainers in
ocr_spark/operators/similarity.py: ``ivf_centroids`` and ``pq_codebooks``
restated without Spark, with the same md5 seed order, unit normalization,
argmins (ties to the lowest centroid id) and Lloyd means.

tests/test_ann.py gates the Spark trainers against it. Seeds must agree
exactly; refined centroids agree to 1e-12, the gap being the order in
which a Spark ``avg`` adds its partial sums.
"""

from __future__ import annotations

import hashlib
import math


def seed_ids(tag: str, ids, n: int) -> list:
    """The first n ids in md5('<tag><id>') hex order (``ivf:``,
    ``pq:<sub>:``), the seed order both trainers use."""
    return sorted(ids, key=lambda i: hashlib.md5(f"{tag}{i}".encode()).hexdigest())[:n]


def _dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def unit(v) -> list[float]:
    n = math.sqrt(_dot(v, v))
    return [x / n for x in v]


def _l2_sq(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def nearest_l2(v, cents) -> int:
    return min(range(len(cents)), key=lambda c: (_l2_sq(v, cents[c]), c))


def nearest_cosine(v, cents) -> int:
    nv = math.sqrt(_dot(v, v))
    return min(
        range(len(cents)),
        key=lambda c: (-(_dot(v, cents[c]) / (nv * math.sqrt(_dot(cents[c], cents[c])))), c),
    )


def lloyd_step(vecs, cents, nearest) -> list[list[float]]:
    """Assign every vector to its nearest centroid, then move each
    centroid to the element-wise mean of its members; a centroid with no
    members stays where it is."""
    sums: dict[int, list[float]] = {}
    counts: dict[int, int] = {}
    for v in vecs:
        c = nearest(v, cents)
        acc = sums.setdefault(c, [0.0] * len(v))
        for j, x in enumerate(v):
            acc[j] += x
        counts[c] = counts.get(c, 0) + 1
    return [
        [s / counts[c] for s in sums[c]] if c in counts else cent
        for c, cent in enumerate(cents)
    ]


def ivf_centroids(vectors: dict, n_lists: int, refine_iters: int = 1) -> list[list[float]]:
    """``vectors`` maps id → raw vector; centroids are indexed by list id."""
    cents = [list(vectors[i]) for i in seed_ids("ivf:", vectors, n_lists)]
    for _ in range(refine_iters):
        cents = lloyd_step(vectors.values(), cents, nearest_cosine)
    return cents


def pq_codebooks(
    vectors: dict, dim: int, m: int, k: int, refine_iters: int = 1
) -> list[list[list[float]]]:
    """``books[sub][cid]``: per subspace, k-means over the d-dim slices of
    the unit-normalized vectors."""
    d = dim // m
    units = {i: unit(v) for i, v in vectors.items()}
    books = []
    for sub in range(m):
        subvecs = {i: u[sub * d : (sub + 1) * d] for i, u in units.items()}
        cents = [subvecs[i] for i in seed_ids(f"pq:{sub}:", subvecs, k)]
        for _ in range(refine_iters):
            cents = lloyd_step(subvecs.values(), cents, nearest_l2)
        books.append(cents)
    return books
