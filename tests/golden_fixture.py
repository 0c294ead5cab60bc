"""Seeded in-repo kNN golden fixture.

Same shape as the reference's ``src/test/resources/groundtruth`` set
(QueryTestSuite.scala:40-108): 2000 rows of 10-dim float vectors plus
one column of every scalar type, a query vector, and the exact top-100
answers — here computed by numpy brute force in float64 over the stored
float32 vectors, for Manhattan and Euclidean, with and without the
``stringfield = 'bq'`` predicate.  Everything derives from ``SEED``, so
the fixture is identical on every machine and needs no download.
"""

from __future__ import annotations

import functools

import numpy as np

SEED = 20_000_417
N = 2000
DIM = 10
K = 100
BQ = "bq"


@functools.lru_cache(maxsize=1)
def rows() -> tuple[tuple, ...]:
    """``(tid, vector, stringfield, floatfield, doublefield, intfield,
    longfield, booleanfield)`` rows; about a quarter carry ``'bq'``."""
    rng = np.random.RandomState(SEED)
    vecs = rng.rand(N, DIM).astype(np.float32)
    bq = rng.rand(N) < 0.25
    letters = rng.randint(0, 26, size=(N, 6))
    scal = rng.rand(N, 2)
    ints = rng.randint(-1000, 1000, size=N)
    out = []
    for i in range(N):
        word = BQ if bq[i] else "".join(chr(97 + c) for c in letters[i])
        out.append((
            i + 1,
            [float(x) for x in vecs[i]],
            word,
            float(np.float32(scal[i, 0])),
            float(scal[i, 1]),
            int(ints[i]),
            int(ints[i]) * 1_000_003,
            bool(ints[i] % 2),
        ))
    return tuple(out)


@functools.lru_cache(maxsize=1)
def query() -> tuple[float, ...]:
    rng = np.random.RandomState(SEED + 1)
    return tuple(float(x) for x in rng.rand(DIM).astype(np.float32))


def brute_topk(
    data: "tuple[tuple, ...] | list[tuple]",
    q,
    metric: str,
    k: int = K,
    string_eq: str | None = None,
) -> list[tuple[float, int]]:
    """Exact ``[(distance, tid)]`` top-k over fixture-shaped rows, ascending
    by distance then tid; ``string_eq`` keeps only rows whose stringfield
    equals it."""
    kept = [r for r in data if string_eq is None or r[2] == string_eq]
    tids = np.array([r[0] for r in kept])
    x = np.array([r[1] for r in kept], dtype=np.float64)
    diff = x - np.asarray(q, dtype=np.float64)
    if metric == "manhattan":
        d = np.abs(diff).sum(axis=1)
    elif metric == "euclidean":
        d = np.sqrt((diff * diff).sum(axis=1))
    else:
        raise ValueError(metric)
    order = np.lexsort((tids, d))[:k]
    return [(float(d[i]), int(tids[i])) for i in order]
