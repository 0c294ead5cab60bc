"""Shared index-build helpers: sampling, deterministic k-means, and
reference-point distance expressions.

The reference trains every index on a driver-collected sample
(data/index/IndexGenerator.scala:47-80, min 1000 tuples :22); we do the
same — training is small-data work, the cluster-scale work is the
assignment pass, which stays a codegen'd expression here.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MIN_TRAINING = 1_000  # IndexGenerator.scala:22

# Fallback probed fraction for ``frac="auto"`` when the index carries no
# build-time fit: the share of the corpus the reference's absolute
# ``times_k·k`` budget represents at the scale where these widths were
# VALIDATED exact (k=20, times_k≥25 against 500–2000-row oracle corpora ⇒
# ≳20%).  "auto" holds that validated fraction steady as n grows instead
# of letting the absolute budget silently shrink to a low-recall sliver.
# Since round 7 every lossy build AUTO-FITS a cheaper fraction on its
# training sample (index/autofit.py) and persists it as
# ``meta["fitted_frac"]`` — this constant only applies to metas built
# before the fit existed, to sub-MIN_FIT_SAMPLE corpora, and as the cap
# the fit may never exceed.  ``frac=None`` restores the reference's
# absolute semantics.
DEFAULT_FRAC = 0.2


def resolve_frac(frac: float | str | None, meta: dict | None = None) -> float | None:
    """Map the ``frac`` knob to a number: "auto" → the index's build-time
    fitted fraction (autofit.py) when present, else DEFAULT_FRAC."""
    if isinstance(frac, str):
        if frac != "auto":
            raise ValueError(f"frac must be a float, None, or 'auto', got {frac!r}")
        if meta and meta.get("fitted_frac"):
            return float(meta["fitted_frac"])
        return DEFAULT_FRAC
    return frac


def candidate_budget(
    times_k: int, k: int, frac: float | str | None, meta: dict, index_df: DataFrame
) -> int:
    """Lossy-scan candidate budget.

    ``times_k·k`` is the reference's ABSOLUTE budget (e.g.
    PQIndex.scala:50-64 top timesK·k): as the corpus grows it becomes a
    shrinking fraction of n and recall falls — measured in this repo,
    widths exact at sf0.01 degrade at sf0.1.  ``frac`` (a float, or the
    default "auto" → DEFAULT_FRAC) switches to a scale-proportional
    budget ``max(times_k·k, ⌈frac·n⌉)`` that holds the probed fraction
    (and so the recall profile) steady across corpus sizes at
    proportional cost.  n comes from build metadata when present (free);
    else one count over the narrow (pk, feature) index table.

    With a prefilter, n stays the UNFILTERED corpus size: the budget then
    covers a larger share of the eligible rows — conservative
    (recall-safe), and avoids an extra count job per filtered query.
    """
    frac = resolve_frac(frac, meta)
    want = times_k * k
    if frac is not None:
        n = meta.get("n") or index_df.count()
        want = max(want, int(np.ceil(frac * n)))
    return want


def attach_lut(df: DataFrame, **named_values) -> DataFrame:
    """Attach large lookup tables (bound tables, marks, codebooks,
    reference-point matrices) as columns of a broadcast one-row DataFrame.

    Small vectors (a query, dims-sized offsets, a leader-distance list)
    ride inline as one SQL ``array(...)`` literal (functions.distances.
    sql_array).  A multi-thousand-element table inlined that way costs
    one JVM call but a slow analysis (measured: ~0.45 s to analyze a
    4096-element array literal, ~8 ms to parse it), and the literal is
    then optimized, code-generated and shipped with every task.  A
    one-row Arrow DataFrame ships the
    same data in one batch and the plan gets a broadcast nested-loop join
    against a single row — exactly "broadcast the query bounds" as the
    reference does (SequentialScanExpression broadcasts q and weights;
    QueryTracker cleans them up).  Downstream expressions then reference a
    plain attribute, which CollapseProject cannot blow up.
    """
    import pandas as pd

    spark = df.sparkSession
    lut = spark.createDataFrame(pd.DataFrame({k: [v] for k, v in named_values.items()}))
    return df.crossJoin(F.broadcast(lut))


def sample_matrix(
    df: DataFrame,
    vector_col: str,
    n: int,
    seed: int,
    pk: str | None = None,
    dtype=np.float32,
) -> np.ndarray:
    """Training sample as an (m, dim) matrix (float32 by default — the
    codebook-training precision; pass float64 when the consumer
    simulates a scan whose arithmetic runs on full-precision vectors,
    e.g. the LSH probe-count autofit).

    With ``pk`` given the sample is LAYOUT-INDEPENDENT: rows are ranked by
    ``xxhash64(pk, seed)`` and the smallest n taken — a deterministic
    pseudo-random sample that does not depend on partition count, file
    splits, or collect order (Spark's ``.sample`` + ``.collect`` does, so a
    different core count in the driver environment could silently change
    codebooks and flip a seed-pinned oracle).  orderBy+limit plans as
    TakeOrderedAndProject: per-partition heap of n, no full sort.
    """
    n = max(n, 1)
    if pk is not None:
        rows = (
            df.select(vector_col, F.xxhash64(F.col(pk), F.lit(seed)).alias("_h"))
            .orderBy("_h")
            .limit(n)
            .collect()
        )
        return np.array([r[0] for r in rows], dtype=dtype)
    total = df.count()
    frac = min(1.0, (n * 1.2) / max(total, 1))
    rows = df.select(vector_col).sample(False, frac, seed=seed).limit(n).collect()
    if not rows:
        rows = df.select(vector_col).limit(n).collect()
    return np.array([r[0] for r in rows], dtype=dtype)


def kmeans(X: np.ndarray, k: int, seed: int = 42, iters: int = 25) -> np.ndarray:
    """Deterministic Lloyd k-means with k-means++ init (numpy, driver-side).

    Replaces the reference's per-split MLlib ``KMeans.train``
    (pq/PQIndexGenerator.scala:80-84) — the training sample is tiny, so a
    driver-side fit avoids 8 extra Spark jobs per build and is exactly
    reproducible under a fixed seed.
    """
    X = X.astype(np.float64)
    n = X.shape[0]
    k = min(k, n)
    rng = np.random.RandomState(seed)
    # k-means++ seeding — incremental running min (O(k·n·d), not the
    # naive O(k²·n·d) recompute-all-centers-per-step)
    centers = [X[rng.randint(n)]]
    d2 = np.sum((X - centers[0]) ** 2, axis=1)
    for _ in range(1, k):
        s = d2.sum()
        if s <= 0:
            c = X[rng.randint(n)]
        else:
            c = X[rng.choice(n, p=d2 / s)]
        centers.append(c)
        d2 = np.minimum(d2, np.sum((X - c) ** 2, axis=1))
    C = np.array(centers)
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            pts = X[assign == j]
            if len(pts):
                newC[j] = pts.mean(axis=0)
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    return C


def ref_dists_expr(
    vector_col: str | Column,
    refs: list[list[float]] | Column,
    distance_name: str = "euclidean",
) -> Column:
    """array<double> of distances from the row vector to each reference
    vector — ``transform`` over the reference matrix, fully codegen'd.

    ``refs`` may be a plain nested list (small matrices) or a Column from
    :func:`attach_lut` (large matrices — avoids the py4j literal tax).
    Supports the Minkowski family + cosine (what the clustered indexes use).
    """
    v = (
        F.col(vector_col).cast("array<double>")
        if isinstance(vector_col, str)
        else vector_col
    )
    refs_lit = (
        refs if isinstance(refs, Column) else F.lit([[float(x) for x in r] for r in refs])
    )

    def dist_to(r: Column) -> Column:
        if distance_name == "manhattan":
            terms = F.zip_with(v, r, lambda a, b: F.abs(a - b))
            return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
        if distance_name in ("euclidean", "squaredeuclidean"):
            terms = F.zip_with(v, r, lambda a, b: (a - b) * (a - b))
            s = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
            return F.sqrt(s) if distance_name == "euclidean" else s
        if distance_name == "cosine":
            dot = F.aggregate(
                F.zip_with(v, r, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
            )
            nv = F.sqrt(
                F.aggregate(
                    F.zip_with(v, v, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            nr = F.sqrt(
                F.aggregate(
                    F.zip_with(r, r, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            return F.when((nv < 1e-5) | (nr < 1e-5), F.lit(0.0)).otherwise(
                F.lit(1.0) - dot / (nv * nr)
            )
        raise ValueError(f"unsupported reference distance {distance_name!r}")

    return F.transform(refs_lit, dist_to)


def argmin_expr(dists: Column) -> Column:
    """0-based index of the minimum element (deterministic: first
    minimum).  Implemented as one struct ``array_min`` over (d, i) —
    lexicographic min = first minimum — so ``dists`` (often an expensive
    distance HOF) is embedded ONCE instead of twice
    (``array_position(dists, array_min(dists))`` — round 13)."""
    return F.array_min(
        F.transform(dists, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
    )["i"].cast("int")


def np_pairwise(S: np.ndarray, R: np.ndarray, distance_name: str) -> np.ndarray:
    """(len(S) × len(R)) driver-side distance matrix — the single numpy
    kernel behind both leader/ref ranking (:func:`np_distance`) and the
    autofit scan simulation (index/autofit.py), so the two can never
    drift apart on metric conventions (e.g. the zero-norm cosine case)."""
    S = np.asarray(S, dtype=np.float64)
    R = np.asarray(R, dtype=np.float64)
    if distance_name == "manhattan":
        return np.abs(S[:, None, :] - R[None, :, :]).sum(axis=2)
    if distance_name in ("euclidean", "squaredeuclidean"):
        d2 = ((S[:, None, :] - R[None, :, :]) ** 2).sum(axis=2)
        return np.sqrt(d2) if distance_name == "euclidean" else d2
    if distance_name == "cosine":
        ns = np.linalg.norm(S, axis=1)
        nr = np.linalg.norm(R, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = (S @ R.T) / (ns[:, None] * nr[None, :])
        sim[~np.isfinite(sim)] = 1.0
        return 1.0 - sim
    if distance_name == "hamming":
        # element tolerance mirrors the LSH family's |x−y| > 1e-5 test
        # (lsh._radius / HammingHashFunction)
        return (
            (np.abs(S[:, None, :] - R[None, :, :]) > 1e-5).sum(axis=2).astype(np.float64)
        )
    raise ValueError(f"unsupported reference distance {distance_name!r}")


def np_distance(q: np.ndarray, X: np.ndarray, distance_name: str) -> np.ndarray:
    """Driver-side distances from q to each row of X (ranking leaders/refs)."""
    return np_pairwise(X, np.asarray(q, dtype=np.float64)[None, :], distance_name)[:, 0]
