"""VA+ index: PCA rotation, then VA-File machinery in the rotated space.

Parity targets: build ``va/VAPlusIndexGenerator.scala:60-130`` (PCA fit,
bit allocation by repeated variance halving :95-103, marks on the
projected data), scan ``va/VAPlusIndex.scala:37-41`` (transform q through
the PCA model, then the standard VA bound scan).  The reference registers
VA+ as lossy (top-1 bar) because of float error through the rotation; the
refinement step computes exact distances on the ORIGINAL vectors, so in
practice results match brute force.

Spark-first: the rotation is the same transform-over-literal matrix
product as SH — no UDF; marks/cells/bounds reuse ``va.py`` wholesale.
Deviation (documented): PCA is fit driver-side (numpy eigh) on the
training sample instead of Spark ML PCA on the full data — identical
math, no extra distributed jobs at build.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adampro_spark.caching import CacheScope
from adampro_spark.index._util import sample_matrix
from adampro_spark.index.va import (
    FEATURE_COL,
    _bound_pass,
    _cells_expr,
    _equifrequent_marks,
    _minmax,
    _refine,
    scan_va,
)


def _proj_expr(vector_col: str, cols: Column) -> Column:
    """v·pca as an expression over a broadcast LUT column of PCA rows
    (attach_lut — a dim² literal is past the py4j-literal threshold)."""
    v = F.col(vector_col).cast("array<double>")
    return F.transform(
        cols,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        ),
    )


def build_vaplus(
    df: DataFrame,
    vector_col: str,
    pk: str = "ap_id",
    total_nbits: int | None = None,
    ntraining: int = 5000,
    seed: int = 42,
) -> tuple[DataFrame, dict[str, Any]]:
    """``(index_df, meta)`` with the index table materialized (eager
    localCheckpoint) and the build's projection cache released;
    ``create_index`` writes the lazy table inside its own block."""
    with CacheScope() as scope:
        indexed, meta = _build_vaplus(
            scope, df, vector_col, pk, total_nbits, ntraining, seed
        )
        return indexed.localCheckpoint(eager=True), meta


def _build_vaplus(
    scope: CacheScope,
    df: DataFrame,
    vector_col: str,
    pk: str = "ap_id",
    total_nbits: int | None = None,
    ntraining: int = 5000,
    seed: int = 42,
) -> tuple[DataFrame, dict[str, Any]]:
    sample = sample_matrix(df, vector_col, ntraining, seed, pk=pk)
    X = sample.astype(np.float64)
    dim = X.shape[1]

    cov = np.cov(X, rowvar=False)
    w, v = np.linalg.eigh(cov)
    eigv = v[:, ::-1]  # descending eigenvalue order, dim × dim

    proj_sample = (X @ eigv).astype(np.float32)
    variance = proj_sample.astype(np.float64).var(axis=0, ddof=1)

    # bit allocation by variance halving (VAPlusIndexGenerator.scala:95-103)
    nbits = total_nbits or dim * max(
        5, math.ceil(5 + 0.5 * math.log2(max(dim / 10.0, 1e-9)))
    )
    var = variance.copy()
    modes = np.zeros(dim, dtype=int)
    for _ in range(int(nbits)):
        j = int(np.argmax(var))
        modes[j] += 1
        var[j] /= 4.0
    # nmarks = 2^bits clamped to [2, 32767] (:125, quirk 2<<(x-1) = 2^x)
    nmarks = [int(min(max(2, 1 << int(b)), 32767)) for b in modes]

    from adampro_spark.index._util import attach_lut

    # cells over the projected vector: project into a temp column first.
    # The kept cache is load-bearing twice over: (a) _minmax would
    # otherwise inline the dim² projection into each of its 2·dim
    # aggregates (HOF lambda bodies don't CSE), (b) the cells select
    # would re-project.
    with_pca = attach_lut(df, _ap_pca=eigv.T.tolist())
    tmp = scope.keep(
        with_pca.select(
            F.col(pk), _proj_expr(vector_col, F.col("_ap_pca")).alias("_proj")
        )
    )

    # EXACT per-dim min/max of the projected FULL data (one map-side
    # aggregate, like va._minmax) — sample-based ranges clamp out-of-range
    # rows into cells whose upper bound underestimates the true distance,
    # which can prune true neighbors and break the exactness the refine
    # step otherwise guarantees (va.py docstring lines 29-32).
    mins, maxs = _minmax(tmp, "_proj", dim)
    marks = _equifrequent_marks(proj_sample, mins, maxs, nmarks)

    with_marks = attach_lut(tmp, _ap_marks=[[float(x) for x in mk] for mk in marks])
    indexed = with_marks.select(
        pk, _cells_expr("_proj", F.col("_ap_marks")).alias(FEATURE_COL)
    )

    meta = {
        "type": "vaplus",
        "pk": pk,
        "dim": dim,
        "pca": eigv.tolist(),
        "marks": marks,
        "bits_per_dim": [int(b) for b in modes],
        "marktype": "equifrequent",
    }
    return indexed, meta


def scan_vaplus(
    index_df: DataFrame,
    meta: dict[str, Any],
    query: list[float],
    k: int,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """Rotate q, then the standard VA bound scan (p=2; rotation preserves
    L2, so Euclidean bounds stay valid — VAPlusIndex.scala:37-41)."""
    return scan_va(index_df, meta, _rotate(meta, query), k, p=2.0, prefilter=prefilter)


def _rotate(meta: dict[str, Any], query: list[float]) -> list[float]:
    eigv = np.asarray(meta["pca"], dtype=np.float64)
    return (np.asarray(query, dtype=np.float64) @ eigv).tolist()


def vaplus_knn(
    df: DataFrame,
    vector_col: str,
    index_df: DataFrame,
    meta: dict[str, Any],
    query: list[float],
    k: int,
    distance_name: str = "euclidean",
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """Candidate scan → exact refinement on ORIGINAL vectors.
    Euclidean-family only (rotation preserves L2, not L1)."""
    if distance_name not in ("euclidean", "squaredeuclidean"):
        raise ValueError("VA+ only supports euclidean distances")
    bound_pass = _bound_pass(
        index_df, meta, _rotate(meta, query), k, 2.0, prefilter
    )
    return _refine(df, vector_col, query, k, distance_name, bound_pass, meta["pk"])


def vaplus_append(
    new_df: DataFrame,
    vector_col: str,
    meta: "dict[str, Any]",
) -> "tuple[DataFrame, dict[str, Any]]":
    """Incremental VA+ maintenance (round 15 — the
    :func:`~adampro_spark.index.va.va_append` pattern in the ROTATED
    space): project ONLY the new batch through the frozen PCA, widen
    the outer marks to the projected batch envelope (assignment counts
    inner marks only, so existing cells never move — va_append's
    soundness argument), encode, and return ``(new_index_rows,
    updated_meta)`` with the rows materialized.  The PCA never refits
    (that is a rebuild); what drifts is mark equifrequency, never bound
    exactness."""
    with CacheScope() as scope:
        indexed, out = _vaplus_append(scope, new_df, vector_col, meta)
        return indexed.localCheckpoint(eager=True), out


def _vaplus_append(
    scope: CacheScope,
    new_df: DataFrame,
    vector_col: str,
    meta: "dict[str, Any]",
) -> "tuple[DataFrame, dict[str, Any]]":
    if meta.get("type") != "vaplus":
        raise ValueError(
            f"vaplus_append needs a vaplus meta, got {meta.get('type')!r}"
        )
    from adampro_spark.index._util import attach_lut
    from adampro_spark.index.va import _minmax

    pk = meta["pk"]
    dim = int(meta["dim"])
    batch = new_df.filter(F.col(vector_col).isNotNull())
    if batch.first() is None:
        return (
            batch.select(pk, F.lit(None).cast("array<int>").alias(FEATURE_COL)),
            dict(meta),
        )
    eigv = np.asarray(meta["pca"], dtype=np.float64)
    with_pca = attach_lut(batch, _ap_pca=eigv.T.tolist())
    tmp = scope.keep(
        with_pca.select(
            F.col(pk), _proj_expr(vector_col, F.col("_ap_pca")).alias("_proj")
        )
    )
    mins, maxs = _minmax(tmp, "_proj", dim)
    marks = [[float(x) for x in mk] for mk in meta["marks"]]
    for d in range(dim):
        marks[d][0] = float(min(marks[d][0], mins[d]))
        marks[d][-1] = float(max(marks[d][-1], maxs[d]))
    wm = attach_lut(tmp, _ap_marks=marks)
    indexed = wm.select(
        pk, _cells_expr("_proj", F.col("_ap_marks")).alias(FEATURE_COL)
    )
    out = dict(meta)
    out["marks"] = marks
    return indexed, out
