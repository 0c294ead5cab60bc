"""VA-File index family: VAF (fixed bits/dim), VAV (variable bits/dim).

Parity targets:
  * build — ``va/VAFIndexGenerator.scala:41-83`` (bits/dim formula :62-63),
    ``va/VAVIndexGenerator.scala:38-96`` (variance-proportional bits),
    marks via ``va/marks/EquidistantMarksGenerator.scala:11-21`` /
    ``EquifrequentMarksGenerator.scala:14-63``, cell assignment
    ``VAFIndexGenerator.scala:77-83`` (first mark >= x, searching from 1).
  * scan — ``va/VAIndex.scala:153-189`` (lower/upper bound tables per
    dim×cell), ``:75-107`` (bound sums per row + per-partition top-k by
    upper bound).  The VA-File is EXACT (lossy=false, confidence 1 —
    ``VAIndex.scala:37-38``): any row whose lower bound exceeds the k-th
    smallest upper bound cannot be a true k-NN.

Spark-first translation (no Python UDFs anywhere):
  * cell assignment and bound sums are Catalyst higher-order-function
    expressions over nested array literals (marks matrix, flattened bound
    tables) — whole-stage codegen, no serialization boundary, unlike the
    reference's row-at-a-time Scala UDFs;
  * the reference's per-partition ``VAResultHandler`` heap
    (``VAResultHandler.scala:20-120``) is replaced by the plan Catalyst
    already builds for ``orderBy(ub).limit(k)`` — TakeOrderedAndProject IS
    a per-partition heap + driver merge; its max upper bound then prunes
    candidates with one pushdown-friendly filter;
  * candidate → exact-refine is a left-semi join into the entity scan
    (``IndexScanExpression.rewrite``, :89-98).

Deviations (documented, both strengthen exactness):
  * per-dimension min/max are computed EXACTLY over the full data in one
    map-side aggregate, instead of from the training sample — a point
    outside the sampled range would fall outside its clamped cell and its
    upper bound could underestimate, silently breaking exactness;
  * the reference's equifrequent generator leaves ``marks[0] = 0.0f``
    (uninitialized Array slot, EquifrequentMarksGenerator.scala:56-76),
    which breaks cell coverage for negative data; we set it to min(dim).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adampro_spark.functions.distances import sql_int_array

FEATURE_COL = "ap_indexfeature"
LBOUND_COL = "ap_lbound"
UBOUND_COL = "ap_ubound"

_SAMPLING_FREQUENCY = 10_000  # histogram buckets (EquifrequentMarksGenerator.scala:25)
from adampro_spark.index._util import MIN_TRAINING as _MIN_TRAINING  # noqa: E402


# ---------------------------------------------------------------------------
# training (driver-side, numpy — the reference trains on a collected sample too)
# ---------------------------------------------------------------------------

def _minmax(df: DataFrame, vector_col: str, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact per-dimension min/max in ONE map-side aggregate (no shuffle)."""
    v = F.col(vector_col)
    aggs = [F.min(v.getItem(i)).alias(f"mn{i}") for i in range(dim)]
    aggs += [F.max(v.getItem(i)).alias(f"mx{i}") for i in range(dim)]
    row = df.agg(*aggs).collect()[0]
    # float64: a float32 downcast can round the true min UP (max DOWN),
    # leaving data points outside [marks[0], marks[-1]] and breaking the
    # exactness guarantee via an overestimated clamped lower bound
    # (review r6)
    mins = np.array([row[f"mn{i}"] for i in range(dim)], dtype=np.float64)
    maxs = np.array([row[f"mx{i}"] for i in range(dim)], dtype=np.float64)
    return mins, maxs


def _sample(
    df: DataFrame, vector_col: str, n: int, seed: int, pk: str | None = None
) -> np.ndarray:
    """Training sample as an (m, dim) float32 matrix (IndexGenerator.scala:47-80).
    Layout-independent when ``pk`` is given (see _util.sample_matrix)."""
    from adampro_spark.index._util import sample_matrix

    return sample_matrix(df, vector_col, max(n, _MIN_TRAINING), seed, pk=pk)


def _equidistant_marks(mins: np.ndarray, maxs: np.ndarray, nmarks: list[int]) -> list[list[float]]:
    """linspace(min, max, nmarks) per dim (EquidistantMarksGenerator.scala:27-33)."""
    return [
        np.linspace(mins[d], maxs[d], nmarks[d], dtype=np.float32).tolist()
        for d in range(len(mins))
    ]


def _equifrequent_marks(
    sample: np.ndarray, mins: np.ndarray, maxs: np.ndarray, nmarks: list[int]
) -> list[list[float]]:
    """Histogram-balancing marks (EquifrequentMarksGenerator.scala:32-76).

    Mirrors the reference's odd/even advance loop exactly, except
    ``marks[0] = min(dim)`` instead of the reference's uninitialized 0.0f.
    """
    dim = sample.shape[1]
    out: list[list[float]] = []
    for d in range(dim):
        mn, mx = float(mins[d]), float(maxs[d])
        m = nmarks[d]
        if m <= 2:
            out.append([mn, mx])
            continue
        span = mx - mn
        if span <= 0:
            out.append([mn] * (m - 1) + [mx])
            continue
        j_idx = np.floor((sample[:, d] - mn) / span * _SAMPLING_FREQUENCY).astype(int)
        j_idx = np.clip(j_idx, 0, _SAMPLING_FREQUENCY - 1)
        hist = np.bincount(j_idx, minlength=_SAMPLING_FREQUENCY)
        total = int(hist.sum())
        marks = np.zeros(m - 1, dtype=np.float64)
        marks[0] = mn  # deviation: reference leaves 0.0f here
        k = 0
        acc = 0
        for j in range(1, m - 1):
            n = (total - acc) / (m - 1 - j)
            while (j % 2 == 1 and k < len(hist) and n > 0) or (
                j % 2 == 0 and k < len(hist) and n > hist[k]
            ):
                acc += int(hist[k])
                n -= int(hist[k])
                k += 1
            marks[j] = mn + np.float32(k) * (np.float32(mx) - np.float32(mn)) / np.float32(
                _SAMPLING_FREQUENCY
            )
        out.append([float(np.float32(x)) for x in marks] + [mx])
    return out


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def _cells_expr(vector_col: str, marks: list[list[float]] | Column) -> Column:
    """Per-dim cell id: count of marks[1:] strictly below x, clamped to the
    last cell — equivalent to the reference's ``indexWhere(p >= x, from=1) - 1``
    with -1 → len-2 (VAFIndexGenerator.scala:77-83), as a codegen'd expression.

    ``marks`` as a Column (from attach_lut) for the large-matrix path.
    """
    marks_lit = (
        marks
        if isinstance(marks, Column)
        else F.lit([[float(x) for x in mk] for mk in marks])
    )
    vec = F.col(vector_col).cast("array<double>")
    return F.zip_with(
        vec,
        marks_lit,
        lambda x, mk: F.least(
            F.aggregate(
                F.slice(mk, 2, F.size(mk) - 1),
                F.lit(0),
                lambda acc, m: acc + F.when(m < x, 1).otherwise(0),
            ),
            F.size(mk) - 2,
        ),
    )


def build_va(
    df: DataFrame,
    vector_col: str,
    pk: str = "ap_id",
    index_type: str = "vaf",
    nbits: int | None = None,
    total_nbits: int | None = None,
    marktype: str = "equifrequent",
    ntraining: int = 5000,
    seed: int = 42,
) -> tuple[DataFrame, dict[str, Any]]:
    """Build a VA-File index: returns ``(index_df(pk, ap_indexfeature), meta)``.

    * ``vaf``: same bits per dim — ``max(5, ceil(5 + 0.5*log2(dim/10)))``
      (VAFIndexGenerator.scala:62-63), nmarks = 2^bits + 1.
    * ``vav``: bits ∝ per-dim variance of the training sample
      (VAVIndexGenerator.scala:60-80): total = max(dim, total_nbits or 5*dim),
      bits_d = 1 + floor(var_d/Σvar * (total - dim)), nmarks_d = 2^bits_d
      (the reference quirk of no +1 here is preserved).
    """
    first = df.select(vector_col).first()
    if first is None or first[0] is None:
        raise ValueError("cannot index an empty table / null vectors")
    dim = len(first[0])

    mins, maxs = _minmax(df, vector_col, dim)
    sample = _sample(df, vector_col, ntraining, seed, pk=pk)

    if index_type == "vaf":
        b = nbits or max(5, math.ceil(5 + 0.5 * math.log2(max(dim / 10.0, 1e-9))))
        nmarks = [(1 << b) + 1] * dim
        bits_per_dim = [b] * dim
    elif index_type == "vav":
        total = max(dim, total_nbits or (nbits or 5) * dim)
        var = sample.astype(np.float64).var(axis=0, ddof=1)
        svar = float(var.sum()) or 1.0
        bits_per_dim = [1 + int(v / svar * (total - dim)) for v in var]
        # clamp like VA+ (:125): a dimension holding nearly all variance
        # would otherwise get ~(total-dim) bits and 2^bits marks → OOM.
        # The reference shares the unbounded quirk; not copied (SURVEY §7.4).
        bits_per_dim = [min(b, 15) for b in bits_per_dim]
        nmarks = [min(max(2, 1 << b), 32767) for b in bits_per_dim]
    else:
        raise ValueError(f"unknown VA index type {index_type!r}")

    if marktype == "equidistant":
        marks = _equidistant_marks(mins, maxs, nmarks)
    elif marktype == "equifrequent":
        marks = _equifrequent_marks(sample, mins, maxs, nmarks)
    else:
        raise ValueError(f"unknown marktype {marktype!r}")

    # marks travel as a broadcast one-row LUT, not a py4j literal
    # (8k+ elements; see _util.attach_lut)
    from adampro_spark.index._util import attach_lut

    with_marks = attach_lut(df, _ap_marks=[[float(x) for x in mk] for mk in marks])
    index_df = with_marks.select(
        pk, _cells_expr(vector_col, F.col("_ap_marks")).alias(FEATURE_COL)
    )
    meta = {
        "type": index_type,
        "pk": pk,
        "dim": dim,
        "marks": marks,
        "bits_per_dim": bits_per_dim,
        "marktype": marktype,
    }
    return index_df, meta


# ---------------------------------------------------------------------------
# scan
# ---------------------------------------------------------------------------

def _bounds(
    marks: list[list[float]], query: list[float], p: float
) -> tuple[list[int], list[float], list[float]]:
    """Lower/upper bound tables per dim×cell (VAIndex.scala:153-189),
    flattened with per-dim offsets (compressBounds, :196-240).

    element distance = |mark - q|^p (MinkowskiDistance.element); bounds and
    row sums stay in the power domain — monotone in the true distance, so
    candidate selection is unaffected (the reference never takes the root
    on bounds either).
    """
    offsets: list[int] = []
    lb_flat: list[float] = []
    ub_flat: list[float] = []
    off = 0
    for d, mk in enumerate(marks):
        q = float(query[d])
        offsets.append(off)
        for j in range(len(mk) - 1):
            m0, m1 = float(mk[j]), float(mk[j + 1])
            e0 = abs(m0 - q) ** p
            e1 = abs(m1 - q) ** p
            if q < m0:
                lb = e0
            elif q > m1:
                lb = e1
            else:
                lb = 0.0
            ub = e1 if q <= (m0 + m1) / 2.0 else e0
            lb_flat.append(lb)
            ub_flat.append(ub)
        off += len(mk) - 1
    return offsets, lb_flat, ub_flat


def _bound_sum(offsets: list[int], flat: str) -> Column:
    """Σ_d boundtable[offset_d + cell_d] as a codegen'd expression
    (the reference's cellsDistUDF, VAIndex.scala:75-88).

    ``flat`` names a LUT column (attach_lut) — the bound table is
    ~dims·cells (8k+) doubles, too big to inline into every plan.  The
    dims-sized ``offsets`` ride in the expression text as one array
    literal, so building the sum is one JVM call at any dimension.
    """
    return F.expr(
        f"aggregate(zip_with({FEATURE_COL}, {sql_int_array(offsets)}, "
        f"(c, o) -> element_at({flat}, o + c + 1)), 0.0D, (acc, x) -> acc + x)"
    )


def scan_va(
    index_df: DataFrame,
    meta: dict[str, Any],
    query: list[float],
    k: int,
    p: float = 2.0,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """Exact candidate generation: rows whose lower bound ≤ the k-th
    smallest upper bound.  Returns ``(pk, ap_lbound, ap_ubound)``.

    Two jobs over the (narrow) index table: a TakeOrderedAndProject for the
    k-th upper bound, then one pushdown-friendly filter — both map-side
    only, no shuffle.  At 1000 executors each job reads the index table's
    cells column only.
    """
    from adampro_spark.index._util import attach_lut

    pk = meta["pk"]
    df = index_df
    if prefilter is not None:
        df = df.join(prefilter.select(pk), on=pk, how="left_semi")

    offsets, lb_flat, ub_flat = _bounds(meta["marks"], query, p)
    df = attach_lut(
        df,
        _ap_lbt=[float(x) for x in lb_flat],
        _ap_ubt=[float(x) for x in ub_flat],
    )
    bounded = df.withColumns({
        LBOUND_COL: _bound_sum(offsets, "_ap_lbt"),
        UBOUND_COL: _bound_sum(offsets, "_ap_ubt"),
    })

    # NULL-feature rows (NULL source vectors) sort FIRST ascending and
    # would consume limit(k) slots while max() ignores them — shrinking
    # the threshold below the true k-th upper bound and pruning real
    # neighbors (review r6).  They cannot be candidates anyway (their
    # distance is MaxValue in refinement).
    kth = (
        bounded.filter(F.col(UBOUND_COL).isNotNull())
        .select(UBOUND_COL)
        .orderBy(F.col(UBOUND_COL).asc())
        .limit(k)
        .agg(F.max(UBOUND_COL).alias("t"))
        .collect()[0]["t"]
    )
    if kth is None:  # empty index
        return bounded.select(pk, LBOUND_COL, UBOUND_COL)
    return bounded.filter(F.col(LBOUND_COL) <= F.lit(float(kth))).select(
        pk, LBOUND_COL, UBOUND_COL
    )


_P_BY_DISTANCE = {"manhattan": 1.0, "euclidean": 2.0, "squaredeuclidean": 2.0}


def va_knn(
    df: DataFrame,
    vector_col: str,
    index_df: DataFrame,
    meta: dict[str, Any],
    query: list[float],
    k: int,
    distance_name: str = "euclidean",
    p: float | None = None,
    prefilter: DataFrame | None = None,
    **scan_kwargs,
) -> DataFrame:
    """Index scan → exact sequential refinement on candidates — the
    two-stage pipeline of IndexScanExpression.rewrite (:89-98).

    Conformity: Minkowski family only (VAIndex.isQueryConform, :137-143).
    """
    from adampro_spark.operators.scan import sequential_scan

    if p is None:
        p = _P_BY_DISTANCE.get(distance_name)
    elif distance_name != "minkowski" and p != _P_BY_DISTANCE.get(distance_name):
        # pruning with one p and refining with another silently loses
        # true neighbors (review r6) — an explicit p only makes sense
        # with distance_name="minkowski"
        raise ValueError(
            f"p={p} conflicts with distance {distance_name!r}; use "
            "distance_name='minkowski' for a custom p"
        )
    if p is None:
        raise ValueError(
            f"VA index only supports Minkowski distances, got {distance_name!r}"
        )
    cands = scan_va(index_df, meta, query, k, p=p, prefilter=prefilter)
    return sequential_scan(
        df,
        vector_col,
        query,
        k,
        distance_name,
        p=p if distance_name == "minkowski" else None,
        prefilter=cands,
        pk=meta["pk"],
        **scan_kwargs,
    )


def va_append(
    new_df: DataFrame,
    vector_col: str,
    meta: "dict[str, Any]",
) -> "tuple[DataFrame, dict[str, Any]]":
    """Incremental VA-F/VAV maintenance (round 15, verdict r14 #4 — the
    :func:`~adampro_spark.index.ecp.ecp_append` pattern): encode ONLY a
    new batch against the FROZEN marks and return ``(new_index_rows,
    updated_meta)``.

    Soundness: cell assignment counts only the INNER marks strictly
    below x (:func:`_cells_expr`), so widening the two OUTER marks to
    cover the batch envelope — ``marks[d][0] = min(old, batch_min)``,
    ``marks[d][-1] = max(old, batch_max)`` — changes NO existing
    assignment while making the edge cells' scan bounds cover any
    out-of-envelope appended value.  The bound tables therefore stay
    exact for old and new rows alike; what drifts under a shifted
    distribution is mark EQUIFREQUENCY (candidate tightness, i.e. scan
    cost), never candidate completeness.  Rebuild when the appended
    mass dominates."""
    if meta.get("type") not in ("vaf", "vav"):
        raise ValueError(
            f"va_append needs a vaf/vav meta, got {meta.get('type')!r}"
        )
    from adampro_spark.index._util import attach_lut

    pk = meta["pk"]
    dim = int(meta["dim"])
    batch = new_df.filter(F.col(vector_col).isNotNull())
    if batch.first() is None:
        return (
            batch.select(pk, F.lit(None).cast("array<int>").alias(FEATURE_COL)),
            dict(meta),
        )
    mins, maxs = _minmax(batch, vector_col, dim)
    marks = [[float(x) for x in mk] for mk in meta["marks"]]
    for d in range(dim):
        marks[d][0] = float(min(marks[d][0], mins[d]))
        marks[d][-1] = float(max(marks[d][-1], maxs[d]))
    wm = attach_lut(batch, _ap_marks=marks)
    indexed = wm.select(
        pk, _cells_expr(vector_col, F.col("_ap_marks")).alias(FEATURE_COL)
    ).localCheckpoint(eager=True)
    out = dict(meta)
    out["marks"] = marks
    return indexed, out
