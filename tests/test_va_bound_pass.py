"""The VA family's one-pass bound scan against the two-pass definition.

``index.va._bound_pass`` reads the first 8·k index rows by lower bound in
one job and, when that prefix proves complete, hands their pks straight
to the refine scan.  The definition it must reproduce is the two-pass
one: candidates are ``{lb <= k-th smallest ub}`` over every row with
bounds, computed here in numpy from ``_bounds`` and the stored cells,
summed in the same order as the Spark expression so the bounds are
bit-equal.  The candidate set must be EQUAL to it when the prefix proves
complete and a superset otherwise, and the refined top-k must be
bit-equal to ``sequential_scan`` for vaf, vav and vaplus.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from adampro_spark.index.va import _bound_pass, _bounds, build_va, va_knn
from adampro_spark.index.vaplus import _rotate, build_vaplus, vaplus_knn
from adampro_spark.operators.scan import sequential_scan

PK = "vid"
DIM = 6
K = 6
SCHEMA = f"{PK} long, feature array<float>"
KINDS = ("vaf", "vav", "vaplus")


def _corpus(seed: int) -> list[tuple]:
    """40 clustered vectors, each stored 4 times: every upper bound is
    shared by at least 4 rows, so the k-th one is always tied."""
    rng = np.random.RandomState(seed)
    centers = rng.rand(5, DIM)
    base = centers[rng.randint(5, size=40)] + 0.05 * rng.randn(40, DIM)
    x = np.repeat(base.astype(np.float32), 4, axis=0)
    return [(i, [float(v) for v in x[i]]) for i in range(len(x))]


def _build(kind: str, df):
    if kind == "vaplus":
        return build_vaplus(df, "feature", pk=PK)
    idx, meta = build_va(df, "feature", pk=PK, index_type=kind)
    return idx.localCheckpoint(eager=True), meta


@pytest.fixture(scope="module")
def base(spark):
    rows = _corpus(7)
    df = spark.createDataFrame(rows, SCHEMA).localCheckpoint(eager=True)
    return rows, df, {kind: _build(kind, df) for kind in KINDS}


def _two_pass_candidates(cells: dict, meta: dict, q: list[float], k: int, p: float) -> set:
    """The two-pass candidate set ``{lb <= k-th smallest ub}``."""
    live = {pk: c for pk, c in cells.items() if c is not None}
    if not live:  # no row has bounds: every row stays a candidate
        return set(cells)
    pks = np.array(list(live))
    c = np.array(list(live.values()))
    offsets, lbt, ubt = (np.asarray(a) for a in _bounds(meta["marks"], q, p))
    lb = np.zeros(len(pks))
    ub = np.zeros(len(pks))
    for d in range(c.shape[1]):  # left to right, like aggregate(...)
        lb = lb + lbt[offsets[d] + c[:, d]]
        ub = ub + ubt[offsets[d] + c[:, d]]
    kth = np.sort(ub)[min(k, len(ub)) - 1]
    return set(pks[lb <= kth].tolist())


def _check(kind, df, idx, meta, q, k, distance="euclidean", prefilter=None):
    """Assert the candidate and answer contracts for one query; returns
    whether the inline (complete-prefix) handover ran."""
    p = 1.0 if distance == "manhattan" else 2.0
    qb = _rotate(meta, q) if kind == "vaplus" else q
    cells = {r[PK]: r["ap_indexfeature"] for r in idx.collect()}
    if prefilter is not None:
        keep = {r[PK] for r in prefilter.collect()}
        cells = {pk: c for pk, c in cells.items() if pk in keep}
    want = _two_pass_candidates(cells, meta, qb, k, p)

    lazy, pks = _bound_pass(idx, meta, qb, k, p, prefilter)
    got = {r[PK] for r in lazy.collect()}
    if pks is not None:
        assert set(pks) == want
        assert got == want
    else:
        assert got >= want

    if kind == "vaplus":
        res = vaplus_knn(df, "feature", idx, meta, q, k, distance, prefilter=prefilter)
    else:
        res = va_knn(df, "feature", idx, meta, q, k, distance, prefilter=prefilter)
    brute = sequential_scan(df, "feature", q, k, distance, pk=PK)
    assert [tuple(r) for r in res.collect()] == [tuple(r) for r in brute.collect()]
    return pks is not None


@pytest.mark.parametrize("kind", KINDS)
def test_candidates_match_two_pass_definition_with_tied_bounds(base, kind):
    rows, df, built = base
    idx, meta = built[kind]
    rng = np.random.RandomState(11)
    queries = [rows[4 * j][1] for j in (0, 17)] + [rng.rand(DIM).tolist()]
    inline = [_check(kind, df, idx, meta, q, K) for q in queries]
    assert any(inline), "no query proved its prefix complete"
    if kind != "vaplus":
        _check(kind, df, idx, meta, queries[0], K, "manhattan")


def test_null_feature_rows_are_never_candidates(spark, base):
    rows, _, built = base
    idx, meta = built["vaf"]
    nulls = [(1000 + i, None) for i in range(4)]
    df = spark.createDataFrame(rows + nulls, SCHEMA)
    idx = idx.unionByName(
        spark.createDataFrame(nulls, f"{PK} long, ap_indexfeature array<int>")
    )
    assert _check("vaf", df, idx, meta, rows[8][1], K)


@pytest.mark.parametrize("kind", KINDS)
def test_prefilter_leaving_fewer_than_k_rows(base, kind):
    rows, df, built = base
    idx, meta = built[kind]
    few = df.filter(F.col(PK) < 3)
    assert _check(kind, few, idx, meta, rows[50][1], K, prefilter=few.select(PK))


def test_k_larger_than_the_corpus(base):
    rows, df, built = base
    idx, meta = built["vav"]
    assert _check("vav", df, idx, meta, rows[3][1], len(rows) + 5)


def test_empty_index(base):
    rows, df, built = base
    idx, meta = built["vaf"]
    assert not _check("vaf", df.limit(0), idx.limit(0), meta, rows[0][1], K)


@pytest.mark.parametrize("kind", KINDS)
def test_identical_corpus_stays_lazy(spark, kind):
    """Every row has the same bounds, so the M-th lower bound never
    exceeds t: the prefix cannot prove completeness."""
    v = [0.25, 0.5, 0.75, 0.5, 0.25, 0.0]
    df = spark.createDataFrame([(i, v) for i in range(10 * K)], SCHEMA)
    idx, meta = _build(kind, df)
    assert not _check(kind, df, idx, meta, [0.3] * DIM, K)


def test_broadcast_off_keeps_the_semi_join(spark, base):
    rows, df, built = base
    idx, meta = built["vaf"]
    q = rows[0][1]
    assert _check("vaf", df, idx, meta, q, K)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not _check("vaf", df, idx, meta, q, K)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_refine_has_no_exchange_and_no_join(spark, tmp_path):
    """Sibling of ``test_bucketing::test_index_inherits_entity_buckets_and_
    join_is_exchange_free`` at the session's default broadcast threshold:
    over a bucketized entity the complete candidate set arrives inline,
    so the refine plan is one filtered entity scan — no shuffle Exchange
    and no join at all."""
    from adampro_spark.catalog import Catalog
    from adampro_spark.entity import PK as ENTITY_PK
    from adampro_spark.entity import Entity
    from adampro_spark.index import persist as IP

    e = Entity.create(
        spark, Catalog(str(tmp_path / "vcat")), "vents",
        [("feat", "vector"), ("label", "int")],
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e.insert(emb.selectExpr("embedding AS feat", "label"))
    e.bucketize(4)
    idx, meta = IP.create_index(
        spark, e.catalog, "v_vaf", e.name, e.df(), "feat", "vaf", pk=ENTITY_PK,
    )
    assert meta["buckets"] == 4

    q = [0.1 * ((i * 7) % 13) - 0.5 for i in range(64)]
    res = va_knn(e.df(), "feat", idx, meta, q, 10, "manhattan")
    assert len(res.collect()) == 10
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]
