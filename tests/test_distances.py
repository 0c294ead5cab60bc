"""Distance library unit tests against a numpy oracle.

Mirrors the reference's DistanceTestSuite (one scenario per function,
weighted + unweighted + null handling) with numpy recomputing expected
values — same formulas as query/distance/*.scala.
"""

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from adampro_spark.functions import distances as D

RNG = np.random.RandomState(7)
DIM = 10
N = 50
VECS = RNG.rand(N, DIM).astype(np.float32)
Q = RNG.rand(DIM).astype(np.float32)
W = RNG.rand(DIM).astype(np.float32)


def np_expected(name, v, q, w=None):
    v = v.astype(np.float64)
    q = q.astype(np.float64)
    wt = np.ones_like(v) if w is None else w.astype(np.float64)
    if name == "manhattan":
        return float(np.sum(wt * np.abs(v - q)))
    if name == "euclidean":
        return float(math.sqrt(np.sum(wt * (v - q) ** 2)))
    if name == "squaredeuclidean":
        return float(np.sum(wt * (v - q) ** 2))
    if name == "chebyshev":
        return float(np.max(np.abs(wt * (v - q))))
    if name == "cosine":
        nv, nq = np.linalg.norm(v), np.linalg.norm(q)
        if nv < 1e-5 or nq < 1e-5:
            return 0.0
        return float(1.0 - np.dot(v, q) / (nv * nq))
    if name == "correlation":
        vc, qc = v - v.mean(), q - q.mean()
        return np_expected("cosine", vc.astype(np.float32), qc.astype(np.float32))
    if name == "chisquared":
        s = v + q
        terms = np.where(s > 0, (v - q) ** 2 / np.where(s > 0, s, 1.0), 0.0)
        return float(np.sum(wt * terms))
    if name == "hamming":
        return float(np.sum(wt * (np.abs(v - q) > 1e-5)))
    if name == "jaccard":
        return float(1.0 - np.minimum(v, q).sum() / np.maximum(v, q).sum())
    if name == "kullbackleibler":
        # reference sums q*log(q/v) with zero-guards (element(v1_q=q, v2=v));
        # its element() override ignores the weight argument entirely
        terms = np.where(
            (np.abs(q) < 1e-5) | (np.abs(v) < 1e-5), 0.0, q * np.log(q / v)
        )
        return float(np.sum(terms))
    if name == "spannorm":
        d = v - q
        return float(d.max() - d.min())
    if name == "modulo":
        return float(np.sum(wt * np.mod(v, q)))
    if name == "minkowski":
        return float(np.sum(wt * np.abs(v - q) ** 3) ** (1 / 3))
    if name == "haversine":
        lat1, lat2 = np.radians(np.clip([v[0], q[0]], -90, 90))
        lng1, lng2 = np.radians([(x % 360 + 360) % 360 for x in (v[1], q[1])])
        lng1, lng2 = [x - 2 * np.pi if x >= np.pi else x for x in (lng1, lng2)]
        a = (
            np.sin((lat2 - lat1) / 2) ** 2
            + np.cos(lat1) * np.cos(lat2) * np.sin((lng2 - lng1) / 2) ** 2
        )
        return float(2 * 6371000.0 * np.arctan2(np.sqrt(a), np.sqrt(1 - a)))
    raise ValueError(name)


WEIGHTED = {
    "manhattan", "euclidean", "squaredeuclidean", "chebyshev",
    "chisquared", "hamming", "modulo", "minkowski",
}
# all 14: the 13-entry registry plus minkowski (p=3 here)
ALL = sorted(D.DISTANCES) + ["minkowski"]
TOL = {"haversine": 1e-3}  # metres over ~100 km spans


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [(int(i), [float(x) for x in VECS[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "id long, vec array<float>").cache()


def _p(name):
    return 3.0 if name == "minkowski" else None


@pytest.mark.parametrize("name", ALL)
def test_unweighted(spark, vec_df, name):
    got = {
        r["id"]: r["d"]
        for r in vec_df.select(
            "id", D.distance(name, "vec", list(Q), p=_p(name)).alias("d")
        ).collect()
    }
    for i in range(N):
        exp = np_expected(name, VECS[i], Q)
        assert got[i] == pytest.approx(exp, abs=TOL.get(name, 1e-4)), f"{name} row {i}"


@pytest.mark.parametrize("name", ALL)
def test_weighted(spark, vec_df, name):
    """Weighted call for every distance; the ones the reference computes
    without weights must ignore them."""
    got = {
        r["id"]: r["d"]
        for r in vec_df.select(
            "id", D.distance(name, "vec", list(Q), weights=list(W), p=_p(name)).alias("d")
        ).collect()
    }
    w = W if name in WEIGHTED else None
    for i in range(N):
        exp = np_expected(name, VECS[i], Q, w)
        assert got[i] == pytest.approx(exp, abs=TOL.get(name, 1e-4)), f"{name} row {i}"


def _bits(x):
    return "nan" if math.isnan(x) else struct.pack(">d", x)


EDGE_VALUES = [
    0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
    1.7976931348623157e308, -1.7976931348623157e308, 0.1, 1e-7, -123456789.125,
    *[float(x) for x in VECS[0]],  # float32-derived
    float(np.float32(1 / 3)), float("nan"), float("inf"), float("-inf"),
]


def test_array_literal_round_trips_bit_exact(spark):
    """One ``array(...)`` literal carries every double bit-for-bit —
    the same values ``F.lit`` would send element by element."""
    row = spark.range(1).select(
        F.expr(D.sql_array(EDGE_VALUES)).alias("sql"),
        F.array(*[F.lit(x) for x in EDGE_VALUES]).alias("lit"),
    ).first()
    want = [_bits(x) for x in EDGE_VALUES]
    assert [_bits(x) for x in row["sql"]] == want
    assert [_bits(x) for x in row["lit"]] == want


QUOTED_SCHEMA = (
    "id long, `my vec` array<float>, `we``ird` array<float>, "
    "`a.b` array<float>, a struct<b: array<float>>, x array<float>"
)


@pytest.fixture(scope="module")
def quoted_df(spark):
    rows = [
        (int(i), *[[float(v) * s for v in VECS[i]] for s in (1, 2, 3)],
         ([float(v) * 4 for v in VECS[i]],), [float(v) * 5 for v in VECS[i]])
        for i in range(N)
    ]
    return spark.createDataFrame(rows, QUOTED_SCHEMA).cache()


@pytest.mark.parametrize("name", ["my vec", "`we``ird`", "`a.b`", "a.b", "`a`.`b`", "x"])
@pytest.mark.parametrize("dist", ["euclidean", "correlation"])
def test_column_names_resolve_like_f_col(quoted_df, name, dist):
    """A column name with a space, a backtick or a dot reaches the same
    column ``F.col`` reaches (``a.b`` is the struct field, ```a.b``` the
    flat column), and a column named like a lambda variable is not
    captured by one."""
    rows = quoted_df.select(
        "id", F.col(name).alias("v"), D.distance(dist, name, list(Q)).alias("d")
    ).collect()
    for r in rows:
        exp = np_expected(dist, np.array(r["v"], dtype=np.float32), Q)
        assert r["d"] == pytest.approx(exp, abs=1e-4), (name, r["id"])


@pytest.mark.parametrize("bad", ["a`b", "a..b", "a.", "`a", ".a", "`a`b"])
def test_malformed_column_names_fail_like_f_col(quoted_df, bad):
    with pytest.raises(Exception):
        quoted_df.select(F.col(bad)).collect()
    with pytest.raises(Exception):
        quoted_df.select(D.euclidean(bad, list(Q))).collect()


def test_zero_weights_give_zero(spark, vec_df):
    """All-zero weights => distance 0 (QueryTestSuite.scala:59-77)."""
    zeros = [0.0] * DIM
    rows = vec_df.select(
        D.manhattan("vec", list(Q), weights=zeros).alias("d")
    ).collect()
    assert all(r["d"] == 0.0 for r in rows)


def test_null_vector_is_max(spark):
    """NULL vector row -> Double.MaxValue (Distance.scala:26-38)."""
    df = spark.createDataFrame([(1, None)], "id long, vec array<float>")
    r = df.select(D.euclidean("vec", list(Q)).alias("d")).collect()[0]
    assert r["d"] == D.DOUBLE_MAX


def test_minkowski_p3(spark, vec_df):
    got = vec_df.select(
        "id", D.minkowski("vec", list(Q), p=3.0).alias("d")
    ).collect()
    for r in got:
        v = VECS[r["id"]].astype(np.float64)
        exp = float(np.sum(np.abs(v - Q.astype(np.float64)) ** 3) ** (1 / 3))
        assert r["d"] == pytest.approx(exp, abs=1e-4)


def test_haversine(spark):
    # Zurich -> Bern ≈ 95 km; reference formula with R=6371000
    df = spark.createDataFrame(
        [(1, [47.3769, 8.5417])], "id long, vec array<float>"
    )
    r = df.select(D.haversine("vec", [46.9480, 7.4474]).alias("d")).collect()[0]
    lat1, lng1, lat2, lng2 = map(math.radians, [47.3769, 8.5417, 46.9480, 7.4474])
    a = (
        math.sin((lat2 - lat1) / 2) ** 2
        + math.cos(lat1) * math.cos(lat2) * math.sin((lng2 - lng1) / 2) ** 2
    )
    exp = 2 * 6371000 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
    assert r["d"] == pytest.approx(exp, rel=1e-3)
    assert 90000 < r["d"] < 100000


def test_cosine_zero_vector_is_zero(spark):
    df = spark.createDataFrame([(1, [0.0] * DIM)], "id long, vec array<float>")
    r = df.select(D.cosine("vec", list(Q)).alias("d")).collect()[0]
    assert r["d"] == 0.0
