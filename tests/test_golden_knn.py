"""Golden-file end-to-end kNN tests — the reference's core correctness
mechanism (QueryTestSuite.scala:40-108): 2000 rows, 10-dim vectors,
Manhattan, k=100, exact (distance, id) match with |Δ| < 1e-4.

Runs on the reference's own fixture (src/test/resources/groundtruth/)
when it is present, and on the seeded in-repo fixture
(tests/golden_fixture.py, numpy brute-force truth) otherwise — so these
checks, and the VA / lossy index checks built on them, never skip.
"""

import csv
import os

import pytest
from pyspark.sql import functions as F

from adampro_spark.operators.scan import boolean_filter, sequential_scan
from tests import golden_fixture

GT = "/root/reference/src/test/resources/groundtruth"


def _reference_rows():
    rows = []
    with open(os.path.join(GT, "data.tsv")) as f:
        rd = csv.DictReader(f, delimiter="\t")
        for r in rd:
            rows.append(
                (
                    int(r["id"]),
                    [float(x) for x in r["feature"].split(",")],
                    r["stringfield"],
                    float(r["floatfield"]),
                    float(r["doublefield"]),
                    int(r["intfield"]),
                    int(r["longfield"]),
                    r["booleanfield"] == "true",
                )
            )
    return rows


def fixture_rows():
    return _reference_rows() if os.path.exists(GT) else golden_fixture.rows()


def load_fixture(spark):
    schema = (
        "tid long, vectorfield array<float>, stringfield string, "
        "floatfield float, doublefield double, intfield int, "
        "longfield long, booleanfield boolean"
    )
    return spark.createDataFrame(list(fixture_rows()), schema)


def load_expected(name):
    """``[(distance, tid)]`` of a golden answer file (``100nn-results.tsv``
    or ``100nn-bq-results.tsv``): the reference's file when present, else
    the seeded fixture's numpy brute-force truth."""
    if not os.path.exists(GT):
        bq = golden_fixture.BQ if "-bq-" in name else None
        return golden_fixture.brute_topk(
            golden_fixture.rows(), load_query(), "manhattan", string_eq=bq
        )
    out = []
    with open(os.path.join(GT, name)) as f:
        for line in f:
            if not line.strip():
                continue
            d, tid = line.split("\t")
            out.append((float(d), int(tid)))
    return out


def load_query():
    if not os.path.exists(GT):
        return list(golden_fixture.query())
    with open(os.path.join(GT, "nnquery.txt")) as f:
        return [float(x) for x in f.read().strip().split(",")]


def euclidean_truth(k):
    """Exact Euclidean ``[(distance, tid)]`` top-k over the fixture."""
    return golden_fixture.brute_topk(fixture_rows(), load_query(), "euclidean", k)


@pytest.fixture(scope="module")
def gt_df(spark):
    return load_fixture(spark).cache()


def test_sequential_scan_matches_golden(spark, gt_df):
    q = load_query()
    expected = load_expected("100nn-results.tsv")
    res = sequential_scan(
        gt_df, "vectorfield", q, k=len(expected), distance_name="manhattan", pk="tid"
    ).select("tid", "ap_distance").collect()
    assert len(res) == len(expected)
    got = {r["tid"]: r["ap_distance"] for r in res}
    for dist, tid in expected:
        assert tid in got, f"tid {tid} missing from result"
        assert got[tid] == pytest.approx(dist, abs=1e-4)


def test_sequential_scan_with_boolean_query_matches_golden(spark, gt_df):
    """NN + BQ combined (100nn-bq-results.tsv; bquery.tsv: stringfield = 'bq')."""
    q = load_query()
    expected = load_expected("100nn-bq-results.tsv")
    filtered = boolean_filter(gt_df, [("stringfield", "=", ["bq"])])
    res = sequential_scan(
        filtered, "vectorfield", q, k=len(expected), distance_name="manhattan", pk="tid"
    ).select("tid", "ap_distance").collect()
    assert len(res) == len(expected)
    got = {r["tid"]: r["ap_distance"] for r in res}
    for dist, tid in expected:
        assert tid in got
        assert got[tid] == pytest.approx(dist, abs=1e-4)


def test_zero_weights_all_zero_distances(spark, gt_df):
    """Weighted variant: all-zero weights => every distance 0
    (QueryTestSuite.scala:59-77)."""
    q = load_query()
    res = sequential_scan(
        gt_df, "vectorfield", q, k=100, distance_name="manhattan",
        weights=[0.0] * len(q), pk="tid",
    ).select("ap_distance").collect()
    assert len(res) == 100
    assert all(r["ap_distance"] == 0.0 for r in res)


def test_prefilter_semijoin(spark, gt_df):
    """Candidate pre-filter pipeline == left-semi join
    (SequentialScanExpression.scala:88-121)."""
    q = load_query()
    cand = gt_df.filter(F.col("tid") < 1000).select("tid")
    res = sequential_scan(
        gt_df, "vectorfield", q, k=50, distance_name="manhattan",
        prefilter=cand, pk="tid",
    ).collect()
    assert len(res) == 50
    assert all(r["tid"] < 1000 for r in res)


def test_fixture_truth_is_unambiguous():
    """The exact-match checks need a strict gap at the k-th answer: a
    tie there would make the expected id set a coin flip."""
    q = load_query()
    for metric in ("manhattan", "euclidean"):
        top = golden_fixture.brute_topk(fixture_rows(), q, metric, k=101)
        assert top[99][0] + 1e-6 < top[100][0], metric
    assert len(load_expected("100nn-bq-results.tsv")) == 100


def test_sequential_scan_matches_euclidean_truth(spark, gt_df):
    expected = euclidean_truth(100)
    res = sequential_scan(
        gt_df, "vectorfield", load_query(), k=100, distance_name="euclidean", pk="tid"
    ).select("tid", "ap_distance").collect()
    assert [r["tid"] for r in res] == [tid for _, tid in expected]
    for r, (dist, _) in zip(res, expected):
        assert r["ap_distance"] == pytest.approx(dist, abs=1e-4)
