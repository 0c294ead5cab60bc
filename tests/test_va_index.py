"""VA-File index tests: exactness vs golden fixture + structural checks.

The VA family is EXACT (VAIndex.scala:37-38), so the index path must return
the same (distance, id) pairs as the sequential scan — the reference tests
VAF/VAV against the same golden file as the sequential scan
(QueryTestSuite.scala:111-160).
"""

import pytest
from pyspark.sql import functions as F

from adampro_spark.index.va import build_va, scan_va, va_knn
from adampro_spark.operators.scan import sequential_scan
from tests.test_golden_knn import (
    euclidean_truth, load_expected, load_fixture, load_query,
)


@pytest.fixture(scope="module")
def gt_df(spark):
    return load_fixture(spark).cache()


def _assert_golden(res, expected):
    got = {r["tid"]: r["ap_distance"] for r in res}
    assert len(got) == len(expected)
    for dist, tid in expected:
        assert tid in got, f"tid {tid} missing"
        assert got[tid] == pytest.approx(dist, abs=1e-4)


@pytest.mark.parametrize("index_type,marktype", [
    ("vaf", "equidistant"),
    ("vaf", "equifrequent"),
    ("vav", "equifrequent"),
])
def test_va_knn_matches_golden(spark, gt_df, index_type, marktype):
    q = load_query()
    expected = load_expected("100nn-results.tsv")
    idx, meta = build_va(
        gt_df, "vectorfield", pk="tid", index_type=index_type, marktype=marktype
    )
    res = va_knn(
        gt_df, "vectorfield", idx, meta, q, k=len(expected),
        distance_name="manhattan",
    ).select("tid", "ap_distance").collect()
    _assert_golden(res, expected)


def test_va_index_count_matches_entity(spark, gt_df):
    """index.count == entity.count (IndexTestSuite.scala:159-216)."""
    idx, meta = build_va(gt_df, "vectorfield", pk="tid")
    assert idx.count() == gt_df.count()
    # every cell id within [0, ncells)
    ncells = [len(mk) - 1 for mk in meta["marks"]]
    bad = idx.filter(
        ~F.forall(
            F.zip_with(
                F.col("ap_indexfeature"), F.lit(ncells),
                lambda c, n: (c >= 0) & (c < n),
            ),
            lambda x: x,
        )
    ).count()
    assert bad == 0


def test_va_candidates_superset_of_true_knn(spark, gt_df):
    """Candidate set must contain every true k-NN (exactness invariant)."""
    q = load_query()
    k = 100
    idx, meta = build_va(gt_df, "vectorfield", pk="tid", marktype="equifrequent")
    cands = {r["tid"] for r in scan_va(idx, meta, q, k, p=1.0).collect()}
    true = {
        r["tid"]
        for r in sequential_scan(
            gt_df, "vectorfield", q, k, "manhattan", pk="tid"
        ).collect()
    }
    assert true <= cands
    # and it actually prunes (sanity: fewer candidates than rows)
    assert len(cands) < gt_df.count()


def test_va_euclidean_exact(spark, gt_df):
    """Same invariant under p=2 (bounds in the power domain)."""
    q = load_query()
    idx, meta = build_va(gt_df, "vectorfield", pk="tid")
    via_index = va_knn(
        gt_df, "vectorfield", idx, meta, q, k=50, distance_name="euclidean"
    ).select("tid", "ap_distance").collect()
    brute = sequential_scan(
        gt_df, "vectorfield", q, 50, "euclidean", pk="tid"
    ).select("tid", "ap_distance").collect()
    assert [(r["tid"], round(r["ap_distance"], 6)) for r in via_index] == [
        (r["tid"], round(r["ap_distance"], 6)) for r in brute
    ]
    truth = euclidean_truth(50)
    assert [r["tid"] for r in via_index] == [tid for _, tid in truth]
    for r, (dist, _) in zip(via_index, truth):
        assert r["ap_distance"] == pytest.approx(dist, abs=1e-4)


def test_va_prefilter(spark, gt_df):
    """Pre-filter applies before the index scan (Index.scala:234-237)."""
    q = load_query()
    idx, meta = build_va(gt_df, "vectorfield", pk="tid")
    pre = gt_df.filter(F.col("tid") < 500).select("tid")
    res = va_knn(
        gt_df, "vectorfield", idx, meta, q, k=20, distance_name="manhattan",
        prefilter=pre,
    ).collect()
    assert len(res) == 20 and all(r["tid"] < 500 for r in res)
    brute = sequential_scan(
        gt_df.filter(F.col("tid") < 500), "vectorfield", q, 20, "manhattan", pk="tid"
    ).collect()
    assert [r["tid"] for r in res] == [r["tid"] for r in brute]
