"""Lossy index tests — top-1 exact + recall bar, the reference's criteria
for ECP/LSH/MI/PQ/SH/VA+ (QueryTestSuite.scala:92-108): lossy indexes must
match the golden top-1 and recall@k is logged.  All builds use fixed
seeds, so these are deterministic.
"""

import os

import pytest

from adampro_spark.index import (
    build_ecp, ecp_knn,
    build_lsh, lsh_knn,
    build_mi, mi_knn,
    build_pq, pq_knn,
    build_sh, sh_knn,
    build_vaplus, vaplus_knn,
)
from tests.test_golden_knn import (
    GT, euclidean_truth, load_expected, load_fixture, load_query,
)

K = 100


@pytest.fixture(scope="module")
def gt_df(spark):
    return load_fixture(spark).cache()


@pytest.fixture(scope="module")
def golden():
    return load_expected("100nn-results.tsv")


def _recall(got_ids, golden):
    want = {tid for _, tid in golden}
    return len(want & set(got_ids)) / len(want)


def _run(knn_fn, gt_df, golden, min_recall, distance="manhattan", **kw):
    q = load_query()
    res = knn_fn(gt_df, "vectorfield", q, K, distance, **kw)
    rows = res.select("tid", "ap_distance").collect()
    got = [r["tid"] for r in rows]
    # top-1 must match the golden top-1 (lossy bar)
    top_dist, top_tid = golden[0]
    assert got[0] == top_tid, f"top-1 {got[0]} != golden {top_tid}"
    assert rows[0]["ap_distance"] == pytest.approx(top_dist, abs=1e-4)
    r = _recall(got, golden)
    assert r >= min_recall, f"recall {r:.2f} < {min_recall}"
    print(f"recall@{K}: {r:.3f}")


def test_ecp(spark, gt_df, golden):
    idx, meta = build_ecp(gt_df, "vectorfield", pk="tid", distance_name="manhattan")
    _run(
        lambda df, vc, q, k, dn: ecp_knn(df, vc, idx, meta, q, k, dn),
        gt_df, golden, min_recall=0.3,
    )


def test_pq(spark, gt_df, golden):
    idx, meta = build_pq(gt_df, "vectorfield", pk="tid", nsq=5)
    _run(
        lambda df, vc, q, k, dn: pq_knn(df, vc, idx, meta, q, k, dn),
        gt_df, golden, min_recall=0.5,
    )


def test_mi(spark, gt_df, golden):
    idx, meta = build_mi(gt_df, "vectorfield", pk="tid", distance_name="manhattan")
    _run(
        lambda df, vc, q, k, dn: mi_knn(df, vc, idx, meta, q, k, dn),
        gt_df, golden, min_recall=0.5,
    )


@pytest.mark.xfail(
    not os.path.exists(GT),
    strict=True,
    reason=(
        "known LSH recall miss: on the seeded fixture the default 16x8 "
        "manhattan LSH index misses the true nearest neighbour (tid 1513) "
        "and returns the second (tid 1738); the top-1 bar holds on the "
        "reference fixture.  Open item on ROADMAP."
    ),
)
def test_lsh(spark, gt_df, golden):
    idx, meta = build_lsh(gt_df, "vectorfield", pk="tid", distance_name="manhattan")
    idx = idx.cache()
    q = load_query()
    res = lsh_knn(gt_df, "vectorfield", idx, meta, q, K, "manhattan")
    rows = res.select("tid", "ap_distance").collect()
    # LSH with a mean-max radius admits broad candidate sets; top-1 must hold
    assert rows, "LSH returned no candidates"
    top_dist, top_tid = golden[0]
    assert rows[0]["tid"] == top_tid
    assert rows[0]["ap_distance"] == pytest.approx(top_dist, abs=1e-4)


def test_sh(spark, gt_df, golden_euclidean=None):
    # SH is Euclidean-only: compare against the exact euclidean top-k
    q = load_query()
    truth = euclidean_truth(K)
    idx, meta = build_sh(gt_df, "vectorfield", pk="tid")
    res = sh_knn(gt_df, "vectorfield", idx, meta, q, K).collect()
    assert res[0]["tid"] == truth[0][1]
    got = {r["tid"] for r in res}
    want = {tid for _, tid in truth}
    r = len(got & want) / len(want)
    assert r >= 0.3, f"SH recall {r:.2f}"


def test_vaplus(spark, gt_df):
    q = load_query()
    idx, meta = build_vaplus(gt_df, "vectorfield", pk="tid")
    res = vaplus_knn(gt_df, "vectorfield", idx, meta, q, K).collect()
    # VA+ refines on original vectors; with valid rotated bounds it is
    # exact in practice — assert full agreement
    assert [r["tid"] for r in res] == [tid for _, tid in euclidean_truth(K)]


def test_index_counts_match_entity(spark, gt_df):
    """index.count == entity.count for every type (IndexTestSuite.scala:159-216)."""
    n = gt_df.count()
    for build in (build_ecp, build_pq, build_mi, build_lsh, build_sh, build_vaplus):
        idx, _ = build(gt_df, "vectorfield", pk="tid")
        assert idx.count() == n, build.__name__


def test_ecp_frac_budget_scales_with_corpus(spark):
    """frac= expresses the candidate budget as a fraction of n (from the
    per-cell counts already in the metadata), so the probed fraction —
    and with it the recall profile — holds steady as the corpus grows,
    where the absolute times_k budget becomes a shrinking slice of n
    (the measured sf0.01-exact vs sf0.1-degraded finding)."""
    from adampro_spark import index as IX
    from adampro_spark.operators.scan import sequential_scan

    big = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [float(x) for x in big.limit(1).collect()[0]["embedding"]]

    idx, meta = IX.build_ecp(big, "embedding", pk="vec_id", distance_name="euclidean")
    idx = idx.persist()
    n = sum(meta["counts"])
    truth = {
        r["vec_id"]
        for r in sequential_scan(big, "embedding", q, 20, "euclidean", pk="vec_id").collect()
    }

    def recall(**kw):
        got = {
            r["vec_id"]
            for r in IX.ecp_knn(big, "embedding", idx, meta, q, 20, "euclidean", **kw).collect()
        }
        return len(got & truth) / len(truth)

    r_fixed = recall(times_k=5)           # 100 candidates, fixed forever
    r_frac = recall(times_k=5, frac=0.5)  # n/2 candidates, scales with n
    assert n == big.count()  # counts in meta cover the whole corpus
    assert r_frac >= r_fixed
    assert r_frac >= 0.75
    # probing everything is exact — the budget is honest about its units
    assert recall(times_k=5, frac=1.0) == 1.0


def test_default_budget_holds_recall_across_scales(spark):
    """The round-4 verdict's top item: with the absolute ``times_k·k``
    budget, widths that work at one scale silently decay at the next
    (measured: sf0.1 recall 0.45–0.75 for default widths).  The DEFAULT is
    now ``frac="auto"`` — a scale-proportional budget — so the same
    default call holds its recall profile at both sf0.01 and sf0.1 while
    the explicit ``frac=None`` (reference semantics) is allowed to decay.
    Floors are per-kind measurements minus a small margin (builds are
    seed-fixed and layout-independent ⇒ deterministic)."""
    from adampro_spark import index as IX
    from adampro_spark.operators.scan import sequential_scan as seq

    K_ = 20
    floors = {"ecp": 0.55, "pq": 0.90, "sh": 0.80, "mi": 0.55, "ivfpq": 0.55}
    kinds = {
        "ecp": (IX.build_ecp, lambda *a, **kv: IX.ecp_knn(*a, "euclidean", **kv), True),
        "pq": (IX.build_pq, lambda *a, **kv: IX.pq_knn(*a, "euclidean", **kv), False),
        "sh": (IX.build_sh, IX.sh_knn, False),
        "mi": (IX.build_mi, lambda *a, **kv: IX.mi_knn(*a, "euclidean", **kv), True),
        # round 6: the IVF-PQ composite inherits the same contract
        # (measured: auto 0.6 -> 0.7 across the jump, absolute decays to 0.5)
        "ivfpq": (
            IX.build_ivfpq,
            lambda *a, **kv: IX.ivfpq_knn(*a, "euclidean", **kv),
            False,
        ),
    }
    auto_by_scale: dict[str, dict[str, float]] = {k: {} for k in kinds}
    abs_big: dict[str, float] = {}
    for sf in ("0.01", "0.1"):
        df = spark.read.parquet(f"/root/testdata/sf{sf}/embeddings.parquet").cache()
        q = [float(x) for x in df.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
        truth = {
            r["vec_id"]
            for r in seq(df, "embedding", q, K_, "euclidean", pk="vec_id").collect()
        }
        for kind, (build, knn, takes_dist) in kinds.items():
            bkw = {"distance_name": "euclidean"} if takes_dist else {}
            idx, meta = build(df, "embedding", pk="vec_id", **bkw)
            idx = idx.persist()

            def recall(**kv):
                got = {
                    r["vec_id"]
                    for r in knn(df, "embedding", idx, meta, q, K_, **kv).collect()
                }
                return len(got & truth) / len(truth)

            auto_by_scale[kind][sf] = recall()  # pure defaults
            if sf == "0.1":
                abs_big[kind] = recall(frac=None)
            idx.unpersist()
        df.unpersist()

    for kind in kinds:
        small, big = auto_by_scale[kind]["0.01"], auto_by_scale[kind]["0.1"]
        assert small >= floors[kind], (kind, small)
        assert big >= floors[kind], (kind, big)
        # profile holds across the scale jump
        assert big >= small - 0.05, (kind, small, big)
        # and the default never loses to the absolute budget at scale
        assert big >= abs_big[kind], (kind, big, abs_big[kind])
    # the absolute budget measurably decays somewhere — the cliff the
    # auto default exists to avoid
    assert any(abs_big[k] < auto_by_scale[k]["0.1"] for k in kinds), abs_big


@pytest.mark.parametrize(
    "build, knn",
    [
        (build_pq, lambda *a, **kv: pq_knn(*a, "euclidean", **kv)),
        (build_sh, sh_knn),  # Euclidean-only: no distance arg
        (build_mi, lambda *a, **kv: mi_knn(*a, "euclidean", **kv)),
    ],
    ids=["pq", "sh", "mi"],
)
def test_frac_budget_all_lossy(spark, build, knn):
    """frac= gives every absolute-budget lossy scan (PQ/SH/MI — eCP has
    its own cell-prefix variant, LSH/VA scale naturally) the same
    scale-proportional semantics: frac=1.0 probes everything → exact, and
    a meaningful frac never loses to the fixed times_k·k budget."""
    from adampro_spark.operators.scan import sequential_scan as seq

    big = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [float(x) for x in big.limit(1).collect()[0]["embedding"]]

    idx, meta = build(big, "embedding", pk="vec_id")
    idx = idx.persist()
    assert meta["n"] == big.count()  # budget base recorded at build time
    truth = {
        r["vec_id"] for r in seq(big, "embedding", q, 20, "euclidean", pk="vec_id").collect()
    }

    def recall(**kv):
        got = {
            r["vec_id"]
            for r in knn(big, "embedding", idx, meta, q, 20, **kv).collect()
        }
        return len(got & truth) / len(truth)

    assert recall(times_k=5, frac=0.5) >= recall(times_k=5)
    # probing everything is exact — the budget is honest about its units
    assert recall(times_k=5, frac=1.0) == 1.0
    idx.unpersist()


def test_lsh_bucketing_is_scale_free(spark):
    """Review r6: without the p-stable /w normalization, bucket
    granularity was fixed at 1.0 of the raw projection — a corpus scaled
    by 0.01 collapsed into one bucket (no pruning) and by 100 shattered
    true neighbors apart (recall ~0).  With the build-radius width,
    recall must be identical at every scale."""
    from pyspark.sql import functions as F

    from adampro_spark.index.lsh import build_lsh, lsh_knn
    from adampro_spark.operators.scan import sequential_scan as seq

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    recalls = {}
    for scale in (1.0, 0.01, 100.0):
        df = emb.withColumn(
            "embedding",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x * F.lit(scale),
            ),
        )
        q = [float(x) for x in df.orderBy("vec_id").first()["embedding"]]
        idx, meta = build_lsh(df, "embedding", pk="vec_id", distance_name="euclidean")
        got = {
            r["vec_id"]
            for r in lsh_knn(df, "embedding", idx, meta, q, 10, "euclidean").collect()
        }
        truth = {
            r["vec_id"]
            for r in seq(df, "embedding", q, 10, "euclidean", pk="vec_id").collect()
        }
        recalls[scale] = len(got & truth) / 10
    assert recalls[0.01] == recalls[1.0] == recalls[100.0]
    assert recalls[1.0] >= 0.4


def test_lsh_legacy_meta_without_width_uses_rint_path():
    """ADVICE r6: an index persisted BEFORE the p-stable /w change has no
    'width' in meta — its rows were bucketed with rint(v·proj + offs), so
    query-time hashing must take the same legacy path (not floor with
    w=1.0, which disagrees with rint and collapses recall silently)."""
    import numpy as np

    from adampro_spark.index.lsh import _buckets

    rng = np.random.RandomState(0)
    V = rng.standard_normal((32, 8))
    base = {
        "proj": rng.standard_normal((8, 12)).tolist(),
        "offsets": rng.uniform(0, 1, 12).tolist(),
        "nbuckets": 64,
        "ntables": 3,
        "nhashes": 4,
        "distance": "euclidean",
    }
    legacy = _buckets(V, base)  # no "width" key → legacy rint
    # reproduce the legacy formula independently
    proj = np.asarray(base["proj"])
    offs = np.asarray(base["offsets"])
    H = (np.rint(V @ proj + offs).astype(np.int64) % 64).astype(np.int32)
    H = H.reshape(len(V), 3, 4)
    hc = np.full((len(V), 3), 1, dtype=np.int32)
    with np.errstate(over="ignore"):
        for j in range(4):
            hc = hc * np.int32(31) + H[:, :, j]
    expect = (hc.astype(np.int64) % 64).astype(np.int32)
    assert (legacy == expect).all()
    # and a meta WITH width takes the floor path (differs in general)
    modern = _buckets(V, {**base, "width": 2.5})
    assert not (modern == legacy).all()


def test_ivfpq_build_ignores_null_vectors(spark):
    """ADVICE r6: a NULL vector made np.stack crash the whole build."""
    from pyspark.sql import functions as F

    from adampro_spark.index.ivfpq import build_ivfpq

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(200)
    )
    dim = len(emb.first()["embedding"])
    nulls = spark.range(5).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.lit(None).cast(f"array<float>").alias("embedding"),
    )
    idx, meta = build_ivfpq(emb.unionByName(nulls), "embedding", pk="vec_id")
    assert idx.count() == 200  # NULL rows dropped, not crashed
    assert meta["n"] == 200


def test_all_lossy_builds_ignore_null_vectors(spark):
    """Review r7: the NULL-vector guard must cover EVERY lossy build, not
    just ivfpq/lsh/sh — a NULL row crashed pq (np.stack), ecp (NULL cell
    in the counts dict), and mi."""
    from pyspark.sql import functions as F

    from adampro_spark.index import (
        build_ecp, build_ivfpq, build_lsh, build_mi, build_pq, build_sh,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(200)
    )
    nulls = spark.range(5).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    corpus = emb.unionByName(nulls)
    for build in (build_ecp, build_pq, build_mi, build_lsh, build_sh, build_ivfpq):
        idx, _meta = build(corpus, "embedding", pk="vec_id")
        assert idx.count() == 200, build.__name__
