"""LLM-pipeline operator tests: dedup catches planted duplicates, the
banded plans never go cartesian, similarity-join strategies agree, IVF
recall climbs with nprobe."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from adampro_spark.pipeline import (
    embedding_dup_pairs,
    exact_dedup,
    ivf_knn_join,
    knn_join,
    minhash_dup_pairs,
    simhash_pairs,
    text_stats,
)

SF = "/root/testdata/sf0.001"
OFF = 1_000_000


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _with_truncated_copies(docs, mod=7):
    extra = (
        docs.filter(F.col("doc_id") % mod == 0)
        .withColumn("doc_id", F.col("doc_id") + OFF)
        .withColumn(
            "text",
            F.substring(F.col("text"), 1, ((F.length("text") * 9) / 10).cast("int")),
        )
    )
    return docs.unionByName(extra)


def test_exact_dedup_finds_planted_copies(docs):
    corpus = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + OFF))
    groups = exact_dedup(corpus).collect()
    assert len(groups) == docs.count()
    assert all(g["n_copies"] == 2 for g in groups)
    assert all(g["dup_ids"] == [g["survivor"] + OFF] for g in groups)


def test_minhash_catches_planted_near_dups(docs):
    corpus = _with_truncated_copies(docs)
    planted = {
        (r[0], r[0] + OFF)
        for r in docs.filter(F.col("doc_id") % 7 == 0).select("doc_id").collect()
    }
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_dup_pairs(corpus, threshold=0.6).collect()
    }
    # every planted truncation must be found (banding FN prob ~1e-6 at j≥0.8)
    missing = planted - pairs
    assert not missing, f"banding missed planted pairs: {sorted(missing)[:5]}"


def test_minhash_plan_is_bucketed_not_cartesian(docs):
    """Read off the lazy pair query (the public generator returns a
    checkpoint, whose plan is a bare scan of the materialized rows)."""
    from adampro_spark.caching import CacheScope
    from adampro_spark.pipeline.dedup import _minhash_pairs

    corpus = _with_truncated_copies(docs)
    with CacheScope() as scope:
        pairs = _minhash_pairs(scope, corpus, "text", "doc_id", 0.7, 8, 32, 4, 42, 1024)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hot_bucket_guard_caps_degenerate_buckets(spark):
    """Adversarial boilerplate: N identical docs put every band in ONE
    bucket — all-pairs there would be N²/2 candidates.  The guard must
    (a) finish with O(N) star pairs instead, (b) keep every doc linked
    to the group representative with exact jaccard 1.0."""
    import time

    n = 3000
    doc = "the same boilerplate paragraph repeated in every document " * 5
    corpus = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(doc).alias("text")
    )
    t0 = time.time()
    pairs = minhash_dup_pairs(corpus, max_bucket_size=100).collect()
    elapsed = time.time() - t0
    # star shape: exactly n-1 pairs (rep=0 ↔ each other doc), not ~n²/2
    assert len(pairs) == n - 1, len(pairs)
    assert {p["id_a"] for p in pairs} == {0}
    assert all(p["jaccard"] == 1.0 for p in pairs)
    assert elapsed < 60, f"hot-bucket path took {elapsed:.1f}s"


def test_hot_bucket_guard_exact_below_cap(docs):
    """With the cap above every real bucket size the guard must be a
    no-op: same pairs as the uncapped all-pairs path."""
    corpus = _with_truncated_copies(docs)
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_dup_pairs(corpus, threshold=0.6).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_dup_pairs(
            corpus, threshold=0.6, max_bucket_size=10**9
        ).collect()
    }
    assert capped == uncapped


def test_embedding_band_join_carries_no_vectors(emb):
    """The band self-join must shuffle only (pk, band_idx, band_hash) —
    vectors join back by pk for candidates (never ×bands duplicated).
    Read off the lazy pair query, not the returned checkpoint."""
    from adampro_spark.caching import CacheScope
    from adampro_spark.pipeline.dedup import _embedding_pairs

    with CacheScope() as scope:
        pairs = _embedding_pairs(
            scope, emb, "embedding", "vec_id", 0.9, None, None, 42, None, 1024
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    inputs = _band_join_inputs(pairs._jdf.queryExecution().executedPlan())
    assert inputs, f"no join keyed on the band columns:\n{plan}"
    for cols in inputs:
        assert not {"_v", "v_a", "v_b", "embedding"} & set(cols), cols


def _band_join_inputs(plan) -> list:
    """Output column names of both inputs of every physical join keyed on
    ``_band_idx``."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.inputPlan())
            continue
        kids = [node.children().apply(i) for i in range(node.children().size())]
        if "Join" in node.nodeName() and "_band_idx" in node.simpleString(100):
            for kid in kids:
                attrs = kid.output()
                out.append([attrs.apply(i).name() for i in range(attrs.size())])
        stack += kids
    return out


def test_knn_join_default_strategy_is_scale_safe(emb):
    """Default knn_join must not plan a broadcast nested-loop cartesian
    (the round-3 verdict's scale-killer): default = local_topk."""
    q = emb.limit(3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    plan = (
        knn_join(emb, q, "embedding", 4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_pairs_exhaustive_by_pigeonhole(docs):
    # chunks > max_hamming ⇒ banded join must equal brute force exactly
    small = docs.filter(F.col("doc_id") < 60)
    corpus = small.unionByName(small.withColumn("doc_id", F.col("doc_id") + OFF))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(corpus, max_hamming=2).collect()
    }
    from adampro_spark.pipeline.dedup import simhash_expr

    sims = corpus.select("doc_id", simhash_expr("text").alias("s")).collect()
    brute = set()
    for i, a in enumerate(sims):
        for b in sims[i + 1 :]:
            x, y = (a, b) if a["doc_id"] < b["doc_id"] else (b, a)
            h = bin(x["s"] ^ y["s"]).count("1")
            if h <= 2:
                brute.add((x["doc_id"], y["doc_id"], h))
    assert got == brute


def test_embedding_dup_pairs_catches_scaled_copies(emb):
    copies = (
        emb.filter(F.col("vec_id") % 11 == 0)
        .withColumn("vec_id", F.col("vec_id") + OFF)
        .withColumn(
            "embedding",
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: x * F.lit(1.001)
            ),
        )
    )
    corpus = emb.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).unionByName(copies)
    pairs = embedding_dup_pairs(corpus, threshold=0.99)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {
        (r[0], r[0] + OFF)
        for r in emb.filter(F.col("vec_id") % 11 == 0).select("vec_id").collect()
    }
    assert planted <= got
    assert all(r["cos_sim"] >= 0.99 for r in pairs.collect())


def test_knn_join_strategies_agree(emb):
    q = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    key = lambda df: sorted(  # noqa: E731
        (r["q_id"], r["vec_id"], round(r["ap_distance"], 6)) for r in df.collect()
    )
    a = key(knn_join(emb, q, "embedding", 4, "manhattan", strategy="window"))
    b = key(knn_join(emb, q, "embedding", 4, "manhattan", strategy="local_topk"))
    assert a == b
    assert len(a) == 6 * 4


def test_ivf_reuses_persisted_ecp_index(spark, emb, tmp_path):
    """Passing a persisted eCP index skips the per-join cell assignment
    and must match the inline variant (same leaders, same seed)."""
    from adampro_spark.ops import AdamOps

    ops = AdamOps(spark, str(tmp_path / "cat"))
    ops.index.create_from_df("e_ecp", "emb", emb, "embedding", "ecp", pk="vec_id")
    loaded = ops.index.load("e_ecp")
    q = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("q_id"), "embedding")
    a = ivf_knn_join(emb, q, "embedding", 4, "euclidean", nprobe=50, ecp_index=loaded)
    b = ivf_knn_join(emb, q, "embedding", 4, "euclidean", nprobe=50)
    key = lambda df: sorted(  # noqa: E731
        (r["q_id"], r["vec_id"], round(r["ap_distance"], 6)) for r in df.collect()
    )
    assert key(a) == key(b)


def test_knn_join_auto_routes_big_query_side_distributed(spark, emb):
    """Above ``auto_collect_cap`` the auto strategy must keep the query
    side DISTRIBUTED: the cell join plans as a shuffle join (SortMergeJoin
    on _cell), not a forced BroadcastHashJoin — a huge |Q| then costs a
    bigger shuffle instead of a driver collect / executor OOM."""
    q = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        routed = knn_join(
            emb, q, "embedding", 4, "euclidean",
            strategy="auto", auto_collect_cap=10, nprobe=50,
        )
        plan = routed._jdf.queryExecution().executedPlan().toString()
        import re

        assert re.search(r"SortMergeJoin.*_cell", plan), plan
        assert not re.search(r"BroadcastHashJoin.*_cell", plan), plan

        forced = ivf_knn_join(
            emb, q, "embedding", 4, "euclidean", nprobe=50,
            broadcast_queries=True,
        )
        fplan = forced._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"BroadcastHashJoin.*_cell", fplan), fplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # both shapes compute the same join (nprobe=50 probes every cell → exact)
    key = lambda df: sorted(  # noqa: E731
        (r["q_id"], r["vec_id"], round(r["ap_distance"], 6)) for r in df.collect()
    )
    assert key(routed) == key(forced)
    assert key(routed) == key(
        knn_join(emb, q, "embedding", 4, "euclidean", strategy="local_topk")
    )


def test_knn_join_auto_byte_budget_routes_high_dim_distributed(spark, emb):
    """VERDICT r5 item 4: the auto caps are BYTE-aware, not just row
    counts — a query side few in rows but huge in dimensionality must
    route to the distributed IVF cell-join (no driver collect, no
    broadcast), and the IVF broadcast decision obeys the same budget."""
    import re

    q = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # 40 rows (under the 100k row cap) but dim*8*40 > 1 KiB budget
        routed = knn_join(
            emb, q, "embedding", 4, "euclidean",
            strategy="auto", auto_collect_bytes=1024, nprobe=50,
        )
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan  # not the collect+broadcast path
        assert re.search(r"SortMergeJoin.*_cell", plan), plan
        assert not re.search(r"BroadcastHashJoin.*_cell", plan), plan

        # same budget axis inside ivf_knn_join's broadcast decision
        shuffled = ivf_knn_join(
            emb, q, "embedding", 4, "euclidean", nprobe=50,
            broadcast_cap_bytes=1024,
        )
        splan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"BroadcastHashJoin.*_cell", splan), splan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # byte-routed result identical to the exact local path (nprobe=50
    # probes every cell)
    key = lambda df: sorted(  # noqa: E731
        (r["q_id"], r["vec_id"], round(r["ap_distance"], 6)) for r in df.collect()
    )
    assert key(routed) == key(
        knn_join(emb, q, "embedding", 4, "euclidean", strategy="local_topk")
    )


def test_knn_join_auto_small_query_side_is_exact_local_topk(emb):
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    key = lambda df: sorted(  # noqa: E731
        (r["q_id"], r["vec_id"], round(r["ap_distance"], 6)) for r in df.collect()
    )
    assert key(knn_join(emb, q, "embedding", 3, "manhattan")) == key(
        knn_join(emb, q, "embedding", 3, "manhattan", strategy="local_topk")
    )


def test_ivf_recall_climbs_with_nprobe(emb):
    q = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    ref = {
        (r["q_id"], r["vec_id"])
        for r in knn_join(emb, q, "embedding", 4, "euclidean").collect()
    }
    recalls = []
    for nprobe in (2, 8, 22):
        got = {
            (r["q_id"], r["vec_id"])
            for r in ivf_knn_join(
                emb, q, "embedding", 4, "euclidean", nprobe=nprobe
            ).collect()
        }
        recalls.append(len(got & ref) / len(ref))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0  # probing every cell is exact


def test_minhash_udf_matches_native_expressions(docs):
    """The Arrow-UDF fast path in minhash_dup_pairs must be bit-identical
    to the native expression forms (shingle_hashes → minhash_signature →
    minhash_bands) — the native forms are what the DuckDB oracle mirrors,
    so this equality is the parity chain for the banded plan."""
    from pyspark.sql import functions as F

    from adampro_spark.pipeline.dedup import (
        HASH_P,
        minhash_bands,
        minhash_coeffs,
        minhash_signature,
    )
    from adampro_spark.pipeline.text import shingle_hashes

    sample = docs.filter(F.col("doc_id") < 20)
    native = (
        sample.select(
            "doc_id",
            F.array_distinct(shingle_hashes("text", 8)).alias("sh"),
        )
        .withColumn("sig", minhash_signature(F.col("sh"), 16, seed=42))
        .select("doc_id", F.sort_array("sh").alias("sh"),
                minhash_bands(F.col("sig"), 4, 4).alias("bands"))
        .collect()
    )
    nat = {r["doc_id"]: (list(r["sh"]), list(r["bands"])) for r in native}

    import numpy as np

    a_co, b_co = minhash_coeffs(16, 42)
    texts = {r["doc_id"]: r["text"] for r in sample.select("doc_id", "text").collect()}
    for doc_id, text in texts.items():
        codes = np.array([ord(c) for c in text], dtype=np.int64)
        w = 31 ** np.arange(7, -1, -1, dtype=np.int64)
        sw = np.lib.stride_tricks.sliding_window_view(codes, 8)
        sh = np.unique((sw @ w) % HASH_P)
        A = np.asarray(a_co, dtype=np.int64)[:, None]
        B = np.asarray(b_co, dtype=np.int64)[:, None]
        sig = ((A * sh[None, :] + B) % HASH_P).min(axis=1)
        bands = []
        for j in range(4):
            acc = np.int64(0)
            for x in sig[j * 4 : (j + 1) * 4]:
                acc = (acc * 31 + x) % HASH_P
            bands.append(int(acc))
        assert sorted(nat[doc_id][0]) == sh.tolist(), doc_id
        assert nat[doc_id][1] == bands, doc_id


def test_text_stats_ranges(docs):
    rows = text_stats(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r["n_tokens"] > 0
        assert 0.0 <= r["alnum_ratio"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["quality"] <= 1.0


def test_profile_one_pass_stats(spark, tables):
    """profile(): one agg pass, sketch-based; sanity vs exact answers on
    the small corpus (HLL within its rsd, quantiles within GK bounds)."""
    from adampro_spark.pipeline.profile import profile

    docs = tables["documents"]
    prof = {r["column"]: r for r in profile(docs, ["doc_id", "text", "lang"]).collect()}

    n = docs.count()
    assert prof["doc_id"]["n"] == n and prof["doc_id"]["n_null"] == 0
    exact = docs.select("doc_id").distinct().count()
    assert abs(prof["doc_id"]["approx_distinct"] - exact) <= max(2, 0.15 * exact)
    assert prof["doc_id"]["min"] == 0.0 and prof["doc_id"]["max"] == float(n - 1)
    # string column: length stats
    max_len = docs.agg(F.max(F.length("text"))).collect()[0][0]
    assert prof["text"]["max"] == float(max_len)
    assert prof["text"]["q"] is not None and len(prof["text"]["q"]) == 3
    # non-numeric/non-string columns would carry null min/max; lang is a
    # string so it has length stats but a tiny distinct count
    assert prof["lang"]["approx_distinct"] <= 10


def test_dup_groups_matches_union_find(spark):
    """Label-propagation components == driver-side union-find on the same
    pairs (chains force multi-round propagation)."""
    from adampro_spark.pipeline.dedup import dup_groups

    raw = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (4, 5)]
    pairs = spark.createDataFrame(raw, ["id_a", "id_b"])
    got = {r["id"]: r["survivor"] for r in dup_groups(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


def test_deduplicate_keeps_survivors_only(spark, tables):
    """End-to-end: planted exact copies -> minhash pairs -> deduplicate
    leaves exactly one member per duplicate group."""
    from adampro_spark.pipeline.dedup import deduplicate, minhash_dup_pairs

    # exclude short/empty docs: they are mutually near-identical (the
    # sentinel-shingle group) and would legitimately dedup against each
    # other, which is not what this test is probing
    docs = (
        tables["documents"]
        .filter(F.length("text") > 100)
        .select("doc_id", "text")
    )
    copies = docs.filter(F.col("doc_id") % 9 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = docs.unionByName(copies)
    from adampro_spark.pipeline.dedup import dup_groups

    pairs = minhash_dup_pairs(corpus, threshold=0.9)
    cleaned = deduplicate(corpus, pairs)
    kept = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    every = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    # every planted copy drops: it pairs with its original, whose id is
    # smaller, so a copy can never be its group's survivor
    assert not {d for d in kept if d >= 1_000_000}
    # kept == corpus minus exactly the non-survivor group members (the
    # corpus also contains NATURAL near-dups at this threshold — e.g.
    # small-vocabulary docs 8 and 12 are near-identical — which dedup
    # correctly collapses too)
    labels = {r["id"]: r["survivor"] for r in dup_groups(pairs).collect()}
    want = {d for d in every if labels.get(d, d) == d}
    assert kept == want
    assert len(kept) < len(every)


def test_dup_groups_long_chain_converges(spark):
    """A path graph needs diameter-many rounds — past 8 the loop truncates
    lineage with a localCheckpoint; labels must still converge to the
    chain's minimum for every node."""
    from adampro_spark.pipeline.dedup import dup_groups

    n = 14
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r["id"]: r["survivor"] for r in dup_groups(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_dup_groups_star_beats_diameter_on_chains(spark):
    """A 64-node chain exceeds propagation's escape budget: dup_groups
    switches to star alternation, which converges in O(log²) rounds,
    so labels are correct on arbitrary-diameter graphs."""
    from adampro_spark.pipeline.dedup import ESCAPE_ROUNDS, dup_groups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    st: dict = {}
    got = {r["id"]: r["survivor"] for r in dup_groups(pairs, _stats=st).collect()}
    assert got == {i: 0 for i in range(64)}
    assert st["algorithm"] == "auto->star"
    # the propagation rounds before the switch, then log²-ish star rounds
    # — nowhere near the diameter 63
    assert st["rounds"] <= ESCAPE_ROUNDS + 1 + 10


def test_dup_groups_auto_stays_on_propagation_for_dense_graphs(spark):
    """Dense near-dup clusters (diameter ≤ 2) converge within the escape
    budget, so "auto" keeps propagation's cheaper rounds — the shape the
    bench row exercises must not pay star's extra per-round jobs."""
    from adampro_spark.pipeline.dedup import dup_groups

    cliques = []
    for c in range(6):
        ids = [c * 100 + i for i in range(5)]
        cliques += [(a, b) for a in ids for b in ids if a < b]
    pairs = spark.createDataFrame(cliques, "id_a long, id_b long")
    st: dict = {}
    got = {
        r["id"]: r["survivor"] for r in dup_groups(pairs, _stats=st).collect()
    }
    assert st["algorithm"] == "propagate"
    assert all(got[c * 100 + i] == c * 100 for c in range(6) for i in range(5))


def test_dup_groups_all_algorithms_agree(spark):
    """dup_groups labels every node of a random graph with its
    component minimum, exactly as a pure-Python union-find does."""
    import numpy as np

    from adampro_spark.pipeline.dedup import dup_groups

    rng = np.random.RandomState(1)
    raw = {(int(a), int(b)) for a, b in rng.randint(0, 300, size=(200, 2)) if a != b}
    pairs = spark.createDataFrame(sorted(raw), "id_a long, id_b long")
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert {r["id"]: r["survivor"] for r in dup_groups(pairs).collect()} == want


def test_curate_end_to_end_gates_and_dedup(spark, docs):
    """The composition a pipeline actually runs: plant one failure of each
    kind (short doc, junk/low-quality doc, near-dup copy) — every plant
    must be gone from the output, the attrition report must reconcile,
    and clean originals must survive."""
    from adampro_spark.pipeline.curate import curate

    base = docs.select("doc_id", "text")
    plants = spark.createDataFrame(
        [
            (2_000_001, "tiny doc"),                       # short
            (2_000_002, "@@@@ #### !!!! %%%% " * 40),      # zero alnum -> low quality
        ],
        "doc_id long, text string",
    )
    # near-dup copies of every 7th doc (truncated 90%) under high ids
    copies = (
        base.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + OFF)
        .withColumn(
            "text",
            F.substring(F.col("text"), 1, ((F.length("text") * 9) / 10).cast("int")),
        )
    )
    corpus = base.unionByName(plants).unionByName(copies)

    out, report = curate(
        corpus, langs=("en",), min_tokens=5, min_quality=0.2,
        dedup="minhash", dedup_threshold=0.6,
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}

    assert 2_000_001 not in ids and 2_000_002 not in ids
    # every planted near-dup group lost its copy (min-pk original survives)
    assert not {i for i in ids if OFF <= i < 2_000_000}
    assert report["n_input"] == corpus.count()
    assert report["n_short"] >= 1 and report["n_low_quality"] >= 1
    assert report["n_dup_dropped"] >= copies.count() * 9 // 10
    assert report["n_output"] == len(ids)
    assert report["n_after_gates"] - report["n_dup_dropped"] == report["n_output"]
    # clean originals survive (docs are template-English with quality > 0.2)
    assert len(ids) > base.count() * 0.8


def test_curate_exact_mode(spark, docs):
    """dedup='exact': planted byte-identical copies are dropped (min-pk
    survives), near-dups are NOT (exact semantics), the Jaccard knob
    raises, and the report reconciles."""
    import pytest as _pytest

    from adampro_spark.pipeline.curate import curate

    base = docs.select("doc_id", "text")
    copies = base.filter(F.col("doc_id") % 13 == 0).withColumn(
        "doc_id", F.col("doc_id") + OFF
    )
    corpus = base.unionByName(copies)

    with _pytest.raises(ValueError, match="exact"):
        curate(corpus, dedup="exact", dedup_threshold=0.8)

    out, report = curate(
        corpus, langs=None, min_tokens=0, min_quality=0.0, dedup="exact"
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert not {i for i in ids if i >= OFF}          # every copy dropped
    assert ids == {r["doc_id"] for r in base.collect()}  # originals intact
    assert report["n_dup_dropped"] == copies.count()
    assert report["n_output"] == len(ids)
    assert report["n_after_gates"] - report["n_dup_dropped"] == report["n_output"]


def test_curate_simhash_rejects_jaccard_threshold(spark, docs):
    """ADVICE r5 (low): dedup_threshold has no effect under simhash —
    must raise instead of silently ignoring the knob."""
    import pytest as _pytest

    from adampro_spark.pipeline.curate import curate

    with _pytest.raises(ValueError, match="max_hamming"):
        curate(
            docs.select("doc_id", "text"), dedup="simhash", dedup_threshold=0.8,
        )
    # the supported simhash knob works
    out, report = curate(
        docs.select("doc_id", "text").limit(50), langs=None, min_tokens=0,
        min_quality=0.0, dedup="simhash", max_hamming=2,
    )
    assert report["n_output"] == out.count()


def test_curate_stage_timings_recorded(spark, docs):
    from adampro_spark.pipeline.curate import curate

    stages: dict[str, float] = {}
    _out, report = curate(
        docs.select("doc_id", "text").limit(100), langs=None, min_tokens=0,
        min_quality=0.0, dedup="minhash", stage_timings=stages,
    )
    assert set(stages) == {"gates_sec", "pairs_sec", "resolution_sec"}
    assert all(v >= 0 for v in stages.values())
    assert report["n_input"] == 100


def test_curate_gates_only_matches_manual_filters(spark, docs):
    """dedup=None: the kept set must equal the manual conjunction of the
    same gate expressions (one-scan flags == composable filters)."""
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.text import langid_expr, tokens_expr

    base = docs.select("doc_id", "text")
    out, report = curate(
        base, langs=("en", "und"), min_tokens=30, min_quality=0.0, dedup=None,
    )
    n_chars = F.length("text")
    manual = base.filter(
        langid_expr("text").isin(["en", "und"])
        & (F.size(tokens_expr("text")) >= 30)
    )
    assert {r["doc_id"] for r in out.collect()} == {
        r["doc_id"] for r in manual.collect()
    }
    assert report["n_output"] == manual.count()
    assert report["n_too_long"] == 0


def test_dup_groups_reliable_checkpoint(spark, tmp_path):
    """reliable=True: rounds checkpoint to the reliable store (survives
    executor loss on a cluster); same labels as the local default."""
    import pytest as _pytest

    from adampro_spark.pipeline.dedup import dup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        with _pytest.raises(ValueError, match="setCheckpointDir"):
            dup_groups(pairs, reliable=True)
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    got = {r["id"]: r["survivor"] for r in dup_groups(pairs, reliable=True).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_profile_vector_columns_report_norm_stats(spark, emb):
    """Embedding columns profile their L2 norm through the standard
    min/max/mean/q slots — still one aggregation pass."""
    import numpy as np

    from adampro_spark.pipeline.profile import profile

    res = {r["column"]: r for r in profile(emb).collect()}
    v = res["embedding"]
    assert v["n"] == emb.count() and v["n_null"] == 0
    assert 0 <= v["min"] <= v["mean"] <= v["max"]
    # cross-check the mean norm against numpy on the same rows
    norms = [
        float(np.linalg.norm(np.asarray(r["embedding"], dtype=float)))
        for r in emb.select("embedding").collect()
    ]
    assert abs(v["mean"] - float(np.mean(norms))) < 1e-6
    assert v["q"] is not None and len(v["q"]) == 3


def test_minhash_null_text_and_empty_embeddings(spark, docs, emb):
    """Review r6: NULL text crashed the minhash UDF worker; empty /
    all-NULL vector tables crashed embedding_dup_pairs dim inference.
    Both must degrade gracefully like the rest of the dedup family."""
    from adampro_spark.pipeline.dedup import embedding_dup_pairs

    with_null = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame([(9_999_999, None)], "doc_id long, text string")
    )
    pairs = minhash_dup_pairs(with_null.limit(60), threshold=0.7)
    pairs.collect()  # must not raise

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_dup_pairs(empty).count() == 0
    nulls = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = embedding_dup_pairs(nulls, threshold=0.9).collect()
    assert got == []  # the NULL vector pairs with nothing


def test_knn_join_strategies_agree_on_ties_and_string_pks(spark):
    """Review r6 (reproduced): local_topk's batch argpartition dropped
    distance-tied rows without the (distance, pk) tie-break, and its
    hardcoded 'long' schema broke string pks."""
    data = spark.createDataFrame(
        [(9, [1.0, 0.0]), (3, [0.0, 1.0]), (1, [0.0, -1.0])],
        "vec_id long, embedding array<double>",
    ).repartition(3)
    q = spark.createDataFrame([(0, [0.0, 0.0])], "q_id long, embedding array<double>")
    key = lambda df: sorted(  # noqa: E731
        (r["q_id"], r["vec_id"]) for r in df.collect()
    )
    a = key(knn_join(data, q, "embedding", 1, "euclidean", strategy="window"))
    b = key(knn_join(data, q, "embedding", 1, "euclidean", strategy="local_topk"))
    assert a == b == [(0, 1)]  # all tied at distance 1.0 -> min pk wins

    sdata = spark.createDataFrame(
        [("b", [1.0]), ("a", [1.0])], "vec_id string, embedding array<double>"
    )
    sq = spark.createDataFrame([("q1", [0.0])], "q_id string, embedding array<double>")
    res = knn_join(sdata, sq, "embedding", 1, "euclidean", strategy="local_topk")
    assert [(r["q_id"], r["vec_id"]) for r in res.collect()] == [("q1", "a")]


def test_knn_join_cosine_zero_norm_parity(spark):
    """Review r6 (reproduced): the numpy kernel only guarded exactly-zero
    norms while the expression kernel used a 1e-5 epsilon — the two
    'exact' strategies disagreed for norms in (0, 1e-5)."""
    data = spark.createDataFrame(
        [(5, [-1e-6, 0.0]), (6, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame([(0, [1.0, 0.0])], "q_id long, embedding array<double>")
    key = lambda df: sorted(  # noqa: E731
        (r["q_id"], r["vec_id"], round(r["ap_distance"], 6)) for r in df.collect()
    )
    a = key(knn_join(data, q, "embedding", 1, "cosine", strategy="window"))
    b = key(knn_join(data, q, "embedding", 1, "cosine", strategy="local_topk"))
    assert a == b


@pytest.mark.parametrize(
    "sf_dir",
    [
        "/root/testdata/sf0.01",
        pytest.param(
            "/root/testdata/sf0.1",
            marks=pytest.mark.skipif(
                os.environ.get("SPARK_GRAFT_SLOW") != "1",
                reason="quadratic brute force at sf0.1; set SPARK_GRAFT_SLOW=1",
            ),
        ),
    ],
    ids=["sf0.01", "sf0.1"],
)
def test_curate_minhash_composition_vs_brute_force(spark, sf_dir):
    """VERDICT r6 #7: the bench-only curate(dedup='minhash') composition,
    verified against an INDEPENDENT pipeline: gates recomputed from the
    driver-verified text_stats/langid expressions, candidate pairs by
    brute-force all-pairs shingle-set Jaccard (no banding anywhere), and
    components by a driver-side union-find — survivors must match
    exactly.  Runs at sf0.01 always; the sf0.1 variant (the scale the
    round-6 quadratic-oracle pattern targets) is env-gated and its result
    recorded in COVERAGE.md."""
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.text import langid_expr, shingle_hashes, text_stats

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    got, report = curate(
        docs, langs=("en",), min_tokens=20, min_quality=0.2,
        dedup="minhash", dedup_threshold=0.8,
    )
    got_ids = {r["doc_id"] for r in got.select("doc_id").collect()}

    # independent gate pass: text_stats columns + langid
    stats = text_stats(docs).join(
        docs.select("doc_id", langid_expr("text").alias("_lang")), "doc_id"
    )
    gate_ids = {
        r["doc_id"]
        for r in stats.filter(
            (F.col("_lang") == "en")
            & (F.col("n_tokens") >= 20)
            & (F.col("quality") >= 0.2)
        ).collect()
    }
    assert report["n_after_gates"] == len(gate_ids)

    # brute-force all-pairs exact Jaccard over the gate survivors
    sh = (
        docs.join(
            spark.createDataFrame([(i,) for i in gate_ids], "doc_id long"),
            "doc_id", "left_semi",
        )
        .select("doc_id", F.array_distinct(shingle_hashes("text", 8)).alias("sh"))
        .persist()
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (inter / union).alias("j"),
        )
        .filter(F.col("j") >= 0.8)
        .collect()
    )
    sh.unpersist()

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    drops = {x for x in parent if find(x) != x}
    want_ids = gate_ids - drops
    assert got_ids == want_ids
    assert report["n_dup_dropped"] == len(drops)
    assert report["n_output"] == len(want_ids)


def test_lsh_params_s_curve_tuning():
    """The (bands, rows) auto-tuner: S-curve properties, budget respect,
    and monotone response to the threshold."""
    from adampro_spark.pipeline.dedup import lsh_params

    b, r = lsh_params(0.7, num_perm=128)
    assert b * r <= 128 and b >= 1 and r >= 1
    # the S-curve midpoint (1/b)^(1/r) should land near the threshold
    mid = (1.0 / b) ** (1.0 / r)
    assert 0.4 < mid < 0.9
    # higher threshold -> more rows per band (sharper curve, higher mid)
    b_lo, r_lo = lsh_params(0.3, num_perm=128)
    b_hi, r_hi = lsh_params(0.9, num_perm=128)
    assert r_hi > r_lo
    assert (1.0 / b_hi) ** (1.0 / r_hi) > (1.0 / b_lo) ** (1.0 / r_lo)
    # weighting all mass on false positives pushes the curve up
    b_fp, r_fp = lsh_params(0.7, num_perm=128, fp_weight=1.0)
    b_fn, r_fn = lsh_params(0.7, num_perm=128, fp_weight=0.0)
    assert (1.0 / b_fp) ** (1.0 / r_fp) >= (1.0 / b_fn) ** (1.0 / r_fn)
    with pytest.raises(ValueError):
        lsh_params(0.0)
    with pytest.raises(ValueError):
        lsh_params(0.5, num_perm=1)
    with pytest.raises(ValueError):
        lsh_params(0.5, fp_weight=1.5)


def test_minhash_bands_auto_matches_fixed_semantics(spark):
    """bands='auto' resolves the banding from the threshold and returns
    exact-Jaccard-verified pairs — the verification step makes the pair
    SET threshold-exact regardless of banding, so auto and the fixed
    (32, 4) banding agree on any pair the bands surface in both."""
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta " * 4)]
    rows += [(2, rows[0][1] + " tail")]      # near-dup of 1
    rows += [(3, "completely different text about other things entirely " * 4)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    auto = {
        (r["id_a"], r["id_b"])
        for r in minhash_dup_pairs(corpus, threshold=0.7, bands="auto").collect()
    }
    assert (1, 2) in auto and all(3 not in p for p in auto)


# ---------------------------------------------------------------------------
# CCNet dedup-hash normalization (round 11; Wenzek et al. 2020 §3.1)
# ---------------------------------------------------------------------------


def test_ccnet_normalize_expr_folds(spark):
    from adampro_spark.pipeline.text import ccnet_normalize_expr

    cases = [
        # case + accents + digits + punct all fold
        ("Héllo, Wörld! 42?", "hello world 00"),
        # non-decomposable letters pass through (CCNet strip_accents too)
        ("ŒUF æther ßtraße øre", "œuf æther ßtraße øre"),
        # unicode quotes/dashes/ellipsis stripped
        ("«déjà-vu» — c’est fini…", "dejavu  cest fini"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], ["t"])
    out = [r[0] for r in df.select(ccnet_normalize_expr("t")).collect()]
    # whitespace is NOT collapsed by the expr itself (tokens_expr does
    # that downstream) — compare token sequences
    assert [o.split() for o in out] == [e.split() for _, e in cases]


def test_exact_dedup_ccnet_groups_normalized_equivalents(spark):
    rows = [
        (1, "The quick Brown Fox, item 12!"),
        (2, "the QUICK brown fox — item 99"),   # case/digit/punct variant
        (3, "Thé quïck brôwn fôx item 00"),      # accent variant
        (4, "a completely different document"),
        (5, "The quick Brown Fox, item 12!"),    # byte-identical to 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plain = exact_dedup(df).collect()
    # plain: only the byte-identical pair groups
    assert len(plain) == 1 and plain[0]["n_copies"] == 2
    cc = exact_dedup(df, normalize="ccnet").collect()
    assert len(cc) == 1
    g = cc[0]
    assert g["survivor"] == 1 and g["n_copies"] == 4
    assert g["dup_ids"] == [2, 3, 5]


def test_exact_dedup_normalize_rejects_unknown(docs):
    with pytest.raises(ValueError, match="normalize"):
        exact_dedup(docs, normalize="nfkc")


def test_line_dedup_ccnet_matches_variant_boilerplate(spark):
    from adampro_spark.pipeline import line_dedup

    boiler = [
        "Copyright 2019 Example Corp.",
        "copyright 2024 EXAMPLE corp",     # digits + case differ
        "Cöpyright 2001 Éxample Corp!!!",  # accents + punct differ
    ]
    # bodies must differ in LETTERS: a digit-only difference would
    # itself fold to one line under the normalization being tested
    names = ["alpha", "bravo", "carol"]
    rows = [
        (i, f"unique body {names[i]} stays\n{b}") for i, b in enumerate(boiler)
    ] + [(99, "untouched doc\nno shared lines here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # plain hashing sees 3 distinct lines -> nothing reaches min_docs=3
    out_plain = {r["doc_id"]: r for r in line_dedup(df, min_docs=3).collect()}
    assert all(r["n_lines_removed"] == 0 for r in out_plain.values())
    # normalized hashing groups all three variants -> each doc loses it
    out = {
        r["doc_id"]: r
        for r in line_dedup(df, min_docs=3, normalize="ccnet").collect()
    }
    for i in range(3):
        assert out[i]["n_lines_removed"] == 1
        assert out[i]["text"] == f"unique body {names[i]} stays"
    # untouched document keeps its exact bytes
    assert out[99]["text"] == "untouched doc\nno shared lines here"
    assert out[99]["n_lines_removed"] == 0


def test_curate_exact_dedup_accepts_normalize(spark):
    from adampro_spark.pipeline.curate import curate

    base = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet green field every single day"
    )
    rows = [
        (1, base + " item 12!"),
        (2, base.upper() + " ITEM 99?"),  # ccnet-equivalent to 1
        (3, base + " but genuinely different tail content here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out, rep = curate(
        df, dedup="exact", normalize="ccnet", min_tokens=5, min_quality=0.0
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {1, 3}
    assert rep["n_dup_dropped"] == 1


def test_line_dedup_ccnet_keeps_punct_only_separators(spark):
    """Review r11 #5: visually distinct punct-only separator lines all
    normalize to '' — they must never be grouped as boilerplate."""
    from adampro_spark.pipeline import line_dedup

    rows = [
        (0, "body alpha\n***"),
        (1, "body bravo\n---"),
        (2, "body carol\n…"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(df, min_docs=3, normalize="ccnet").collect()}
    for i, (_, text) in enumerate(rows):
        assert out[i]["n_lines_removed"] == 0
        assert out[i]["text"] == text
