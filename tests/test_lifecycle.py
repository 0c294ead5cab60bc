"""Index lifecycle, planner, facade, entity DML, and parallel/timed
execution tests (round-3 additions: verdict items 3-7)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from adampro_spark.execution import knn_paths, parallel_query, timed_knn
from adampro_spark.operators.scan import DISTANCE_COL, sequential_scan
from adampro_spark.ops import AdamOps, plan_knn

SF = "/root/testdata/sf0.001"
Q = [round(0.1 * ((i * 7) % 13) - 0.5, 4) for i in range(64)]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def ops(spark, tmp_path_factory, emb):
    o = AdamOps(spark, str(tmp_path_factory.mktemp("cat")))
    o.index.create_from_df("e_vaf", "emb", emb, "embedding", "vaf", pk="vec_id")
    o.index.create_from_df("e_ecp", "emb", emb, "embedding", "ecp", pk="vec_id")
    return o


def _brute_ids(emb, dist, k=10):
    r = sequential_scan(emb, "embedding", Q, k, dist, pk="vec_id")
    return [(x["vec_id"], round(x[DISTANCE_COL], 6)) for x in r.collect()]


def test_persisted_index_scan_reads_parquet(ops, emb):
    res = ops.query.index("e_vaf", Q, 10, "manhattan", df=emb)
    got = [(x["vec_id"], round(x[DISTANCE_COL], 6)) for x in res.collect()]
    assert got == _brute_ids(emb, "manhattan")
    # the candidate side of the plan must scan the PERSISTED index table,
    # not re-derive cells from the entity (Index.scala:442-471 lifecycle)
    idx_df, meta = ops.index.load("e_vaf")
    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert ops.catalog.index_path("e_vaf").split("/")[-1] in plan


def test_ecp_layout_is_partition_pruned(ops, emb):
    # index table written partitionBy(cell): cell dirs on disk + the scan
    # filter becomes a PartitionFilter (ECPPartitioner.scala:99-103)
    path = ops.catalog.index_path("e_ecp")
    cells = glob.glob(os.path.join(path, "ap_indexfeature=*"))
    assert len(cells) > 1
    idx_df, meta = ops.index.load("e_ecp")
    scan = idx_df.filter(F.col("ap_indexfeature").isin([0, 1]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "ap_indexfeature" in plan.split("PartitionFilters")[1][:200]


def test_planner_hint_walk(ops):
    p = plan_knn(ops.catalog, "emb", "embedding", "manhattan", hints=("exact",))
    assert p.path == "e_vaf" and p.confidence == 1.0
    p = plan_knn(ops.catalog, "emb", "embedding", "cosine", hints=("exact",))
    assert p.path == "sequential"  # VA family is Minkowski-only
    p = plan_knn(ops.catalog, "emb", "embedding", "euclidean", hints=("ecp",))
    assert p.path == "e_ecp" and p.confidence == 0.5
    p = plan_knn(ops.catalog, "emb", "embedding", "euclidean", hints=("sequential",))
    assert p.path == "sequential"
    p = plan_knn(ops.catalog, "emb", "embedding", "euclidean", hints=("approximate",))
    assert p.path == "e_vaf"  # preference order: exact types first


def test_planner_skips_stale_index(ops):
    # mark stale directly (the insert path does this via bump_version)
    data = ops.catalog._read()
    data["indexes"]["e_vaf"]["stale"] = True
    ops.catalog._write(data)
    try:
        p = plan_knn(ops.catalog, "emb", "embedding", "manhattan", hints=("exact",))
        assert p.path == "sequential"
        assert any("stale" in r for r in p.reasons)
    finally:
        data = ops.catalog._read()
        data["indexes"]["e_vaf"]["stale"] = False
        ops.catalog._write(data)


def test_planned_query_matches_sequential(ops, emb):
    res, plan = ops.query.knn(
        "emb", "embedding", Q, 10, "manhattan", hints=("exact",), df=emb, pk="vec_id"
    )
    got = [(x["vec_id"], round(x[DISTANCE_COL], 6)) for x in res.collect()]
    assert plan.path == "e_vaf"
    assert got == _brute_ids(emb, "manhattan")


def test_planned_query_with_predicates_threads_prefilter(ops, emb):
    """Predicates must reach the INDEX scan as a PK prefilter
    (HintBasedScanExpression filter-first pipeline): VA's k-th upper bound
    computed over the unfiltered index would prune true neighbors of the
    filtered subset — the planned result must equal brute force over the
    filtered rows, for both the exact (vaf) and lossy (ecp) routes."""
    preds = [("label", "=", [2])]
    filtered = emb.filter(F.col("label") == 2)
    want = [
        (x["vec_id"], round(x[DISTANCE_COL], 6))
        for x in sequential_scan(
            filtered, "embedding", Q, 10, "manhattan", pk="vec_id"
        ).collect()
    ]
    res, plan = ops.query.knn(
        "emb", "embedding", Q, 10, "manhattan",
        hints=("exact",), predicates=preds, df=emb, pk="vec_id",
    )
    assert plan.path == "e_vaf"
    got = [(x["vec_id"], round(x[DISTANCE_COL], 6)) for x in res.collect()]
    assert got == want

    want_e = [
        (x["vec_id"], round(x[DISTANCE_COL], 6))
        for x in sequential_scan(
            filtered, "embedding", Q, 10, "euclidean", pk="vec_id"
        ).collect()
    ]
    res_e, plan_e = ops.query.knn(
        "emb", "embedding", Q, 10, "euclidean",
        hints=("ecp",), predicates=preds, df=emb, pk="vec_id", times_k=25,
    )
    assert plan_e.path == "e_ecp"
    got_e = [(x["vec_id"], round(x[DISTANCE_COL], 6)) for x in res_e.collect()]
    assert got_e == want_e


def test_batch_query_returns_in_input_order(ops, emb):
    """doBatchQuery (DataQuery.scala:253-257): one observation per
    sub-query, input order, each equal to its individually-planned run."""
    specs = [
        dict(entity="emb", attribute="embedding", query=Q, k=5,
             distance_name="manhattan", hints=("exact",), df=emb, pk="vec_id"),
        dict(entity="emb", attribute="embedding", query=Q, k=3,
             distance_name="euclidean", hints=("sequential",), df=emb, pk="vec_id"),
    ]
    obs = ops.query.batch_query(specs)
    assert [o.path for o in obs] == ["q0", "q1"]
    assert all(o.error is None for o in obs)
    assert len(obs[0].rows) == 5
    assert len(obs[1].rows) == 3
    want = [r["vec_id"] for r in sequential_scan(
        emb, "embedding", Q, 5, "manhattan", pk="vec_id").collect()]
    assert [r["vec_id"] for r in obs[0].rows] == want


def test_scored_execution_paths_ranking(ops, emb):
    """getScoredExecutionPaths (DataQuery.scala:380-411): every candidate
    path listed with planner signals; trained scores outrank static
    confidence; metadata only (no execution)."""
    paths = ops.query.scored_execution_paths("emb", "embedding", "manhattan")
    names = {p["path"] for p in paths}
    assert {"sequential", "e_vaf"} <= names
    vaf = next(p for p in paths if p["path"] == "e_vaf")
    assert vaf["usable"] and vaf["confidence"] == 1.0
    # ecp does not conform to manhattan in this build -> flagged unusable
    ecp = next(p for p in paths if p["path"] == "e_ecp")
    usable_block = [p["usable"] for p in paths]
    assert usable_block == sorted(usable_block, reverse=True)

    from adampro_spark.ops import train_planner

    train_planner(ops, "emb", "embedding", Q, 10, "euclidean", df=emb, pk="vec_id")
    scored = ops.query.scored_execution_paths("emb", "embedding", "euclidean")
    top = scored[0]
    assert top["usable"] and top["score"] is not None


def test_sparsify_entity_roundtrip(spark, tmp_path, emb):
    """sparsify (DataDefintion sparsify + SparseVectorWrapper.scala:24-28):
    storage becomes the sparse struct, reads densify transparently with
    sub-threshold values zeroed, and kNN over the entity still works."""
    ops = AdamOps(spark, str(tmp_path / "spcat"))
    ops.entity.create("e", [("vec_id", "long"), ("embedding", "vector")])
    ops.entity.insert("e", emb.select("vec_id", "embedding").limit(100))
    before = {
        r["vec_id"]: [x if abs(x) > 0.1 else 0.0 for x in r["embedding"]]
        for r in ops.entity.get("e").df().collect()
    }
    ops.entity.sparsify("e", "embedding", threshold=0.1)

    stored = spark.read.parquet(ops.catalog.entity_path("e"))
    assert dict(stored.dtypes)["embedding"].startswith("struct<")

    after = {
        r["vec_id"]: list(r["embedding"])
        for r in ops.entity.get("e").df().collect()
    }
    assert set(before) == set(after)
    for k in before:
        assert [round(x, 5) for x in before[k]] == [round(x, 5) for x in after[k]]

    res = ops.query.sequential("e", "embedding", Q, 5, "euclidean", pk="vec_id")
    assert res.count() == 5

    with pytest.raises(ValueError, match="dense vector"):
        ops.entity.sparsify("e", "vec_id")


def test_knn_rejects_prefilter_kw(ops, emb):
    with pytest.raises(TypeError, match="prefilter"):
        ops.query.knn(
            "emb", "embedding", Q, 10, "manhattan",
            df=emb, pk="vec_id", prefilter=emb.select("vec_id"),
        )


def test_entity_dml_roundtrip(spark, tmp_path, emb):
    ops = AdamOps(spark, str(tmp_path / "dml"))
    ops.entity.create("t", [("vec_id", "long"), ("label", "int")])
    ops.entity.insert("t", emb.select("vec_id", "label"))
    n = emb.count()
    assert ops.entity.count("t") == n
    # PK uniqueness across a second insert batch
    ops.entity.insert("t", emb.select("vec_id", "label").limit(50))
    t = ops.entity.get("t").df()
    assert t.select("ap_id").distinct().count() == n + 50
    zeros = emb.filter(F.col("label") == 0).count()
    removed = ops.entity.delete("t", [("label", "=", [0])])
    before_files = len(glob.glob(os.path.join(ops.catalog.entity_path("t"), "*.parquet")))
    ops.entity.vacuum("t", num_partitions=2)
    after_files = len(glob.glob(os.path.join(ops.catalog.entity_path("t"), "*.parquet")))
    assert ops.entity.count("t") == n + 50 - removed
    assert after_files <= max(before_files, 2)
    assert removed >= zeros


def test_parallel_query_all_paths_finish(spark, ops, emb):
    paths = knn_paths(ops, "emb", "embedding", Q, 10, "manhattan", df=emb, pk="vec_id")
    # sequential + both conforming indexes (ecp conforms to manhattan too)
    assert set(paths) == {"sequential", "e_vaf", "e_ecp"}
    seen = []
    obs = parallel_query(spark, paths, on_next=lambda o: seen.append(o.path))
    assert sorted(seen) == sorted(paths)
    by_name = {o.path: o for o in obs}
    assert all(o.error is None for o in obs), {k: str(v.error) for k, v in by_name.items() if v.error}
    ref = _brute_ids(emb, "manhattan")
    seq_rows = [(r["vec_id"], round(r[DISTANCE_COL], 6)) for r in by_name["sequential"].rows]
    vaf_rows = [(r["vec_id"], round(r[DISTANCE_COL], 6)) for r in by_name["e_vaf"].rows]
    # exact paths reproduce brute force; the lossy eCP path just completes
    assert seq_rows == ref and vaf_rows == ref
    assert len(by_name["e_ecp"].rows) == 10


def test_timed_query_returns_best_within_deadline(spark, ops, emb):
    paths = knn_paths(ops, "emb", "embedding", Q, 10, "manhattan", df=emb, pk="vec_id")
    import time

    t0 = time.monotonic()
    best, obs = timed_knn(spark, paths, timeout_sec=60.0)
    assert time.monotonic() - t0 < 65.0
    assert best is not None and best.confidence == 1.0
    got = [(r["vec_id"], round(r[DISTANCE_COL], 6)) for r in best.rows]
    assert got == _brute_ids(emb, "manhattan")


# ---------------------------------------------------------------------------
# storage transfer through the handler registry (round-5:
# transferStorageHandler semantics, DataDefintion.scala transfer op)
# ---------------------------------------------------------------------------


def test_transfer_entity_jdbc_roundtrip(spark, tmp_path):
    """Move an entity parquet -> jdbc (embedded Derby, through the
    registry) -> back: identical rows INCLUDING PKs and vector columns at
    every step, and a mutation while on the external handler transparently
    restores the default layout first."""
    from pyspark.sql import functions as F

    from adampro_spark.io_ops import transfer_entity
    from adampro_spark.ops import AdamOps

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(80)
    ops = AdamOps(spark, str(tmp_path / "tcat"))
    ops.entity.create("tr", [("vec_id", "long"), ("embedding", "vector"), ("label", "int")])
    ops.entity.insert("tr", emb)
    ent = ops.entity.get("tr")

    def snapshot():
        return sorted(
            (r["ap_id"], r["vec_id"], tuple(round(float(x), 5) for x in r["embedding"]), r["label"])
            for r in ent.df().collect()
        )

    before = snapshot()
    url = f"jdbc:derby:{tmp_path}/transferdb;create=true"
    ops.entity.transfer(
        "tr", "jdbc", url=url, dbtable="TR_T",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    rec = ops.catalog.entity("tr")
    assert rec["storage"]["handler"] == "jdbc"
    import os

    assert not os.path.exists(ent.path)  # parquet layout is gone
    assert snapshot() == before  # identical through the JDBC read

    # queries run unchanged against the handler-backed df
    q = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    res = ops.query.sequential(
        "tr", "embedding", q, 5, "euclidean", pk="vec_id"
    )
    assert res.count() == 5

    # explicit transfer back restores the default layout, same rows
    transfer_entity(ent, "parquet")
    assert not ops.catalog.entity("tr").get("storage")
    assert snapshot() == before

    # transfer out again, then MUTATE: insert must fall back to parquet
    ops.entity.transfer(
        "tr", "jdbc", url=url, dbtable="TR_T2",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    more = emb.withColumn("vec_id", F.col("vec_id") + 10_000).limit(5)
    ops.entity.insert("tr", more)
    assert not ops.catalog.entity("tr").get("storage")
    assert ent.count() == 85
    # PKs still unique after the round-trip + insert
    assert ent.df().select("ap_id").distinct().count() == 85

    # a FILE-format handler leg through the same registry surface (ORC
    # keeps nested types natively - no JSON leg)
    after_insert = snapshot()
    ops.entity.transfer("tr", "orc", location=str(tmp_path / "tr_orc"))
    rec = ops.catalog.entity("tr")
    assert rec["storage"]["handler"] == "orc"
    assert rec["storage"]["complex_json"] == []
    assert snapshot() == after_insert
    ops.entity.transfer("tr", "parquet")
    assert snapshot() == after_insert


def test_sparsified_entity_survives_storage_rewrites(spark, tmp_path):
    """vacuum / delete / bucketize / transfer on a SPARSIFIED entity must
    rewrite the STORED sparse representation, not the densified read view
    — writing dense arrays under the sparse catalog schema corrupted the
    table (reproduced before the _stored_df fix)."""
    from pyspark.sql import functions as F

    from adampro_spark.ops import AdamOps

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    ops = AdamOps(spark, str(tmp_path / "scat"))
    ops.entity.create("sp", [("vec_id", "long"), ("embedding", "vector")])
    ops.entity.insert("sp", emb.select("vec_id", "embedding"))
    ops.entity.sparsify("sp", "embedding")
    ent = ops.entity.get("sp")

    def dense_snapshot():
        rows = ent.df().select("vec_id", "embedding").collect()
        return sorted(
            (r["vec_id"], tuple(round(float(x), 5) for x in r["embedding"]))
            for r in rows
        )

    before = dense_snapshot()

    ent.vacuum(2)
    assert dense_snapshot() == before

    removed = ent.delete([("vec_id", "=", [before[0][0]])])
    assert removed == 1
    assert len(dense_snapshot()) == 39

    ent.bucketize(2)
    assert len(dense_snapshot()) == 39
    ent.debucketize()

    url = f"jdbc:derby:{tmp_path}/spdb;create=true"
    ops.entity.transfer(
        "sp", "jdbc", url=url, dbtable="SP_T",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    after_jdbc = dense_snapshot()
    assert len(after_jdbc) == 39
    ops.entity.transfer("sp", "parquet")
    assert dense_snapshot() == after_jdbc
    # storage really is sparse: the stored column is the (index, data,
    # length) struct, the read view is the dense array
    stored_type = dict(
        (f.name, f.dataType.simpleString()) for f in ent._stored_df().schema.fields
    )["embedding"]
    assert stored_type.startswith("struct")


def test_knn_budget_kwargs_survive_planner_fallback(ops, emb):
    """Review r6: a valid frac= must not TypeError when the plan lands on
    a path that has no frac knob (exact VA / sequential)."""
    res, plan = ops.query.knn(
        "emb", "embedding", Q, 10, "manhattan", hints=("exact",),
        df=emb, pk="vec_id", frac=0.1,
    )
    assert plan.path == "e_vaf" and res.count() == 10
    res2, plan2 = ops.query.knn(
        "emb", "embedding", Q, 10, "cosine", hints=("exact",),
        df=emb, pk="vec_id", frac=0.1,
    )
    assert plan2.path == "sequential" and res2.count() == 10


def test_index_by_name_rejects_nonconforming_sh_distance(ops, emb, tmp_path):
    """Review r6: the by-name path used to silently return euclidean
    distances for any requested distance on an SH index."""
    import pytest as _pytest

    ops.index.create_from_df("e_sh_g", "emb", emb, "embedding", "sh", pk="vec_id")
    with _pytest.raises(ValueError, match="euclidean"):
        ops.query.index("e_sh_g", Q, 10, "manhattan", df=emb)


def test_fulltext_scan_path_rejects_silently_dropped_options(spark, tmp_path):
    """Review r6: scoring='bm25' on the scan path returned tf ranking
    with no error; it must raise instead."""
    import pytest as _pytest

    from adampro_spark.ops import AdamOps

    o = AdamOps(spark, str(tmp_path / "ftcat"))
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "ap_id long, text string"
    )
    with _pytest.raises(ValueError, match="persisted fulltext"):
        o.query.fulltext("ftdocs", ["beta"], df=docs, scoring="bm25")
    # default scoring still works on the scan path
    assert o.query.fulltext("ftdocs", ["beta"], df=docs).count() == 2


def test_timed_knn_returns_at_deadline_with_slow_driver_path(spark, emb):
    """Review r6: the executor context exit blocked until every straggler
    finished, and a path stuck in DRIVER-side work (no Spark job yet)
    could not be cancelled.  timed_knn must return near the deadline with
    whatever finished; the slow path winds down in the background."""
    import time as _time

    from adampro_spark.execution import timed_knn

    def fast():
        return sequential_scan(emb, "embedding", Q, 5, "manhattan", pk="vec_id")

    def slow():
        _time.sleep(8)  # driver-side stall before any job launches
        return sequential_scan(emb, "embedding", Q, 5, "euclidean", pk="vec_id")

    t0 = _time.monotonic()
    best, obs = timed_knn(
        spark, {"fast": (1.0, fast), "slow": (0.5, slow)}, timeout_sec=3.0
    )
    elapsed = _time.monotonic() - t0
    assert elapsed < 7.0, elapsed  # returned at ~deadline, not after slow
    assert best is not None and best.path == "fast"
    assert len(best.rows) == 5


def test_concurrent_inserts_get_unique_pks(spark, tmp_path):
    """Review r6: two concurrent inserts used to read the same catalog
    version and pack colliding TIDs.  Batch numbers are now claimed
    atomically, so all PKs stay unique."""
    from concurrent.futures import ThreadPoolExecutor

    from adampro_spark.ops import AdamOps

    o = AdamOps(spark, str(tmp_path / "cat"))
    o.entity.create("cc", [("val", "int")])
    batches = [
        spark.createDataFrame([(i * 100 + j,) for j in range(50)], "val int")
        for i in range(4)
    ]
    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(lambda b: o.entity.insert("cc", b), batches))
    df = o.entity.get("cc").df()
    assert df.count() == 200
    assert df.select("ap_id").distinct().count() == 200


def test_sparsify_second_attribute_preserves_first(spark, tmp_path):
    """Review r6: sparsify() read the DENSIFIED df() view and wrote it
    back, corrupting any previously sparsified attribute against its
    sparse catalog schema.  Sequential sparsify of two attrs must leave
    both readable and dense-on-read."""
    from adampro_spark.ops import AdamOps

    o = AdamOps(spark, str(tmp_path / "cat"))
    o.entity.create("sp2", [("a", "vector"), ("b", "vector")])
    o.entity.insert(
        "sp2",
        spark.createDataFrame(
            [([1.0, 0.0, 2.0], [0.0, 5.0, 0.0])],
            "a array<float>, b array<float>",
        ),
    )
    o.entity.sparsify("sp2", "a")
    o.entity.sparsify("sp2", "b")  # used to corrupt a's storage
    row = o.entity.get("sp2").df().collect()[0]
    assert list(row["a"]) == [1.0, 0.0, 2.0]
    assert list(row["b"]) == [0.0, 5.0, 0.0]


def test_catalog_concurrent_process_writes_never_tear(tmp_path):
    """Review r7: the fixed '.tmp' scratch name let two PROCESSES (the
    in-process lock cannot serialize them) interleave writes into the
    same temp file and rename torn JSON over the catalog.  Updates may
    race (last-write-wins is accepted for scratch catalogs), but the
    file must ALWAYS remain parseable."""
    import json
    import multiprocessing as mp

    from adampro_spark.catalog import Catalog

    base = str(tmp_path / "ccat")
    cat = Catalog(base)
    cat.create_entity("e", [{"name": "x", "type": "long"}])

    def hammer(seed: int) -> None:
        import random

        from adampro_spark.catalog import Catalog as C

        c = C(base)
        rng = random.Random(seed)
        for i in range(60):
            # large-ish payload so writes take long enough to overlap
            c.update_entity("e", blob=[rng.random() for _ in range(2000)], v=i)

    procs = [mp.Process(target=hammer, args=(s,)) for s in range(4)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    assert all(p.exitcode == 0 for p in procs)
    with open(cat.path) as f:
        data = json.load(f)  # must never be torn
    assert "e" in data["entities"]


# ---------------------------------------------------------------------------
# relation reuse: a cached entity/index DataFrame must never outlive a write
# ---------------------------------------------------------------------------

_INV_DIM = 8
_INV_Q = [0.1 * ((i * 5) % 11) for i in range(_INV_DIM)]


def _inv_rows(spark, lo, n):
    import numpy as np

    x = np.random.RandomState(lo).rand(n, _INV_DIM).astype(np.float32)
    return spark.createDataFrame(
        [(lo + i, (lo + i) % 3, [float(v) for v in x[i]]) for i in range(n)],
        "vid long, label int, feature array<float>",
    )


def _answers(ops):
    """Every read path the kNN session uses, collected exactly."""
    def rows(df):
        return sorted((r["vid"], r[DISTANCE_COL]) for r in df.collect())

    out = [rows(ops.query.sequential("inv", "feature", _INV_Q, 7))]
    for name in ops.index.list("inv"):
        out.append(rows(ops.query.index(name, _INV_Q, 7)))
    out.append(rows(ops.query.knn(
        "inv", "feature", _INV_Q, 7, hints=("vaf", "exact"),
        predicates=[("label", "=", [1])],
    )[0]))
    out.append(ops.entity.count("inv"))
    return out


@pytest.mark.filterwarnings("ignore:index .* is stale")
def test_cached_relations_follow_every_write(spark, tmp_path):
    """After each write, a query through the SAME AdamOps (whose entity
    and index relations are cached per catalog generation) must answer
    exactly like a fresh AdamOps — never from the old file listing
    (stale rows, or a FileNotFoundException on replaced files)."""
    import subprocess
    import sys

    base = str(tmp_path / "inv")
    ops = AdamOps(spark, base)
    ops.entity.create("inv", [("vid", "long"), ("label", "int"), ("feature", "vector")])
    ops.entity.insert("inv", _inv_rows(spark, 0, 120))
    ops.index.create("inv_vaf", "inv", "feature", "vaf")
    ops.index.create("inv_ecp", "inv", "feature", "ecp")

    def check(step):
        assert _answers(ops) == _answers(AdamOps(spark, base)), step

    check("build")
    ops.entity.insert("inv", _inv_rows(spark, 1000, 30))
    check("insert")
    ops.entity.delete("inv", [("label", "=", [2])])
    check("delete")
    ops.entity.vacuum("inv", num_partitions=2)
    check("vacuum")
    ops.entity.bucketize("inv", 3)
    check("bucketize")
    spark.sql("DROP TABLE IF EXISTS adam_bucketed_inv")  # as a new session sees it
    check("bucketed table re-registered")
    ops.entity.debucketize("inv")
    check("debucketize")
    ops.entity.transfer("inv", "orc", location=str(tmp_path / "inv_orc"))
    check("transfer out")
    ops.entity.transfer("inv", "parquet")
    check("transfer back")
    ops.index.create("inv_vaf", "inv", "feature", "vaf")
    check("index re-created over the same name")
    ops.entity.insert("inv", _inv_rows(spark, 2000, 20))
    fresh = ops.entity.get("inv").df().filter(F.col("vid") >= 2000)
    ops.index.append("inv_ecp", fresh)
    check("index append")
    ops.index.drop("inv_ecp")
    check("index drop")
    ops.index.create("inv_ecp", "inv", "feature", "ecp")
    check("index recreate")
    AdamOps(spark, base).entity.insert("inv", _inv_rows(spark, 3000, 10))
    check("write through a second catalog")

    # another process compacts the entity files and records the rewrite
    script = (
        "import os, shutil, sys\n"
        "import pyarrow.parquet as pq\n"
        "from adampro_spark.catalog import Catalog\n"
        "cat = Catalog(sys.argv[1])\n"
        "path = cat.entity_path('inv')\n"
        "table = pq.read_table(path)\n"
        "os.makedirs(path + '_tmp')\n"
        "pq.write_table(table, os.path.join(path + '_tmp', 'part-0.parquet'))\n"
        "os.rename(path, path + '_old')\n"
        "os.rename(path + '_tmp', path)\n"
        "shutil.rmtree(path + '_old')\n"
        "cat.record_rewrite('entities', 'inv')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", script, base], cwd=root, check=True)
    check("write from another process")

    # threaded batch_query right after a write: every concurrent query
    # sees the new generation
    ops.entity.insert("inv", _inv_rows(spark, 4000, 10))
    specs = [
        dict(entity="inv", attribute="feature", query=_INV_Q, k=7, hints=hints, pk="vid")
        for hints in (("sequential",), ("vaf", "exact"), ("ecp",), ("exact",))
    ]
    obs = ops.query.batch_query(specs)
    assert all(o.error is None for o in obs)
    fresh_ops = AdamOps(spark, base)
    for o, spec in zip(obs, specs):
        want = fresh_ops.query.knn(**spec)[0].collect()
        assert [(r["vid"], r[DISTANCE_COL]) for r in o.rows] == [
            (r["vid"], r[DISTANCE_COL]) for r in want
        ]

    ops.entity.sparsify("inv", "feature")
    check("sparsify")


def test_catalog_parse_cache_hands_out_private_copies(tmp_path):
    """Cached parses must not alias: mutating one reader's record leaves
    the next reader's untouched, and a write is visible immediately."""
    from adampro_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "pc"))
    cat.create_entity("e", [{"name": "x", "type": "long"}])
    cat.entity("e")["attributes"].append({"name": "junk", "type": "int"})
    assert cat.entity("e")["attributes"] == [{"name": "x", "type": "long"}]
    gen = cat.generation()
    Catalog(cat.base).update_entity("e", tuple_count=5)
    assert cat.generation() != gen
    assert cat.entity("e")["tuple_count"] == 5


def test_catalog_parse_cache_under_threads(tmp_path):
    """Readers and writers hammering one Catalog from more threads than
    cores: no reader ever sees another reader's mutation (copies stay
    private) and the cache ends on the last write."""
    import sys
    import threading

    from adampro_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "tc"))
    cat.create_entity("e", [{"name": "x", "type": "long"}])
    leaks = []

    def work(tid):
        for i in range(40):
            if i % 4 == 0:
                cat.update_entity("e", v=tid * 1000 + i)
            rec = cat.entity("e")
            if any(k.startswith("mine_") for k in rec):
                leaks.append(tid)
            rec[f"mine_{tid}"] = i

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not leaks
    assert cat.entity("e") == Catalog(cat.base).entity("e")
