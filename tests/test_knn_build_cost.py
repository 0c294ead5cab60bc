"""Driver cost of BUILDING a kNN query, counted in JVM round trips.

Building one query's DataFrame must cost a constant number of py4j
commands whatever the vector dimension and however often the same
entity and index are queried: distances, bound sums, leader-distance
lookups and cell lists are each one ``F.expr`` over SQL text, and the
entity/index relations are reused until the catalog changes.  Rendering
query elements as per-element ``F.lit`` calls makes the count grow with
the dimension; re-reading the entity or index per query (re-listing
files, re-inferring the schema) pushes it over the ceiling — either
fails here.
"""

from __future__ import annotations

import contextlib

import numpy as np
import pytest
from py4j.java_gateway import GatewayClient

from adampro_spark.ops import AdamOps

K = 10
PATHS = ("seq", "vaf", "ecp", "planned")
# py4j commands to build one query's DataFrame (the VA paths include
# their bound-pass job), measured on PySpark 4.1 (66 / 255 / 113 / 304)
# plus 8 of headroom — less than re-reading the entity (~13 commands) or
# an index (~32) costs, so a per-query re-read fails here
CEILING = {"seq": 74, "vaf": 263, "ecp": 121, "planned": 312}


@contextlib.contextmanager
def _gateway_commands():
    """Count py4j commands sent while the block runs (the garbage
    collector's object-release messages excluded: they depend on when
    Python collects, not on what the block builds)."""
    sent = []
    orig = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return orig(self, command, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield sent
    finally:
        GatewayClient.send_command = orig


@pytest.fixture(scope="module")
def setups(spark, tmp_path_factory):
    out = {}
    for dim in (8, 256):
        ops = AdamOps(spark, str(tmp_path_factory.mktemp(f"cost{dim}")))
        x = np.random.RandomState(dim).rand(300, dim).astype(np.float32)
        rows = [(i, i % 4, [float(v) for v in x[i]]) for i in range(len(x))]
        ops.entity.create("vec", [("vid", "long"), ("label", "int"), ("feature", "vector")])
        ops.entity.insert(
            "vec", spark.createDataFrame(rows, "vid long, label int, feature array<float>")
        )
        ops.index.create("vec_ecp", "vec", "feature", "ecp")
        ops.index.create("vec_vaf", "vec", "feature", "vaf")
        out[dim] = (ops, x)
    return out


def _build(ops, path, q):
    if path == "seq":
        return ops.query.sequential("vec", "feature", q, K)
    if path == "vaf":
        return ops.query.index("vec_vaf", q, K)
    if path == "ecp":
        return ops.query.index("vec_ecp", q, K)
    return ops.query.knn(
        "vec", "feature", q, K, hints=("vaf", "exact"),
        predicates=[("label", "=", [1])],
    )[0]


def test_query_build_cost_is_constant(setups):
    counts = {}
    for dim, (ops, x) in setups.items():
        for path in PATHS:
            _build(ops, path, x[0].tolist()).collect()  # first query fills the caches
            for i in (1, 2):
                with _gateway_commands() as sent:
                    df = _build(ops, path, (x[i] + 0.01).tolist())
                counts[(dim, path, i)] = len(sent)
                assert len(df.collect()) == K
    for path in PATHS:
        n = {counts[(dim, path, i)] for dim in setups for i in (1, 2)}
        assert len(n) == 1, (path, counts)
        assert n.pop() <= CEILING[path], (path, counts)


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` runs, read from one job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_job_count(spark, setups):
    """Spark jobs per query: the VA bound pass and its candidate set are
    one job, and a complete candidate set reaches the refine scan inline
    (one more job, no semi-join); the planned path adds the predicate's
    broadcast."""
    jobs = {}
    for dim, (ops, x) in setups.items():
        for path in PATHS:
            _build(ops, path, x[3].tolist()).collect()  # caches filled
            jobs[(dim, path)] = _jobs(
                spark, f"knn-jobs-{dim}-{path}",
                lambda: _build(ops, path, (x[4] + 0.01).tolist()).collect(),
            )
    for dim in setups:
        assert jobs[(dim, "seq")] == 1, jobs
        assert jobs[(dim, "ecp")] == 2, jobs
        assert jobs[(dim, "vaf")] <= 3, jobs
        assert jobs[(dim, "planned")] <= jobs[(dim, "vaf")] + 1, jobs


def test_repeated_queries_reuse_relations(setups):
    ops, _ = setups[8]
    assert ops.index.load("vec_vaf")[0] is ops.index.load("vec_vaf")[0]
    assert ops.index.load("vec_ecp")[0] is ops.index.load("vec_ecp")[0]
    assert ops.entity.get("vec").df() is ops.entity.get("vec").df()
