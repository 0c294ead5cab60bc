"""Adversarial-skew tests for the shuffle-keyed paths (round-7 verdict
#4): one as-of ``by`` key / one minhash band bucket holding ~50% of the
corpus must neither serialize into a single window task nor explode into
all-pairs output.
"""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from adampro_spark.pipeline.dedup import deduplicate, minhash_dup_pairs
from adampro_spark.pipeline.temporal import asof_join


@pytest.fixture(scope="module")
def skewed_events(spark):
    """60% of rows on one key, the rest spread over 50 keys."""
    rng = np.random.RandomState(3)
    n_hot, n_cold = 3000, 2000
    rows = [("HOT", float(t), int(v))
            for t, v in zip(np.sort(rng.uniform(0, 1e6, n_hot)),
                            rng.randint(0, 1000, n_hot))]
    rows += [(f"k{rng.randint(50)}", float(rng.uniform(0, 1e6)),
              int(rng.randint(0, 1000))) for _ in range(n_cold)]
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(rows)],
        "lid long, k string, ts double",
    )
    # rights: every 5th row becomes a right-side event with a payload
    right = spark.createDataFrame(
        [(k, t + 0.25, v) for (k, t, v) in rows[::5]],
        "k string, ts double, payload long",
    )
    return left.cache(), right.cache()


def _collect(df, keys=("lid",)):
    return sorted(
        (tuple(r[k] for k in keys), r["ts_right"], r["payload"])
        for r in df.collect()
    )


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_skew_path_matches_plain(spark, skewed_events, direction):
    """The hot-key parallel-carry path must produce EXACTLY the plain
    window path's answer — same matches, same payloads, same NULLs —
    under a 60%-hot-key corpus, with and without tolerance."""
    left, right = skewed_events
    for tol in (None, 1000.0):
        plain = asof_join(left, right, time_col="ts", by="k",
                          right_cols=["payload"], direction=direction,
                          tolerance=tol)
        skewed = asof_join(left, right, time_col="ts", by="k",
                           right_cols=["payload"], direction=direction,
                           tolerance=tol, skew_threshold=500)
        assert _collect(plain) == _collect(skewed), (direction, tol)


def test_asof_skew_path_matches_pandas(spark, skewed_events):
    """And the skew path agrees with the pandas merge_asof oracle."""
    left, right = skewed_events
    got = asof_join(left, right, time_col="ts", by="k",
                    right_cols=["payload"], skew_threshold=500)
    lp = left.toPandas().sort_values("ts", kind="stable")
    rp = right.toPandas().sort_values("ts", kind="stable")
    want = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward",
                         suffixes=("", "_right"))
    got_map = {r["lid"]: r["payload"] for r in got.collect()}
    for _, row in want.iterrows():
        w = None if pd.isna(row["payload"]) else int(row["payload"])
        assert got_map[row["lid"]] == w, row["lid"]


def test_asof_skew_plan_buckets_the_hot_key(spark, skewed_events):
    """Plan-shape: with skew_threshold the hot key's window partitions by
    (key, time-bucket) — the `_ap_pid` bucket column must appear in the
    physical plan's window spec; without it there is no bucket column."""
    left, right = skewed_events
    plain = asof_join(left, right, time_col="ts", by="k", right_cols=["payload"])
    skewed = asof_join(left, right, time_col="ts", by="k",
                       right_cols=["payload"], skew_threshold=500)
    assert "_ap_pid" not in plain._jdf.queryExecution().executedPlan().toString()
    assert "_ap_pid" in skewed._jdf.queryExecution().executedPlan().toString()


def test_asof_skew_bucket_sizes_bounded(spark, skewed_events):
    """No window partition of the skew path holds more than ~10% of the
    rows: mirror the implementation's bucketing (global time quantiles at
    p = shuffle partitions) and measure the largest (key, bucket) group
    of the hot key."""
    left, right = skewed_events
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    union = left.select("k", "ts").unionByName(right.select("k", "ts"))
    total = union.count()
    qs = sorted(set(union.stat.approxQuantile("ts", [i / p for i in range(1, p)], 0.01)))
    barr = F.array(*[F.lit(float(b)) for b in qs])
    bucket = F.size(F.filter(barr, lambda b: F.col("ts") >= b))
    biggest = (
        union.filter(F.col("k") == "HOT")
        .groupBy(bucket.alias("b"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert biggest <= total * 0.10, (biggest, total)


def test_asof_default_auto_routes_planted_hot_key(spark, skewed_events, monkeypatch):
    """verdict r10 #1: skew routing is the DEFAULT.  With the auto floor
    lowered to test scale, a bare `asof_join(left, right, by=)` — no
    skew kwarg at all — must compile the bucketed carry for the planted
    hot key (`_ap_pid` in the plan) and still match the plain window's
    answer exactly."""
    from adampro_spark.pipeline import temporal

    left, right = skewed_events
    monkeypatch.setattr(temporal, "ASOF_SKEW_MIN_ROWS", 500)
    auto = asof_join(left, right, time_col="ts", by="k", right_cols=["payload"])
    assert "_ap_pid" in auto._jdf.queryExecution().executedPlan().toString()
    plain = asof_join(left, right, time_col="ts", by="k",
                      right_cols=["payload"], skew_threshold=None)
    assert "_ap_pid" not in plain._jdf.queryExecution().executedPlan().toString()
    assert _collect(auto) == _collect(plain)


def test_asof_auto_threshold_scales_with_partitions(spark, skewed_events, monkeypatch):
    """The auto threshold is max(floor, rows/shuffle.partitions): with the
    floor at 1, a cold key (~40 rows << 5000/32) must NOT route — only
    the hot key does, so the plain-window leg still appears in the plan
    alongside the bucketed leg."""
    from adampro_spark.pipeline import temporal

    left, right = skewed_events
    monkeypatch.setattr(temporal, "ASOF_SKEW_MIN_ROWS", 1)
    hot, null_hot = temporal._detect_hot_keys(
        left.select("k", "ts").unionByName(right.select("k", "ts")), "k", "auto"
    )
    assert hot == ["HOT"]
    assert null_hot is False


@pytest.mark.parametrize("direction", ["backward", "nearest"])
def test_asof_null_hot_key_routes_through_unkeyed_carry(spark, direction):
    """round 11: a NULL by-key holding most of the corpus re-routes
    through the UNKEYED bucketed carry (the keyed carry's equi-join-back
    would drop NULL keys) and must match the plain window exactly —
    NULL keys form one window partition in both shapes."""
    rng = np.random.RandomState(7)
    rows = [(None, float(t), int(v))
            for t, v in zip(np.sort(rng.uniform(0, 1e6, 2000)),
                            rng.randint(0, 1000, 2000))]
    rows += [(f"k{rng.randint(20)}", float(rng.uniform(0, 1e6)),
              int(rng.randint(0, 1000))) for _ in range(500)]
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t, _) in enumerate(rows)],
        "lid long, k string, ts double",
    )
    right = spark.createDataFrame(
        [(k, t + 0.5, v) for (k, t, v) in rows[::4]],
        "k string, ts double, payload long",
    )
    plain = asof_join(left, right, time_col="ts", by="k",
                      right_cols=["payload"], direction=direction,
                      skew_threshold=None)
    routed = asof_join(left, right, time_col="ts", by="k",
                       right_cols=["payload"], direction=direction,
                       skew_threshold=400)
    # the NULL group re-routes: the unkeyed carry's bucket column is in
    # the plan even though no non-NULL key crossed the threshold
    assert "_ap_pid" in routed._jdf.queryExecution().executedPlan().toString()
    assert _collect(plain) == _collect(routed)


@pytest.fixture(scope="module")
def skewed_session_events(spark):
    """70% of events on one bot key; timestamps interleave with 40 cold
    keys so the time buckets genuinely split the hot key's stream."""
    from datetime import datetime, timedelta

    rng = np.random.RandomState(11)
    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(3500):  # hot key, bursty: gaps of 1-90 min
        rows.append(("BOT", t0 + timedelta(minutes=float(rng.uniform(0, 60_000)))))
    for i in range(1500):
        rows.append((f"u{rng.randint(40)}",
                     t0 + timedelta(minutes=float(rng.uniform(0, 60_000)))))
    rows.append(("BOT", None))  # NULL ts stays NULL-labeled
    rows.append((None, t0))     # NULL key rides the plain leg here
    return spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(rows)],
        "event_id long, user_id string, ts timestamp",
    ).cache()


def _sessions(df):
    return sorted(
        (r["event_id"], r["user_id"], r["session_idx"]) for r in df.collect()
    )


def test_assign_sessions_skew_path_matches_plain(spark, skewed_session_events):
    """verdict r11 #1: the per-(key, time-bucket) two-phase carry must
    reproduce the plain per-key window's session ordinals EXACTLY on a
    70%-hot-key corpus — including NULL-ts rows (NULL label) and the
    bucket-boundary breaks the offset table patches."""
    from adampro_spark.streaming.ingest import assign_sessions

    ev = skewed_session_events
    plain = assign_sessions(ev, gap="45 minutes", skew_threshold=None)
    routed = assign_sessions(ev, gap="45 minutes", skew_threshold=500)
    assert "_ap_spid" in routed._jdf.queryExecution().executedPlan().toString()
    assert "_ap_spid" not in plain._jdf.queryExecution().executedPlan().toString()
    assert _sessions(plain) == _sessions(routed)


def test_assign_sessions_auto_routes_planted_hot_key(
    spark, skewed_session_events, monkeypatch
):
    """The DEFAULT (skew_threshold='auto') must route the planted hot key
    once the floor is at test scale — no kwarg at all — and still match."""
    from adampro_spark.pipeline import temporal
    from adampro_spark.streaming.ingest import assign_sessions

    monkeypatch.setattr(temporal, "ASOF_SKEW_MIN_ROWS", 500)
    ev = skewed_session_events
    auto = assign_sessions(ev, gap="45 minutes")
    assert "_ap_spid" in auto._jdf.queryExecution().executedPlan().toString()
    plain = assign_sessions(ev, gap="45 minutes", skew_threshold=None)
    assert _sessions(auto) == _sessions(plain)


def test_assign_sessions_null_hot_key_routes_unkeyed(spark):
    """A heavy NULL key (one window partition in the plain shape) routes
    through the key-dropped carry — driver-side boundary prefix — and
    matches the plain window exactly."""
    from datetime import datetime, timedelta

    from adampro_spark.streaming.ingest import assign_sessions

    rng = np.random.RandomState(13)
    t0 = datetime(2024, 1, 1)
    rows = [(None, t0 + timedelta(minutes=float(rng.uniform(0, 20_000))))
            for _ in range(1500)]
    rows += [(f"u{rng.randint(10)}",
              t0 + timedelta(minutes=float(rng.uniform(0, 20_000))))
             for _ in range(300)]
    ev = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(rows)],
        "event_id long, user_id string, ts timestamp",
    )
    plain = assign_sessions(ev, gap="20 minutes", skew_threshold=None)
    routed = assign_sessions(ev, gap="20 minutes", skew_threshold=400)
    assert "_ap_spid" in routed._jdf.queryExecution().executedPlan().toString()
    assert _sessions(plain) == _sessions(routed)


def test_assign_sessions_carry_buckets_bounded(spark, skewed_session_events):
    """No (key, bucket) window partition of the carry holds more than
    ~10% of the rows — mirror the implementation's quantile bucketing."""
    from pyspark.sql import functions as F

    ev = skewed_session_events
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    total = ev.count()
    qs = sorted(set(ev.select(F.col("ts").cast("double").alias("_t"))
                    .stat.approxQuantile("_t", [i / p for i in range(1, p)], 0.01)))
    barr = F.array(*[F.lit(float(b)) for b in qs])
    t = F.col("ts").cast("double")
    bucket = F.when(t.isNull(), F.lit(0)).otherwise(
        F.size(F.filter(barr, lambda b: t >= b))
    )
    biggest = (
        ev.filter(F.col("user_id") == "BOT")
        .groupBy(bucket.alias("b"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert biggest <= total * 0.10, (biggest, total)


def test_minhash_hot_bucket_emits_linear_pairs(spark):
    """A degenerate bucket holding 50% of the corpus (identical text)
    must contribute O(B) star pairs, not O(B²): total pair count stays
    linear in the corpus, and dedup still collapses every copy."""
    n_dup, n_uniq = 400, 400
    rng = np.random.RandomState(5)
    vocab = [f"w{i}" for i in range(800)]
    rows = [(i, "the same boilerplate text repeated everywhere in the corpus")
            for i in range(n_dup)]
    rows += [
        (n_dup + j, " ".join(rng.choice(vocab, size=30)))
        for j in range(n_uniq)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_dup_pairs(
        corpus, threshold=0.9, max_bucket_size=64
    ).persist()
    n_pairs = pairs.count()
    # all-pairs over the hot group alone would be 400·399/2 = 79 800;
    # the star guard caps the group at B-1 = 399 pairs (+ any natural
    # near-dups among the random docs, which are few)
    assert n_pairs <= 2 * (n_dup + n_uniq), n_pairs
    cleaned = deduplicate(corpus, pairs, pk="doc_id")
    kept = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    # exactly one survivor (the min id) for the planted duplicate group
    assert kept & set(range(n_dup)) == {0}
    pairs.unpersist()


def test_banded_candidates_tagging_is_aggregate_not_window(spark):
    """verdict r9 #2: the hot/cold band tagging must be a map-side-
    combinable groupBy(keys).agg(count, min) joined back — never a
    Window.partitionBy(band keys), which puts a degenerate bucket's
    ~n/2 rows through ONE WindowExec task that AQE cannot split.  The
    join-back IS splittable: the build side holds one row per bucket.
    Checked on a planted-degenerate table (one bucket = 50% of rows)."""
    from adampro_spark.caching import CacheScope
    from adampro_spark.pipeline.dedup import _banded_candidates

    rows = [(0, 0, i) for i in range(500)]  # degenerate bucket: 50%
    rows += [(1 + i % 7, i % 71, 500 + i) for i in range(500)]
    bandtab = spark.createDataFrame(rows, "band int, bkey long, _pk long")
    with CacheScope() as scope:
        pairs = _banded_candidates(
            scope, bandtab, ["band", "bkey"], max_bucket_size=64
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, f"window tagging is back:\n{plan}"
        # the tagging is present: a count/min aggregate joined back
        assert "HashAggregate" in plan and "Join" in plan, plan
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # hot bucket contributes exactly B-1 star pairs rooted at its min pk
    hot = {(0, i) for i in range(1, 500)}
    assert hot <= got
    # cold buckets: full enumeration, so every pair is within one bucket
    buckets = {}
    for b, k, p in rows:
        buckets.setdefault((b, k), []).append(p)
    want_cold = {
        (a, c)
        for mem in buckets.values()
        if len(mem) <= 64
        for a in mem
        for c in mem
        if a < c
    }
    assert got == hot | want_cold


def test_semantic_dedup_hot_cluster_chunks(spark):
    """Adversarial skew: one centroid direction owns ~70% of the corpus.
    The chunk-block plan must (a) split the hot cluster into bounded
    blocks — no task sees more than max_cluster_rows rows per side —
    and (b) produce EXACTLY the direct path's pairs."""
    import numpy as np
    from pyspark.sql import functions as F

    from adampro_spark.pipeline.dedup import semantic_dup_pairs

    rng = np.random.RandomState(3)
    dim = 8
    hot = np.eye(dim)[0] * 10.0
    cold = np.eye(dim)[1] * 10.0
    rows = []
    for i in range(700):  # hot direction: 70% of 1000
        rows.append((i, (hot + rng.standard_normal(dim) * 0.2).tolist()))
    for i in range(700, 1000):
        rows.append((i, (cold + rng.standard_normal(dim) * 0.2).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.filter(F.col("vec_id").isin(0, 700)).orderBy("vec_id")

    cap = 100  # hot cluster -> 7 chunks -> 28 block tasks of <= 100x100
    direct = {
        tuple(r)
        for r in semantic_dup_pairs(df, threshold=0.995, centroids=cents).collect()
    }
    chunked = {
        tuple(r)
        for r in semantic_dup_pairs(
            df, threshold=0.995, centroids=cents, max_cluster_rows=cap
        ).collect()
    }
    assert chunked == direct
    # block-pair bound: with m = ceil(700/100) = 7 chunks, each chunk
    # holds ~100 +- hash jitter rows; assert the hash split is balanced
    # enough that no chunk exceeds 2x the cap (the per-task work bound)
    from adampro_spark.pipeline.cluster import cluster_embeddings

    assigned, _ = cluster_embeddings(df, centroids=cents)
    hot_rows = assigned.filter(F.col("cluster") == 0)
    m = 7
    chunks = (
        hot_rows.withColumn(
            "_chunk", F.pmod(F.xxhash64(F.col("vec_id"), F.lit(42 + 13)), F.lit(m))
        )
        .groupBy("_chunk")
        .count()
        .collect()
    )
    assert len(chunks) == m
    assert max(r["count"] for r in chunks) <= 2 * cap
