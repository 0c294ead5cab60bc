"""Dataset-assembly operators (pipeline/mix.py): deterministic splits,
source mixing, eval decontamination, sequence packing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adampro_spark.pipeline.mix import (
    decontaminate,
    pack_sequences,
    sample_sources,
    split_dataset,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist on teardown: a cached scan of this parquet stays in the
    # session CacheManager and would serve OTHER modules' reads from an
    # InMemoryRelation — hiding the PushedFilters the plan-quality tests
    # assert on
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


def test_split_dataset_disjoint_exhaustive_stable(spark, docs):
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    out = split_dataset(docs, w).cache()
    n = docs.count()
    counts = {r["split"]: r["cnt"] for r in
              out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert sum(counts.values()) == n  # exhaustive, one split per row
    assert counts.get("train", 0) > 0.8 * n  # roughly proportional
    assert 0 < counts.get("val", 0) + counts.get("test", 0) < 0.2 * n

    # deterministic: a second run (different partitioning) agrees per row
    again = {
        r["doc_id"]: r["split"]
        for r in split_dataset(docs.repartition(7), w).collect()
    }
    for r in out.collect():
        assert again[r["doc_id"]] == r["split"]

    # append-stability: splitting a SUBSET never moves a row's assignment
    sub = {
        r["doc_id"]: r["split"]
        for r in split_dataset(docs.filter(F.col("doc_id") % 3 == 0), w).collect()
    }
    full = {r["doc_id"]: r["split"] for r in out.collect()}
    assert all(full[k] == v for k, v in sub.items())

    # salt changes the assignment (different experiment, different split)
    other = {
        r["doc_id"]: r["split"]
        for r in split_dataset(docs, w, salt="v2").collect()
    }
    assert any(other[k] != full[k] for k in full)
    out.unpersist()


def test_split_dataset_validates_weights(spark, docs):
    with pytest.raises(ValueError):
        split_dataset(docs, {})
    with pytest.raises(ValueError):
        split_dataset(docs, {"a": 0.0, "b": 0.0})


def test_sample_sources_rates_and_determinism(spark, docs):
    # fixture sources are src0..src19, 25 docs each at sf0.001
    rates = {"src1": 0.2, "src2": 1.0}
    out = sample_sources(docs, rates, default_rate=0.5).cache()
    per_src = {
        r["source"]: r["cnt"]
        for r in out.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    base = {
        r["source"]: r["cnt"]
        for r in docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert "src1" in base and "src2" in base  # the fixture really has them
    assert per_src.get("src2", 0) == base["src2"]  # rate 1.0 keeps all
    assert per_src.get("src1", 0) < base["src1"] * 0.6  # ~0.2 with noise
    # default rate applies to the other ~18 sources: ~0.5 of ~450
    rest_kept = sum(v for s, v in per_src.items() if s not in rates)
    rest_base = sum(v for s, v in base.items() if s not in rates)
    assert 0.3 * rest_base < rest_kept < 0.7 * rest_base
    # deterministic: same survivors on rerun under another partitioning
    ids1 = {r["doc_id"] for r in out.select("doc_id").collect()}
    ids2 = {
        r["doc_id"]
        for r in sample_sources(docs.repartition(5), rates, default_rate=0.5)
        .select("doc_id").collect()
    }
    assert ids1 == ids2
    with pytest.raises(ValueError):
        sample_sources(docs, {"src1": 1.5})
    out.unpersist()


def test_decontaminate_drops_exact_ngram_overlap(spark, docs):
    # eval set = verbatim 13-token windows lifted from two training docs
    picked = docs.orderBy("doc_id").limit(2).collect()
    evals = []
    for r in picked:
        toks = r["text"].lower().split()
        if len(toks) >= 13:
            evals.append((" ".join(toks[5:18]),))
    assert evals, "fixture docs long enough"
    eval_df = spark.createDataFrame(evals, "text string")
    out = decontaminate(docs, eval_df, n=13)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    for r in picked:
        if len(r["text"].split()) >= 13:
            assert r["doc_id"] not in ids  # contaminated docs dropped
    # docs sharing no 13-gram survive
    assert len(ids) >= docs.count() - len(picked) - 2


def test_decontaminate_plan_broadcasts_eval_side(spark, docs):
    eval_df = docs.limit(1).select("text")
    plan = (
        decontaminate(docs, eval_df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_budget_and_determinism(spark, docs):
    base = docs.select("doc_id", "text").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), r"\s+"))
    )
    out = pack_sequences(base, budget=512, num_shards=8).cache()
    assert out.count() == base.count()  # every doc assigned exactly once
    sums = out.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.count("*").alias("m")
    )
    # budget respected except single-doc oversize packs (none here: raise)
    assert sums.filter(F.col("tot") > 512).count() == 0
    # packs are actually filled (greedy, not one doc per pack)
    assert sums.filter(F.col("m") > 1).count() > 0
    # positions are dense within packs
    bad_pos = (
        out.groupBy("pack_id")
        .agg(F.max("pack_pos").alias("mx"), F.count("*").alias("m"))
        .filter(F.col("mx") != F.col("m") - 1)
    )
    assert bad_pos.count() == 0
    # deterministic under repartitioning
    a = {(r["doc_id"], r["pack_id"], r["pack_pos"]) for r in out.collect()}
    b = {
        (r["doc_id"], r["pack_id"], r["pack_pos"])
        for r in pack_sequences(base.repartition(11), budget=512, num_shards=8)
        .collect()
    }
    assert a == b
    out.unpersist()


def test_pack_after_shuffle_preserves_order(spark, docs):
    """verdict r11 #7: packing composed after shuffle_dataset must keep
    the SHUFFLED order inside every pack — with order_col each pack's
    pack_pos sequence follows the shuffle key (a subsequence of the
    global permutation), across MULTIPLE shards; without it the default
    pk order silently discards the shuffle."""
    from adampro_spark.pipeline.mix import shuffle_dataset

    base = docs.select("doc_id", "text").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), r"\s+"))
    )
    shuffled = shuffle_dataset(base, key_col="_ord")
    out = pack_sequences(
        shuffled, budget=512, num_shards=8, order_col="_ord"
    ).cache()
    assert out.count() == base.count()
    rows = [
        (r["pack_id"], r["pack_pos"], r["_ord"], r["doc_id"])
        for r in out.collect()
    ]
    packs: dict = {}
    for pid, pos, ordk, did in rows:
        packs.setdefault(pid, []).append((pos, ordk, did))
    multi = 0
    for pid, mem in packs.items():
        mem.sort()
        keys = [(ordk, did) for _, ordk, did in mem]
        assert keys == sorted(keys), f"pack {pid} broke shuffle order"
        multi += len(mem) > 1
    assert multi > 0  # the invariant was actually exercised
    # default (no order_col): pk order inside packs — the old contract
    legacy = pack_sequences(shuffled, budget=512, num_shards=8)
    lrows = [
        (r["pack_id"], r["pack_pos"], r["doc_id"]) for r in legacy.collect()
    ]
    lp: dict = {}
    for pid, pos, did in lrows:
        lp.setdefault(pid, []).append((pos, did))
    for pid, mem in lp.items():
        mem.sort()
        dids = [d for _, d in mem]
        assert dids == sorted(dids), pid
    out.unpersist()


def test_pack_sequences_oversize_contract(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 999), (3, 20)], "doc_id long, n_tokens int"
    )
    with pytest.raises(ValueError, match="exceed the pack budget"):
        pack_sequences(df, budget=100)
    out = pack_sequences(df, budget=100, truncate_oversize=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    # the oversize doc sits alone in its pack
    others = [r for r in rows.values() if rows[2]["pack_id"] == r["pack_id"]]
    assert [r["doc_id"] for r in others] == [2]


def test_split_dataset_matches_duckdb_mirror(spark, docs):
    """The split coin is portable arithmetic: DuckDB computes the same
    poly-hash + universal-mix chain and must assign every row to the
    same split."""
    import duckdb

    from adampro_spark.pipeline.mix import _MIX_A, _MIX_B
    from adampro_spark.oracle_pipeline import _sql_poly_hash
    from adampro_spark.pipeline.text import HASH_P

    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    got = {r["doc_id"]: r["split"] for r in split_dataset(docs, w).collect()}

    rows = [(r["doc_id"],) for r in docs.select("doc_id").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT)")
    con.executemany("INSERT INTO d VALUES (?)", rows)
    h = _sql_poly_hash("concat('split', '|', doc_id::VARCHAR)")
    sql = f"""
    SELECT doc_id,
      CASE WHEN u < 0.9 THEN 'train'
           WHEN u < 0.95 THEN 'val'
           ELSE 'test' END AS split
    FROM (SELECT doc_id,
            ((({h}) * {_MIX_A} + {_MIX_B}) % {HASH_P}) / {HASH_P}.0 AS u
          FROM d)
    """
    want = {int(i): s for i, s in con.execute(sql).fetchall()}
    assert got == want


def test_mix_sources_upsampling(spark, docs):
    """mix_sources: integer weights repeat exactly, fractional weights
    split by the deterministic coin, weight 0 drops, copies carry dense
    copy_idx, and reruns agree."""
    from adampro_spark.pipeline.mix import mix_sources

    w = {"src1": 3.0, "src2": 0.0, "src3": 2.5}
    out = mix_sources(docs, w, default_weight=1.0).cache()
    base = {
        r["source"]: r["cnt"]
        for r in docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    per = {
        r["source"]: r["cnt"]
        for r in out.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert per["src1"] == 3 * base["src1"]          # exact 3 epochs
    assert "src2" not in per                        # weight 0 drops all
    lo, hi = 2 * base["src3"], 3 * base["src3"]
    assert lo <= per["src3"] <= hi                  # 2.5 -> between 2x and 3x
    assert per["src3"] != lo and per["src3"] != hi  # coin actually splits
    # untouched sources: exactly once, copy_idx 0
    assert per["src4"] == base["src4"]
    idx = out.filter(F.col("source") == "src1").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("copy_idx")).alias("ix")
    )
    assert all(r["ix"] == [0, 1, 2] for r in idx.collect())
    # deterministic under repartitioning
    a = {(r["doc_id"], r["copy_idx"]) for r in out.select("doc_id", "copy_idx").collect()}
    b = {
        (r["doc_id"], r["copy_idx"])
        for r in mix_sources(docs.repartition(9), w).select("doc_id", "copy_idx").collect()
    }
    assert a == b
    out.unpersist()
    with pytest.raises(ValueError):
        mix_sources(docs, {"src1": -1.0})


def test_decontaminate_gram_hashes_match_duckdb_mirror(spark, docs):
    """The two-level gram hash (token char-hash, then window fold) is
    portable arithmetic: DuckDB computes the identical chain, so the
    surviving doc set must match exactly."""
    import duckdb

    from adampro_spark.oracle_pipeline import _TOKS, _fold, _sql_poly_hash
    from adampro_spark.pipeline.mix import decontaminate

    n = 5  # small n so short eval snippets still produce grams
    ev_rows = [
        (" ".join(r["text"].lower().split()[4:4 + n]),)
        for r in docs.orderBy("doc_id").limit(3).collect()
    ]
    eval_df = spark.createDataFrame(ev_rows, "text string")
    got = {
        r["doc_id"]
        for r in decontaminate(docs, eval_df, n=n).select("doc_id").collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO d VALUES (?, ?)",
        [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()],
    )
    con.execute("CREATE TABLE e (text VARCHAR)")
    con.executemany("INSERT INTO e VALUES (?)", ev_rows)
    th = f"list_transform({_TOKS.format(t='text')}, t -> {_sql_poly_hash('t')})"
    grams = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(th) - {n - 1}, 1)), "
        f"i -> {_fold(f'list_slice(th, i, i + {n - 1})')}))"
    )
    sql = f"""
    WITH dt AS (SELECT doc_id, {th} AS th FROM d),
    dg AS (SELECT doc_id, unnest({grams}) AS g FROM dt),
    et AS (SELECT {th} AS th FROM e),
    eg AS (SELECT DISTINCT unnest({grams}) AS g FROM et),
    bad AS (SELECT DISTINCT doc_id FROM dg WHERE g IN (SELECT g FROM eg))
    SELECT doc_id FROM d WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    """
    want = {r[0] for r in con.execute(sql).fetchall()}
    assert got == want and len(got) < docs.count()


def test_assembly_edge_cases(spark, docs):
    """Empty inputs and degenerate parameters must behave, not crash:
    empty corpus through split/sample/pack, empty eval set through
    decontaminate (drops nothing), single-weight split."""
    from adampro_spark.pipeline.mix import mix_sources

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert split_dataset(empty, {"train": 1.0}).count() == 0
    assert sample_sources(empty, {"a": 0.5}).count() == 0
    assert mix_sources(empty, {"a": 2.0}).count() == 0
    assert (
        pack_sequences(
            empty.withColumn("n_tokens", F.lit(1)), budget=10
        ).count()
        == 0
    )

    # empty eval set: nothing is contaminated
    no_eval = spark.createDataFrame([], "text string")
    assert decontaminate(docs, no_eval).count() == docs.count()

    # single split name: everything lands in it
    one = split_dataset(docs, {"all": 1.0})
    assert one.filter(F.col("split") != "all").count() == 0


def test_temperature_weights_properties(spark):
    from adampro_spark.pipeline.mix import mix_sources, temperature_weights

    rows = (
        [(i, "wiki", "alpha beta gamma") for i in range(10)]
        + [(100 + i, "crawl", "w1 w2 w3 w4 w5 w6") for i in range(90)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    # tau=1: natural proportions, every weight exactly 1
    w1 = temperature_weights(df, 1.0)
    assert set(w1) == {"wiki", "crawl"}
    for v in w1.values():
        assert v == pytest.approx(1.0, rel=1e-12)

    # tau=0: equal source shares; expected size preserved
    n = {"wiki": 10 * 3, "crawl": 90 * 6}  # token masses
    total = sum(n.values())
    w0 = temperature_weights(df, 0.0)
    assert sum(n[s] * w0[s] for s in w0) == pytest.approx(total, rel=1e-9)
    # equal target shares: n_s * w_s identical across sources
    assert n["wiki"] * w0["wiki"] == pytest.approx(
        n["crawl"] * w0["crawl"], rel=1e-9
    )
    assert w0["wiki"] > 1.0 > w0["crawl"]  # small source up-weighted

    # intermediate tau is monotone between the extremes
    wh = temperature_weights(df, 0.5)
    assert 1.0 < wh["wiki"] < w0["wiki"]
    assert w0["crawl"] < wh["crawl"] < 1.0

    # doc-share mode (text_col=None) uses row counts
    wd = temperature_weights(df, 0.0, text_col=None)
    assert 10 * wd["wiki"] == pytest.approx(90 * wd["crawl"], rel=1e-9)

    # cap: waterfilling keeps the cap AND the expected size (crawl
    # absorbs the residual)
    wc = temperature_weights(df, 0.0, max_weight=3.0)
    assert wc["wiki"] == pytest.approx(3.0, rel=1e-12)
    assert sum(n[s] * wc[s] for s in wc) == pytest.approx(total, rel=1e-9)

    # plugs straight into mix_sources: realized sizes near expectation
    mixed = mix_sources(df, w0)
    got = {
        r["source"]: r["cnt"]
        for r in mixed.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    # expected docs: wiki 10*w0[wiki] = 95, crawl 90*w0[crawl] ~ 47.5
    assert got["wiki"] > 70  # up-sampled ~9.5x
    assert 30 < got["crawl"] < 65  # down-sampled ~0.53x

    with pytest.raises(ValueError):
        temperature_weights(df, -0.1)
    with pytest.raises(ValueError):
        temperature_weights(df, 0.5, max_weight=0.0)


def test_mix_weight_explosion_guard(spark):
    """round 11: a mis-typed weight (units mistake) is a silent corpus
    multiplier — reject outside [0, 10_000] at the call site."""
    import pytest

    from adampro_spark.pipeline.mix import mix_sources

    df = spark.createDataFrame([(1, "wiki")], "doc_id long, source string")
    with pytest.raises(ValueError, match="copy count"):
        mix_sources(df, {"wiki": 1e6})
    with pytest.raises(ValueError, match="default_weight"):
        mix_sources(df, {"wiki": 2.0}, default_weight=1e9)
    # legit weights unaffected
    assert mix_sources(df, {"wiki": 3.0}).count() == 3


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (round 11, the zero-shuffle scale path)
# ---------------------------------------------------------------------------


def test_decontaminate_bloom_matches_semi_path(spark, docs):
    from adampro_spark.pipeline.text import tokens_expr

    eval_df = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.concat_ws(" ", F.slice(tokens_expr("text"), 5, 5)).alias("text")
    )
    semi = {r[0] for r in decontaminate(docs, eval_df, n=5).select("doc_id").collect()}
    bloom = {
        r[0]
        for r in decontaminate(docs, eval_df, n=5, method="bloom")
        .select("doc_id")
        .collect()
    }
    # bloom can only OVER-drop (false positives), never under-drop
    assert bloom <= semi
    # at fpp=1e-6 over a few-thousand-gram corpus the expected FP count
    # is ~1e-3 — exact agreement
    assert bloom == semi


def test_decontaminate_bloom_drops_planted_contamination(spark, docs):
    picked = docs.orderBy("doc_id").limit(2).collect()
    evals = [
        (" ".join(r["text"].lower().split()[5:18]),)
        for r in picked
        if len(r["text"].split()) >= 18
    ]
    assert evals
    eval_df = spark.createDataFrame(evals, "text string")
    ids = {
        r["doc_id"]
        for r in decontaminate(docs, eval_df, n=13, method="bloom")
        .select("doc_id")
        .collect()
    }
    for r in picked:
        if len(r["text"].split()) >= 18:
            assert r["doc_id"] not in ids


def test_decontaminate_bloom_empty_eval_and_nulls(spark, docs):
    # empty eval set keeps everything (no filter built at all)
    assert (
        decontaminate(docs, docs.limit(0), method="bloom").count()
        == docs.count()
    )
    # NULL text is kept by both paths
    with_null = docs.unionByName(
        docs.limit(1).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.lit(None).cast("string").alias("text"),
            "lang", "source", "n_chars",
        ).select(docs.columns)
    )
    eval_df = docs.limit(1).select("text")
    out = decontaminate(with_null, eval_df, n=5, method="bloom")
    assert out.filter(F.col("text").isNull()).count() == 1
    # ADVICE r11: a NULL-text row in the EVAL corpus used to crash the
    # bloom build (np.array over a None gram) while the semi path
    # silently tolerated it — both must run and agree now
    eval_null = eval_df.unionByName(
        spark.createDataFrame([(None,)], "text string")
    )
    b = {r[0] for r in decontaminate(docs, eval_null, n=5, method="bloom")
         .select("doc_id").collect()}
    s = {r[0] for r in decontaminate(docs, eval_null, n=5, method="semi")
         .select("doc_id").collect()}
    assert b == s


def test_decontaminate_bloom_plan_is_map_only(spark, docs):
    eval_df = docs.limit(1).select("text")
    plan = (
        decontaminate(docs, eval_df, method="bloom")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # no join, no shuffle: one scan + ArrowEvalPython filter
    assert "Join" not in plan and "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_decontaminate_bloom_guards(spark, docs):
    eval_df = docs.limit(5).select("text")
    with pytest.raises(ValueError, match="max_eval_grams"):
        decontaminate(docs, eval_df, method="bloom", max_eval_grams=3)
    with pytest.raises(ValueError, match="method"):
        decontaminate(docs, eval_df, method="minhash")


def test_bloom_filter_fp_rate_and_no_false_negatives():
    import numpy as np

    from adampro_spark.pipeline.mix import (
        _bloom_contains,
        _bloom_insert,
        _bloom_params,
    )

    rng = np.random.default_rng(7)
    for n_items in (19, 1000, 50_000):
        items = np.unique(
            rng.integers(0, 1_000_000_007, n_items).astype(np.int64)
        )
        m, k = _bloom_params(len(items), 1e-6)
        assert m & (m - 1) == 0, "m must be a power of two (stride coprimality)"
        words = np.zeros(m // 64, dtype=np.uint64)
        _bloom_insert(words, items, m, k)
        # zero false negatives, ever
        assert _bloom_contains(words, items, m, k).all()
        probes = np.setdiff1d(
            rng.integers(0, 1_000_000_007, 1_000_000).astype(np.int64), items
        )
        fp = _bloom_contains(words, probes, m, k).sum() / len(probes)
        # 100x headroom over the 1e-6 target (the double-hashing bug this
        # pins regressed to 2.5e-5)
        assert fp < 1e-4, f"n={n_items}: measured FP rate {fp}"


def test_fold_grams_np_matches_spark_expression(spark, docs):
    import numpy as np

    from adampro_spark.pipeline.mix import (
        _fold_grams_np,
        _grams_from_token_hashes,
        _token_hashes,
    )

    n = 5
    rows = (
        docs.limit(50)
        .select("doc_id", _token_hashes("text").alias("th"))
        .withColumn("g", _grams_from_token_hashes(F.col("th"), n))
        .collect()
    )
    # include a short doc (< n tokens) and an empty doc
    extra = [([], []), ([11, 22], None)]  # expected grams computed below
    th_lists = [list(r["th"]) for r in rows] + [[], [11, 22]]
    lens = np.array([len(t) for t in th_lists])
    flat = np.concatenate([np.asarray(t, dtype=np.int64) for t in th_lists if t])
    grams, doc_of = _fold_grams_np(flat, lens, n)
    got = [sorted(set(grams[doc_of == i].tolist())) for i in range(len(th_lists))]
    want = [sorted(set(r["g"])) for r in rows]
    assert got[: len(rows)] == want
    # empty (non-NULL) doc: ONE gram 0 — the Spark expression's
    # greatest(k-(n-1), 1) window over an empty slice folds to 0, and
    # the semi-join path matches whitespace-only docs on exactly that
    # gram; short doc: ONE gram = fold of its full sequence
    assert got[len(rows)] == [0]
    P = 1_000_000_007
    assert got[len(rows) + 1] == [(11 * 31 + 22) % P]


# ---------------------------------------------------------------------------
# shuffle_dataset (round 11: deterministic training-order shuffle)
# ---------------------------------------------------------------------------


def test_shuffle_dataset_order_properties(spark, docs):
    from adampro_spark.pipeline.mix import shuffle_dataset

    out = shuffle_dataset(docs, key_col="_k")
    rows = out.select("doc_id", "_k").collect()
    # returned order IS ascending by (key, pk)
    keys = [(r["_k"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)
    # deterministic across reruns
    again = [
        (r["_k"], r["doc_id"])
        for r in shuffle_dataset(docs, key_col="_k").select("doc_id", "_k").collect()
    ]
    assert keys == again
    # the permutation genuinely differs from pk order
    ids = [d for _, d in keys]
    assert ids != sorted(ids)
    # a different salt gives a different epoch order
    other = [
        r["doc_id"]
        for r in shuffle_dataset(docs, salt="epoch2").select("doc_id").collect()
    ]
    assert other != ids and sorted(other) == sorted(ids)
    # without key_col the order matches the exposed-key order
    bare = [r["doc_id"] for r in shuffle_dataset(docs).select("doc_id").collect()]
    assert bare == ids


def test_decontamination_gate_in_curate_and_stream(spark, docs):
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.mix import decontamination_gate_flags
    from adampro_spark.pipeline.text import tokens_expr

    eval_df = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.concat_ws(" ", F.slice(tokens_expr("text"), 5, 5)).alias("text")
    )
    gate = decontamination_gate_flags(eval_df, n=5)
    out, rep = curate(
        docs, min_tokens=1, min_quality=0.0, langs=None, dedup=None,
        extra_gates=gate,
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    # gate result == standalone bloom decontaminate on the same corpus
    standalone = {
        r["doc_id"]
        for r in decontaminate(docs, eval_df, n=5, method="bloom")
        .select("doc_id")
        .collect()
    }
    assert kept == standalone
    assert rep["n_fail_decon_ok"] == docs.count() - len(standalone)
    # empty eval set -> permissive gate (everything passes)
    g0 = decontamination_gate_flags(docs.limit(0), n=5)
    out0, _ = curate(
        docs, min_tokens=1, min_quality=0.0, langs=None, dedup=None,
        extra_gates=g0,
    )
    assert out0.count() == docs.count()


def test_stream_curate_decontamination_gate_matches_batch(spark, docs, tmp_path):
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.mix import decontamination_gate_flags
    from adampro_spark.pipeline.text import tokens_expr
    from adampro_spark.streaming.ingest import stream_curate

    eval_df = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.concat_ws(" ", F.slice(tokens_expr("text"), 5, 5)).alias("text")
    )
    gate = decontamination_gate_flags(eval_df, n=5)
    kw = dict(langs=None, min_tokens=1, min_quality=0.0, dedup=None)
    batch_out, _ = curate(docs, extra_gates=gate, **kw)
    want = {r["doc_id"] for r in batch_out.select("doc_id").collect()}

    slim = docs.select("doc_id", "text")
    src = str(tmp_path / "decon_src")
    slim.repartition(2).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    gated = stream_curate(stream, extra_gates=gate, **kw).select("doc_id")
    q = (
        gated.writeStream.format("memory")
        .queryName("decon_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_decon"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM decon_stream").collect()}
    assert got == want


def test_decontaminate_bloom_review_fixes(spark, docs):
    """Review r11: fpp validation, and empty-text docs match the
    semi-join path's gram-0 semantics (bloom must never under-drop)."""
    import numpy as np

    from adampro_spark.pipeline.mix import _fold_grams_np

    eval_df = docs.limit(1).select("text")
    with pytest.raises(ValueError, match="fpp"):
        decontaminate(docs, eval_df, method="bloom", fpp=1e6)
    with pytest.raises(ValueError, match="fpp"):
        decontaminate(docs, eval_df, method="bloom", fpp=0.0)

    # whitespace-only eval doc -> gram 0; whitespace-only train docs
    # must drop under BOTH paths (the numpy fold's empty-array window)
    schema = "doc_id long, text string"
    train = spark.createDataFrame(
        [(1, "   \t "), (2, ""), (3, "real content that stays here"),
         (4, None)],
        schema,
    )
    ev = spark.createDataFrame([("  ",)], "text string")
    semi = {r[0] for r in decontaminate(train, ev, n=5).select("doc_id").collect()}
    bloom = {
        r[0]
        for r in decontaminate(train, ev, n=5, method="bloom")
        .select("doc_id")
        .collect()
    }
    assert semi == bloom == {3, 4}  # empties matched; NULL kept by both
    # the numpy fold itself: NULL -> no gram, empty -> ONE gram 0
    grams, doc_of = _fold_grams_np(
        np.array([7], dtype=np.int64), np.array([-1, 0, 1]), 5
    )
    assert list(doc_of) == [1, 2] and list(grams) == [0, 7]


def test_shuffle_dataset_string_pk(spark):
    from adampro_spark.pipeline.mix import shuffle_dataset

    df = spark.createDataFrame(
        [(f"doc-{i}", i) for i in range(50)], ["name", "x"]
    )
    ids = [r["name"] for r in shuffle_dataset(df, pk="name").collect()]
    assert sorted(ids) == sorted(f"doc-{i}" for i in range(50))
    assert ids != sorted(ids)
