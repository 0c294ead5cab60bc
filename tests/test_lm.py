"""Unigram LM quality scoring (pipeline/lm.py): fit/score parity vs a
pure-Python reference, OOV and empty-document semantics, deterministic
vocabulary tie-breaks, and the broadcast plan shape."""

import math
import re

import pytest
from pyspark.sql import functions as F

from adampro_spark.pipeline.lm import (
    fit_unigram_lm,
    lm_filter,
    lm_perplexity_col,
    lm_score,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog ate the bone"),
    (3, "quantum flux capacitor overdrive"),  # mostly OOV at small V
    (4, ""),  # empty: no tokens
    (5, "THE The the"),  # case-folding: all one token
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def py_fit(texts, vocab_size):
    from collections import Counter

    toks = []
    for t in texts:
        toks += [w for w in re.split(r"\s+", t.lower()) if w]
    c = Counter(toks)
    n = sum(c.values())
    ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    v_eff = min(vocab_size, len(c))
    denom = n + v_eff + 1
    logp = {t: math.log10((k + 1) / denom) for t, k in ordered}
    return logp, math.log10(1 / denom), n, v_eff


def test_fit_matches_python_reference(spark, docs):
    vocab, meta = fit_unigram_lm(docs, vocab_size=4)
    logp, oov, n, v_eff = py_fit([t for _i, t in DOCS], 4)
    got = {r["tok"]: r["logp"] for r in vocab.collect()}
    assert set(got) == set(logp)
    for t in logp:
        assert got[t] == pytest.approx(logp[t], abs=1e-12)
    assert meta["n_tokens"] == n
    assert meta["vocab_size_eff"] == v_eff
    assert meta["oov_logp"] == pytest.approx(oov, abs=1e-12)


def test_vocab_tiebreak_deterministic(spark):
    # four tokens all with count 1 → vocab of 2 must be the
    # lexicographically first two
    df = spark.createDataFrame([(1, "delta alpha charlie bravo")], ["doc_id", "text"])
    vocab, _meta = fit_unigram_lm(df, vocab_size=2)
    assert sorted(r["tok"] for r in vocab.collect()) == ["alpha", "bravo"]


def test_score_semantics(spark, docs):
    vocab, meta = fit_unigram_lm(docs, vocab_size=4)
    logp, oov, _n, _v = py_fit([t for _i, t in DOCS], 4)
    scored = {r["doc_id"]: r for r in lm_score(docs, vocab, meta).collect()}
    assert set(scored) == {1, 2, 3, 4, 5}
    for doc_id, text in DOCS:
        toks = [w for w in re.split(r"\s+", text.lower()) if w]
        row = scored[doc_id]
        assert row["lm_tokens"] == len(toks)
        if not toks:
            assert row["lm_logprob"] is None
        else:
            want = sum(logp.get(t, oov) for t in toks) / len(toks)
            assert row["lm_logprob"] == pytest.approx(want, rel=1e-12)
    # the all-OOV doc scores strictly worse than the in-vocab doc
    assert scored[3]["lm_logprob"] < scored[1]["lm_logprob"]


def test_perplexity_and_filter(spark, docs):
    vocab, meta = fit_unigram_lm(docs, vocab_size=4)
    scored = lm_score(docs, vocab, meta).withColumn(
        "ppl", lm_perplexity_col()
    )
    rows = {r["doc_id"]: r for r in scored.collect()}
    for i in (1, 2, 3, 5):
        assert rows[i]["ppl"] == pytest.approx(
            10 ** (-rows[i]["lm_logprob"]), rel=1e-12
        )
    # threshold between the natural docs and the OOV doc keeps 1,2,5
    # and drops 3 (worse score) AND 4 (NULL — empty docs never pass)
    thr = rows[3]["lm_logprob"] + 1e-9
    kept = {r["doc_id"] for r in lm_filter(docs, vocab, meta, thr).collect()}
    assert 3 not in kept and 4 not in kept
    assert kept == {i for i in (1, 2, 5) if rows[i]["lm_logprob"] >= thr}


def test_sample_fraction_smoke(spark, tables):
    docs = tables["documents"]
    vocab, meta = fit_unigram_lm(docs, vocab_size=32, sample_fraction=0.5)
    assert vocab.count() <= 32
    assert meta["n_tokens"] > 0
    out = lm_score(docs, vocab, meta)
    assert out.count() == docs.count()


def test_plan_broadcasts_vocab_and_prunes_text(spark, tables):
    docs = tables["documents"]
    vocab, meta = fit_unigram_lm(docs, vocab_size=64)
    plan = lm_score(docs, vocab, meta)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only exchange in the plan is the per-doc aggregate (plus the
    # broadcast), never a sort-merge join of exploded tokens
    assert "SortMergeJoin" not in plan


def test_curate_lm_stage(spark, tables):
    """curate(lm=(vocab, meta, floor)): LM filtering applies after the
    gates and before dedup; the report's n_lm_fail accounts exactly and
    attrition telescopes."""
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.lm import fit_unigram_lm, lm_score

    docs = tables["documents"]
    vocab, meta = fit_unigram_lm(docs, vocab_size=32)

    # floor at the median score of GATE SURVIVORS so the stage really
    # drops a nontrivial subset
    base_out, base_rep = curate(docs, dedup=None)
    med = lm_score(base_out, vocab, meta).approxQuantile(
        "lm_logprob", [0.5], 0.0
    )[0]

    out, rep = curate(docs, lm=(vocab, meta, med), dedup=None)
    assert rep["n_after_gates"] == base_rep["n_after_gates"]
    assert rep["n_lm_fail"] > 0
    assert rep["n_output"] == rep["n_after_gates"] - rep["n_lm_fail"]
    assert out.count() == rep["n_output"]
    # survivors are exactly the gate survivors clearing the floor
    want = {
        r["doc_id"]
        for r in lm_score(base_out, vocab, meta)
        .filter(F.col("lm_logprob") >= med)
        .collect()
    }
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == want

    # with dedup on, n_dup_dropped counts from the post-LM set
    timings = {}
    out2, rep2 = curate(
        docs, lm=(vocab, meta, med), dedup="exact", stage_timings=timings
    )
    assert rep2["n_output"] == out2.count()
    assert (
        rep2["n_after_gates"] - rep2["n_lm_fail"] - rep2["n_dup_dropped"]
        == rep2["n_output"]
    )
    assert "lm_sec" in timings


def test_lm_score_col_matches_join_path(spark, tables):
    """The map-only pandas-UDF scorer must reproduce the explode +
    broadcast-join + groupBy scores exactly (same tokenization, same
    OOV mass, NULL on empty docs)."""
    from adampro_spark.pipeline.lm import lm_score_col

    docs = tables["documents"].select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(9_000_001, ""), (9_000_002, None), (9_000_003, "zzz unseen qqq")],
            "doc_id long, text string",
        )
    )
    vocab, meta = fit_unigram_lm(docs, vocab_size=32)
    join_scores = {
        r["doc_id"]: r["lm_logprob"] for r in lm_score(docs, vocab, meta).collect()
    }
    udf_scores = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", lm_score_col(vocab, meta).alias("s")
        ).collect()
    }
    assert set(join_scores) == set(udf_scores)
    for k, v in join_scores.items():
        if v is None:
            assert udf_scores[k] is None, k
        else:
            assert udf_scores[k] == pytest.approx(v, rel=1e-12), k


def test_stream_curate_lm_matches_batch(spark, tables, tmp_path):
    """stream_curate(lm=...) over micro-batched files equals batch
    curate(lm=...) survivors — the UDF scorer and the join scorer agree
    through the full gate composition."""
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.streaming.ingest import stream_curate

    docs = tables["documents"].select("doc_id", "text")
    vocab, meta = fit_unigram_lm(docs, vocab_size=32)
    med = lm_score(docs, vocab, meta).approxQuantile("lm_logprob", [0.5], 0.0)[0]

    kw = dict(langs=("en",), min_tokens=10, min_quality=0.2)
    batch_out, batch_rep = curate(docs, lm=(vocab, meta, med), dedup=None, **kw)
    want = {r["doc_id"] for r in batch_out.select("doc_id").collect()}
    assert batch_rep["n_lm_fail"] > 0

    src = str(tmp_path / "lm_src")
    docs.repartition(3).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    gated = stream_curate(
        stream, lm=(vocab, meta, med), dedup=None, **kw
    ).select("doc_id")
    q = (
        gated.writeStream.format("memory")
        .queryName("lm_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_lm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM lm_stream").collect()}
    assert got == want and got


# ---------------------------------------------------------------------------
# interpolated bigram LM
# ---------------------------------------------------------------------------


def py_bigram_fit(texts, vocab_size, bigram_size):
    from collections import Counter

    logp, oov, n, v_eff = py_fit(texts, vocab_size)
    uni_cnt = Counter()
    bi_cnt = Counter()
    for t in texts:
        toks = [w for w in re.split(r"\s+", t.lower()) if w]
        uni_cnt.update(toks)
        bi_cnt.update(zip(toks, toks[1:]))
    vocab_cnt = dict(
        sorted(uni_cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    )
    bigs = dict(
        sorted(bi_cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[
            :bigram_size
        ]
    )
    denom = n + v_eff + 1
    return vocab_cnt, bigs, denom


def py_bigram_score(text, vocab_cnt, bigs, denom, lam):
    toks = [w for w in re.split(r"\s+", text.lower()) if w]
    if not toks:
        return None, 0
    lps = []
    for i, cur in enumerate(toks):
        p_uni = (vocab_cnt.get(cur, 0) + 1) / denom
        if i == 0:
            p = p_uni
        else:
            prev = toks[i - 1]
            p_bi = (
                bigs[(prev, cur)] / vocab_cnt[prev]
                if (prev, cur) in bigs and prev in vocab_cnt
                else 0.0
            )
            p = lam * p_bi + (1 - lam) * p_uni
        lps.append(math.log10(p))
    return sum(lps) / len(lps), len(toks)


def test_bigram_fit_and_score_match_python(spark, docs):
    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm

    vocab, bigrams, meta = fit_bigram_lm(
        docs, vocab_size=4, bigram_size=6, lam=0.6
    )
    texts = [t for _i, t in DOCS]
    vocab_cnt, bigs, denom = py_bigram_fit(texts, 4, 6)
    got_bigs = {
        (r["prev"], r["cur"]): r["cnt"] for r in bigrams.collect()
    }
    assert got_bigs == bigs
    assert meta["denom"] == denom and meta["bigram_size_eff"] == len(bigs)

    scored = {
        r["doc_id"]: r
        for r in bigram_lm_score(docs, vocab, bigrams, meta).collect()
    }
    for doc_id, text in DOCS:
        want, n = py_bigram_score(text, vocab_cnt, bigs, denom, 0.6)
        assert scored[doc_id]["lm_tokens"] == n
        if want is None:
            assert scored[doc_id]["lm_logprob"] is None
        else:
            assert scored[doc_id]["lm_logprob"] == pytest.approx(
                want, rel=1e-12
            ), doc_id


def test_bigram_beats_unigram_on_ordered_text(spark):
    """A corpus with strong sequential structure: the bigram model must
    separate in-order text from shuffled text where unigram CANNOT."""
    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(20)],
        "doc_id long, text string",
    )
    vocab, bigrams, meta = fit_bigram_lm(train, vocab_size=10, bigram_size=20)
    probe = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    s = {
        r["doc_id"]: r["lm_logprob"]
        for r in bigram_lm_score(probe, vocab, bigrams, meta).collect()
    }
    assert s[1] > s[2]  # word order matters now

    from adampro_spark.pipeline.lm import lm_score

    u = {
        r["doc_id"]: r["lm_logprob"]
        for r in lm_score(probe, vocab, meta).collect()
    }
    assert u[1] == pytest.approx(u[2], rel=1e-12)  # unigram is order-blind


def test_bigram_lam_validation(spark, docs):
    from adampro_spark.pipeline.lm import fit_bigram_lm

    with pytest.raises(ValueError):
        fit_bigram_lm(docs, lam=1.0)


def test_curate_accepts_bigram_model(spark, tables):
    """curate(lm=(vocab, bigrams, meta, floor)) routes through the
    interpolated bigram scorer; survivors equal the manual composition."""
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm

    docs = tables["documents"]
    vocab, bigrams, meta = fit_bigram_lm(docs, vocab_size=32, bigram_size=128)
    base_out, _ = curate(docs, dedup=None)
    med = bigram_lm_score(base_out, vocab, bigrams, meta).approxQuantile(
        "lm_logprob", [0.5], 0.0
    )[0]
    out, rep = curate(docs, lm=(vocab, bigrams, meta, med), dedup=None)
    assert rep["n_lm_fail"] > 0
    want = {
        r["doc_id"]
        for r in bigram_lm_score(base_out, vocab, bigrams, meta)
        .filter(F.col("lm_logprob") >= med)
        .collect()
    }
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == want


def test_bigram_lm_score_col_matches_join_path(spark, tables):
    """The map-only bigram pandas-UDF scorer must reproduce the
    explode + broadcast-join + groupBy scores exactly (same first-token
    unigram fallback, same OOV-context p_bi = 0, NULL on empty docs)."""
    from adampro_spark.pipeline.lm import (
        bigram_lm_score,
        bigram_lm_score_col,
        fit_bigram_lm,
    )

    docs = tables["documents"].select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(9_000_001, ""), (9_000_002, None), (9_000_003, "zzz unseen qqq")],
            "doc_id long, text string",
        )
    )
    vocab, bigrams, meta = fit_bigram_lm(docs, vocab_size=32, bigram_size=128)
    join_scores = {
        r["doc_id"]: r["lm_logprob"]
        for r in bigram_lm_score(docs, vocab, bigrams, meta).collect()
    }
    udf_scores = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", bigram_lm_score_col(vocab, bigrams, meta).alias("s")
        ).collect()
    }
    assert set(join_scores) == set(udf_scores)
    for k, v in join_scores.items():
        if v is None:
            assert udf_scores[k] is None, k
        else:
            assert udf_scores[k] == pytest.approx(v, rel=1e-12), k


def test_stream_curate_bigram_lm_matches_batch(spark, tables, tmp_path):
    """stream_curate with the 4-tuple bigram lm= (verdict r7 #6: used to
    raise a bare unpack error) equals batch curate's bigram survivors."""
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm
    from adampro_spark.streaming.ingest import stream_curate

    docs = tables["documents"].select("doc_id", "text")
    vocab, bigrams, meta = fit_bigram_lm(docs, vocab_size=32, bigram_size=128)
    med = bigram_lm_score(docs, vocab, bigrams, meta).approxQuantile(
        "lm_logprob", [0.5], 0.0
    )[0]

    kw = dict(langs=("en",), min_tokens=10, min_quality=0.2)
    batch_out, batch_rep = curate(
        docs, lm=(vocab, bigrams, meta, med), dedup=None, **kw
    )
    want = {r["doc_id"] for r in batch_out.select("doc_id").collect()}
    assert batch_rep["n_lm_fail"] > 0

    src = str(tmp_path / "blm_src")
    docs.repartition(3).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    gated = stream_curate(
        stream, lm=(vocab, bigrams, meta, med), dedup=None, **kw
    ).select("doc_id")
    q = (
        gated.writeStream.format("memory")
        .queryName("blm_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_blm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM blm_stream").collect()
    }
    assert got == want and got


def test_lm_bucket_ntile_terciles(spark, tables):
    """NTILE buckets are equal-count (±1) per group, better scores land
    in head, NULL-scoring docs get NULL bucket, labels generalize."""
    from adampro_spark.pipeline.lm import fit_unigram_lm, lm_bucket

    docs = tables["documents"].select("doc_id", "source", "text").unionByName(
        spark.createDataFrame(
            [(9_000_001, "srcx", "")], "doc_id long, source string, text string"
        )
    )
    vocab, meta = fit_unigram_lm(docs, vocab_size=64)
    out = lm_bucket(docs, vocab, meta, by="source").cache()
    assert set(out.columns) == {"doc_id", "source", "lm_logprob", "bucket"}
    # the empty doc scores NULL and gets a NULL bucket
    nb = out.filter(F.col("doc_id") == 9_000_001).first()
    assert nb["lm_logprob"] is None and nb["bucket"] is None
    sizes = {
        (r["source"], r["bucket"]): r["n"]
        for r in out.filter(F.col("bucket").isNotNull())
        .groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for src in {s for s, _ in sizes}:
        hs = [sizes.get((src, b), 0) for b in ("head", "middle", "tail")]
        assert max(hs) - min(hs) <= 1, (src, hs)
    # every head score >= every tail score within a group
    import collections
    rows = collections.defaultdict(lambda: {"head": [], "middle": [], "tail": []})
    for r in out.filter(F.col("bucket").isNotNull()).collect():
        rows[r["source"]][r["bucket"]].append(r["lm_logprob"])
    for src, d in rows.items():
        if d["head"] and d["tail"]:
            assert min(d["head"]) >= max(d["tail"]), src
    out.unpersist()


def test_lm_bucket_quantile_path_sane(spark, tables):
    """The scale path (approx thresholds + map-only compare) produces
    monotone buckets with roughly balanced populations."""
    from adampro_spark.pipeline.lm import fit_unigram_lm, lm_bucket

    docs = tables["documents"].select("doc_id", "source", "text")
    vocab, meta = fit_unigram_lm(docs, vocab_size=64)
    out = lm_bucket(docs, vocab, meta, method="quantile").cache()
    per = {
        r["bucket"]: r["n"]
        for r in out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
        if r["bucket"] is not None
    }
    n = sum(per.values())
    for b in ("head", "middle", "tail"):
        assert per.get(b, 0) > 0.15 * n, per  # roughly balanced
    hm = out.filter(F.col("bucket") == "head").agg(
        F.min("lm_logprob")
    ).first()[0]
    tm = out.filter(F.col("bucket") == "tail").agg(
        F.max("lm_logprob")
    ).first()[0]
    assert hm >= tm
    out.unpersist()

    with pytest.raises(ValueError, match="n_buckets"):
        lm_bucket(docs, vocab, meta, n_buckets=1)
    with pytest.raises(ValueError, match="method"):
        lm_bucket(docs, vocab, meta, method="nope")
    five = lm_bucket(docs, vocab, meta, n_buckets=5)
    labels = {r["bucket"] for r in five.select("bucket").distinct().collect()}
    assert labels <= {"b1", "b2", "b3", "b4", "b5", None}


def test_lm_bucket_auto_routes_monster_group_to_quantile(
    spark, tables, monkeypatch
):
    """verdict r8 #1: method='auto' must count the largest group and
    route PAST the gate to the quantile path (no NTILE window sorting a
    monster group in one task) while staying NTILE-exact under it."""
    import adampro_spark.pipeline.lm as lm_mod
    from adampro_spark.pipeline.lm import fit_unigram_lm, lm_bucket

    docs = tables["documents"].select("doc_id", "source", "text")
    vocab, meta = fit_unigram_lm(docs, vocab_size=64)

    # under the gate: auto == ntile, row for row
    a = lm_bucket(docs, vocab, meta, by="source")  # default auto
    n = lm_bucket(docs, vocab, meta, by="source", method="ntile")
    key = lambda r: (r["doc_id"], r["bucket"])  # noqa: E731
    assert sorted(map(key, a.collect())) == sorted(map(key, n.collect()))
    plan_small = a._jdf.queryExecution().optimizedPlan().toString()
    assert "ntile(" in plan_small

    # plant a monster group: gate forced tiny so 'source' groups exceed it
    monkeypatch.setattr(lm_mod, "LM_BUCKET_NTILE_MAX_GROUP_ROWS", 10)
    big = lm_bucket(docs, vocab, meta, by="source")
    plan_big = big._jdf.queryExecution().optimizedPlan().toString()
    assert "ntile(" not in plan_big  # no single-task group sort
    q = lm_bucket(docs, vocab, meta, by="source", method="quantile")
    assert sorted(map(key, big.collect())) == sorted(map(key, q.collect()))

    # by=None: the whole corpus is the one group
    solo = lm_bucket(docs, vocab, meta)
    assert "ntile(" not in solo._jdf.queryExecution().optimizedPlan().toString()


def test_ccnet_pipeline_composition(spark, tables, monkeypatch):
    """verdict r9 #3 + #6: the CCNet composition (trained langid →
    curate → per-language lm_bucket) must (a) wire curate's driver-side
    n_output into lm_bucket's auto gate as max_group_rows_hint — no
    lineage replay to decide the route — and (b) never re-evaluate the
    upstream chain after the survivor materialization (accumulator in
    the input lineage).  Output equals the hand-rolled composition."""
    import adampro_spark.pipeline.lm as lm_mod
    from adampro_spark.pipeline.ccnet import ccnet_pipeline
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.langid import fit_langid, trained_langid_col
    from adampro_spark.pipeline.lm import fit_unigram_lm

    base = tables["documents"].select("doc_id", "text").limit(200)
    base = spark.createDataFrame(base.collect(), "doc_id long, text string")
    n_rows = base.count()
    vocab, meta = fit_unigram_lm(base, vocab_size=64)

    seen = {}
    orig_bucket = lm_mod.lm_bucket

    def spy(df, *a, **kw):
        seen.update(kw)
        return orig_bucket(df, *a, **kw)

    monkeypatch.setattr(lm_mod, "lm_bucket", spy)

    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tag(s):
        acc.add(1)
        return s

    rep = {}
    out = ccnet_pipeline(
        base.withColumn("text", tag("text")), vocab, meta, report_out=rep,
    )
    # (b) the tagged corpus is kept across curate's gate aggregate and the
    # survivor lineage, so the tag UDF ran exactly once per input row —
    # and the returned output is materialized, so nothing replays it
    fills = acc.value
    assert fills == base.count(), "the langid-tagged corpus was re-evaluated"
    # (a0) verdict r10 #3: report_out costs ONE gate pass — the by_lang
    # report is a DRIVER-BUILT LocalRelation (its rows came out of
    # curate's one grouped gate aggregate), so materializing it scans
    # nothing and runs zero corpus jobs; the accumulator must not move
    fills0 = acc.value
    bl_plan = rep["by_lang"]._jdf.queryExecution().optimizedPlan().toString()
    assert bl_plan.startswith(("LogicalRDD", "LocalRelation")) and not any(
        node in bl_plan
        for node in ("EvalPython", "InMemoryRelation", "Relation [", "Join")
    ), f"by_lang is not driver-built — a second gate scan is back:\n{bl_plan}"
    bl_rows = rep["by_lang"].collect()
    assert acc.value == fills0, "collecting by_lang re-ran the gate pass"
    # (a) the hint is min(n_output, max per-language n_pass) — the
    # per-group bound (ADVICE r10) — and the route decision was
    # driver-side: auto with the hint, no count job
    assert seen.get("method") == "auto"
    assert seen.get("max_group_rows_hint") == min(
        rep["n_output"], max(r["n_pass"] for r in bl_rows)
    )

    got = out.collect()
    assert acc.value == fills, "lm_bucket replayed the curate lineage"
    out.collect()
    rep["by_lang"].collect()
    assert acc.value == fills

    # (c) output equals the hand-rolled composition on the plain input
    lmodel, lmeta = fit_langid()
    tagged = base.withColumn(
        "lang_cc", trained_langid_col(lmodel, lmeta, "text")
    ).filter(F.col("lang_cc") != "und")
    surv, rep2 = curate(
        tagged, langs=None, min_tokens=20, min_quality=0.3, dedup="exact"
    )
    want = orig_bucket(
        surv, vocab, meta, by="lang_cc", method="ntile"
    ).collect()
    key = lambda r: (r["doc_id"], r["lang_cc"], r["bucket"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert rep2["n_output"] == rep["n_output"]

    # (d) the per-language report covers every surviving language, its
    # totals add up to the tagged corpus, and the ONE-PASS rows equal
    # the standalone two-pass curate_report_by on the same tagged corpus
    # (verdict r10 #3 parity)
    from adampro_spark.pipeline.curate import curate_report_by

    bl = {r["lang_cc"]: r for r in rep["by_lang"].collect()}
    langs_out = {r["lang_cc"] for r in got}
    assert langs_out <= set(bl)
    assert sum(r["n"] for r in bl.values()) == tagged.count()
    two_pass = curate_report_by(
        tagged, by="lang_cc", langs=None, min_tokens=20, min_quality=0.3
    )
    assert rep["by_lang"].columns == two_pass.columns
    want_rows = {tuple(r) for r in two_pass.collect()}
    assert {tuple(r) for r in rep["by_lang"].collect()} == want_rows


def test_lm_bucket_by_carries_group_without_pk_join(spark, tables):
    """round 10: lm_bucket(by=...) threads the group column through the
    scoring aggregate (lm_score carry=) — the plan's ONLY join is the
    broadcast vocabulary join; no corpus-sized pk re-join, no second
    read of the input."""
    from adampro_spark.pipeline.lm import fit_unigram_lm, lm_bucket

    docs = tables["documents"].select("doc_id", "source", "text")
    vocab, meta = fit_unigram_lm(docs, vocab_size=64)
    out = lm_bucket(docs, vocab, meta, by="source", method="ntile")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # every Join node is the vocabulary join on tok (it appears once per
    # union branch — ranked + NULL re-attach); none joins on the pk
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines and all("tok" in ln for ln in join_lines), plan
    assert not any("doc_id" in ln for ln in join_lines), plan
    # and the result still carries the group column
    assert {"doc_id", "source", "lm_logprob", "bucket"} == set(out.columns)


def test_fit_unigram_lm_by_matches_per_group_reference(spark):
    """round 10 (CCNet fidelity): the per-group fit must equal running
    fit_unigram_lm on each group's slice — same vocab, same logp, same
    OOV mass per group."""
    from adampro_spark.pipeline.lm import (
        fit_unigram_lm,
        fit_unigram_lm_by,
        lm_score,
        lm_score_by,
    )

    rows = [
        (1, "en", "the cat sat on the mat and the dog sat too"),
        (2, "en", "the dog ate the bone near the mat"),
        (3, "de", "der hund und die katze und der vogel"),
        (4, "de", "die katze sass auf der matte und der hund auch"),
        (5, "fr", "le chat et le chien et le even"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    vocab_by, metas = fit_unigram_lm_by(df, by="lang", vocab_size=4)
    assert set(metas) == {"en", "de", "fr"}

    for lang in metas:
        sl = df.filter(F.col("lang") == lang)
        v_ref, m_ref = fit_unigram_lm(sl, vocab_size=4)
        got = {
            (r["tok"], r["cnt"]): r["logp"]
            for r in vocab_by.filter(F.col("lang") == lang).collect()
        }
        want = {(r["tok"], r["cnt"]): r["logp"] for r in v_ref.collect()}
        assert set(got) == set(want), lang
        for k in want:
            assert got[k] == pytest.approx(want[k], rel=1e-12), (lang, k)
        for key in ("n_tokens", "vocab_size_eff"):
            assert metas[lang][key] == m_ref[key], (lang, key)
        assert metas[lang]["oov_logp"] == pytest.approx(
            m_ref["oov_logp"], rel=1e-12
        )

        # per-group scoring == scoring each slice with its own model
        got_s = {
            r["doc_id"]: r["lm_logprob"]
            for r in lm_score_by(sl, vocab_by, metas, by="lang").collect()
        }
        want_s = {
            r["doc_id"]: r["lm_logprob"]
            for r in lm_score(sl, v_ref, m_ref).collect()
        }
        assert got_s == pytest.approx(want_s, rel=1e-12), lang


def test_lm_bucket_by_per_language_terciles(spark, tables):
    """lm_bucket_by: per-group NTILE split against per-group models —
    balanced buckets within each group, monotone scores, auto routes
    past the gate like lm_bucket."""
    import adampro_spark.pipeline.lm as lm_mod
    from adampro_spark.pipeline.lm import fit_unigram_lm_by, lm_bucket_by

    docs = tables["documents"].select("doc_id", "source", "text")
    vocab_by, metas = fit_unigram_lm_by(docs, by="source", vocab_size=64)
    out = lm_bucket_by(docs, vocab_by, metas, by="source").cache()
    sizes = {}
    for r in out.filter(F.col("bucket").isNotNull()).groupBy(
        "source", "bucket"
    ).count().collect():
        sizes[(r["source"], r["bucket"])] = r["count"]
    for src in {s for s, _ in sizes}:
        hs = [sizes.get((src, b), 0) for b in ("head", "middle", "tail")]
        assert max(hs) - min(hs) <= 1, (src, hs)
    import collections
    per = collections.defaultdict(lambda: {"head": [], "tail": []})
    for r in out.filter(F.col("bucket").isin("head", "tail")).collect():
        per[r["source"]][r["bucket"]].append(r["lm_logprob"])
    for src, d in per.items():
        if d["head"] and d["tail"]:
            assert min(d["head"]) >= max(d["tail"]), src
    out.unpersist()

    # auto gate: monster group routes to quantile (no ntile window)
    import pytest as _pytest
    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(lm_mod, "LM_BUCKET_NTILE_MAX_GROUP_ROWS", 10)
        big = lm_bucket_by(docs, vocab_by, metas, by="source")
        assert "ntile(" not in big._jdf.queryExecution().optimizedPlan().toString()


def test_ccnet_per_language_lm_mode(spark, tables):
    """ccnet_pipeline(per_language_lm=True): fits per-language models on
    the survivors and buckets each language against its own model —
    equals the hand-rolled fit_by + bucket_by on the same survivors."""
    from adampro_spark.pipeline.ccnet import ccnet_pipeline
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.langid import fit_langid, trained_langid_col
    from adampro_spark.pipeline.lm import fit_unigram_lm_by, lm_bucket_by

    base = tables["documents"].select("doc_id", "text").limit(150)
    base = spark.createDataFrame(base.collect(), "doc_id long, text string")
    rep = {}
    out = ccnet_pipeline(
        base, per_language_lm=True, vocab_size=64, report_out=rep,
    ).collect()
    lmodel, lmeta = fit_langid()
    tagged = base.withColumn(
        "lang_cc", trained_langid_col(lmodel, lmeta, "text")
    ).filter(F.col("lang_cc") != "und")
    surv, _ = curate(
        tagged, langs=None, min_tokens=20, min_quality=0.3, dedup="exact"
    )
    vocab_by, metas = fit_unigram_lm_by(surv, by="lang_cc", vocab_size=64)
    want = lm_bucket_by(
        surv, vocab_by, metas, by="lang_cc", method="ntile"
    ).collect()
    key = lambda r: (r["doc_id"], r["lang_cc"], r["bucket"])  # noqa: E731
    assert sorted(map(key, out)) == sorted(map(key, want))
    assert len(out) == rep["n_output"]

    with pytest.raises(ValueError, match="vocab"):
        ccnet_pipeline(base)


def test_fit_by_salted_topv_exact_on_adversarial_ties(spark):
    """The two-stage salted top-V must be EXACT: on a corpus engineered
    so every count ties (the cut falls inside tie runs at both stages),
    the per-group vocabulary equals the single-slice reference fit for
    every group."""
    import random

    from adampro_spark.pipeline.lm import fit_unigram_lm, fit_unigram_lm_by

    rng = random.Random(11)
    rows = []
    i = 0
    for g in range(12):
        # 120 distinct tokens per group, counts drawn from {1,2,3} so
        # the top-16 boundary lands inside a tie run
        toks = []
        for t in range(120):
            toks += [f"g{g}w{t:03d}"] * rng.choice([1, 2, 3])
        rng.shuffle(toks)
        for chunk in range(0, len(toks), 40):
            rows.append((i, f"grp{g}", " ".join(toks[chunk:chunk + 40])))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    vocab_by, metas = fit_unigram_lm_by(df, by="grp", vocab_size=16)
    got = {}
    for r in vocab_by.collect():
        got.setdefault(r["grp"], set()).add((r["tok"], r["cnt"], r["logp"]))
    assert set(got) == {f"grp{g}" for g in range(12)}
    for g in range(12):
        sl = df.filter(F.col("grp") == f"grp{g}")
        v_ref, m_ref = fit_unigram_lm(sl, vocab_size=16)
        want = {(r["tok"], r["cnt"], r["logp"]) for r in v_ref.collect()}
        assert got[f"grp{g}"] == want, g
        assert metas[f"grp{g}"]["oov_logp"] == pytest.approx(
            m_ref["oov_logp"], rel=1e-12
        )


def test_ccnet_buckets_separate_clean_from_corrupted(spark, tables):
    """Semantic acceptance: per-language perplexity terciles must put
    typo-corrupted variants of real documents in WORSE buckets than the
    clean majority — the property the CCNet split exists for."""
    import random

    from adampro_spark.pipeline.ccnet import ccnet_pipeline

    rng = random.Random(23)

    def corrupt(t):
        toks = t.split()
        out = []
        for w in toks:
            if len(w) > 3 and rng.random() < 0.6:
                i = rng.randrange(1, len(w) - 1)
                w = w[:i] + "zq" + w[i + 1:]  # rare-gram typo
            out.append(w)
        return " ".join(out)

    base = [
        (r["doc_id"], r["text"])
        for r in tables["documents"].select("doc_id", "text").limit(120).collect()
    ]
    rows = base + [(100_000 + i, corrupt(t)) for i, (_d, t) in enumerate(base[:20])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ccnet_pipeline(
        df, per_language_lm=True, vocab_size=64,
        curate_kw=dict(langs=None, min_tokens=5, min_quality=0.0, dedup=None),
    )
    got = {r["doc_id"]: r["bucket"] for r in out.collect()}
    rank = {"head": 0, "middle": 1, "tail": 2}
    corrupted = [got[k] for k in got if k >= 100_000]
    assert corrupted, "corrupted docs vanished from the output"
    mean_bad = sum(rank[b] for b in corrupted) / len(corrupted)
    clean = [got[k] for k in got if k < 100_000]
    mean_clean = sum(rank[b] for b in clean) / len(clean)
    # corrupted docs skew toward tail: strictly worse mean bucket, and a
    # majority of them land outside head
    assert mean_bad > mean_clean + 0.5, (mean_bad, mean_clean)
    assert sum(1 for b in corrupted if b != "head") >= 0.7 * len(corrupted)


# ---------------------------------------------------------------------------
# Kneser-Ney smoothing (round 11)
# ---------------------------------------------------------------------------


def test_kn_matches_hand_computed_fixture(spark):
    """Every KN term pinned on a tiny corpus computed by hand via an
    independent Python evaluation of the published formula."""
    import math

    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm

    rows = [
        (1, "a b a b c"),
        (2, "a b a c"),
        (3, "b c b a"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    D = 0.5
    vocab, bigs, meta = fit_bigram_lm(
        df, vocab_size=10, bigram_size=100, smoothing="kn", discount=D
    )
    assert meta["smoothing"] == "kn"
    got = {
        r["doc_id"]: r["lm_logprob"]
        for r in bigram_lm_score(df, vocab, bigs, meta).collect()
    }
    # independent reference
    toks = {i: t.split() for i, t in rows}
    from collections import Counter

    uni = Counter()
    pairs = Counter()
    for t in toks.values():
        uni.update(t)
        pairs.update(zip(t, t[1:]))
    V = len(uni)
    denom = sum(uni.values()) + V + 1
    cont = Counter(c for _, c in pairs)
    ctx = Counter()
    for (p, _), n in pairs.items():
        ctx[p] += n
    cont_denom = len(pairs) + V + 1

    def p_kn(prev, w):
        pc = (cont.get(w, 0) + 1) / cont_denom
        if prev is None:
            return (uni.get(w, 0) + 1) / denom
        if not ctx.get(prev):
            return pc
        # bigram_size covers ALL pairs here, so t_sum/t_types == full
        t_sum = sum(n for (p, _), n in pairs.items() if p == prev)
        t_types = sum(1 for (p, _) in pairs if p == prev)
        g = 1.0 - (t_sum - D * t_types) / ctx[prev]
        return max(pairs.get((prev, w), 0) - D, 0) / ctx[prev] + g * pc

    for i, t in toks.items():
        want = sum(
            math.log10(p_kn(t[j - 1] if j else None, w))
            for j, w in enumerate(t)
        ) / len(t)
        assert abs(got[i] - want) < 1e-9, (i, got[i], want)


def test_kn_truncation_mass_routes_to_backoff(spark):
    """With a truncated bigram table, gamma absorbs the removed pairs'
    mass: probabilities over observed curs stay below 1 and every
    probability is positive."""
    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm

    rows = [(i, "x " + " ".join(f"w{j % 7}" for j in range(i, i + 12)))
            for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    vocab, bigs, meta = fit_bigram_lm(
        df, vocab_size=10, bigram_size=5, smoothing="kn"
    )
    assert meta["bigram_size_eff"] == 5  # truncation is live
    out = bigram_lm_score(df, vocab, bigs, meta).collect()
    assert all(r["lm_logprob"] is not None and r["lm_logprob"] < 0 for r in out)


def test_kn_score_col_matches_join_path(spark, tables):
    from adampro_spark.pipeline.lm import (
        bigram_lm_score,
        bigram_lm_score_col,
        fit_bigram_lm,
    )

    docs = tables["documents"].select("doc_id", "text")
    vocab, bigs, meta = fit_bigram_lm(
        docs, vocab_size=32, bigram_size=128, smoothing="kn"
    )
    join_path = {
        r["doc_id"]: r["lm_logprob"]
        for r in bigram_lm_score(docs, vocab, bigs, meta).collect()
    }
    col_path = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", bigram_lm_score_col(vocab, bigs, meta).alias("s")
        ).collect()
    }
    for k, v in join_path.items():
        if v is None:
            assert col_path[k] is None
        else:
            assert abs(v - col_path[k]) < 1e-9


def test_kn_validation_errors(spark, tables):
    import pytest as _pytest

    from adampro_spark.pipeline.lm import bigram_lm_score_col, fit_bigram_lm

    docs = tables["documents"].select("doc_id", "text")
    with _pytest.raises(ValueError, match="smoothing"):
        fit_bigram_lm(docs, smoothing="katz")
    with _pytest.raises(ValueError, match="discount"):
        fit_bigram_lm(docs, smoothing="kn", discount=1.5)
    vocab, bigs, meta = fit_bigram_lm(
        docs, vocab_size=16, bigram_size=32, smoothing="kn"
    )
    with _pytest.raises(ValueError, match="kn"):
        bigram_lm_score_col({"a": 1}, bigs, meta)


def test_stream_curate_kn_lm_matches_batch(spark, tables, tmp_path):
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm
    from adampro_spark.streaming.ingest import stream_curate

    docs = tables["documents"].select("doc_id", "text")
    vocab, bigrams, meta = fit_bigram_lm(
        docs, vocab_size=32, bigram_size=128, smoothing="kn"
    )
    med = bigram_lm_score(docs, vocab, bigrams, meta).approxQuantile(
        "lm_logprob", [0.5], 0.0
    )[0]
    kw = dict(langs=("en",), min_tokens=10, min_quality=0.2)
    batch_out, batch_rep = curate(
        docs, lm=(vocab, bigrams, meta, med), dedup=None, **kw
    )
    want = {r["doc_id"] for r in batch_out.select("doc_id").collect()}
    assert batch_rep["n_lm_fail"] > 0
    src = str(tmp_path / "kn_src")
    docs.repartition(3).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    gated = stream_curate(
        stream, lm=(vocab, bigrams, meta, med), dedup=None, **kw
    ).select("doc_id")
    q = (
        gated.writeStream.format("memory")
        .queryName("kn_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_kn"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"] for r in spark.sql("SELECT doc_id FROM kn_stream").collect()
    }
    assert got == want and got


def test_kn_truncated_vocab_oov_cur_floors(spark, tables):
    """Review r11 #1: with a TRUNCATING vocabulary, an OOV cur must floor
    at P_cont = 1/cont_denom (the vocab table is the model's only
    per-token artifact) — pinned against an independent reference that
    restricts continuation counts to the vocabulary."""
    import math
    import re
    from collections import Counter

    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm

    docs = tables["documents"].select("doc_id", "text")
    V, B, D = 8, 64, 0.75  # vocab far below the corpus's distinct tokens
    vocab, bigs, meta = fit_bigram_lm(
        docs, vocab_size=V, bigram_size=B, smoothing="kn", discount=D
    )
    got = {
        r["doc_id"]: r["lm_logprob"]
        for r in bigram_lm_score(docs, vocab, bigs, meta).collect()
    }
    ws = re.compile(r"\s+", re.ASCII)
    toks_by = {
        r["doc_id"]: [w for w in ws.split((r["text"] or "").lower()) if w]
        for r in docs.collect()
    }
    uni = Counter()
    pairs = Counter()
    for t in toks_by.values():
        uni.update(t)
        pairs.update(zip(t, t[1:]))
    assert len(uni) > V, "fixture must actually truncate"
    vs = dict(sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:V])
    denom = sum(uni.values()) + len(vs) + 1
    btab = dict(
        sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:B]
    )
    cont = Counter(c for (_, c) in pairs if c in vs)  # VOCAB-RESTRICTED
    ctx = Counter()
    for (p, _), cn in pairs.items():
        if p in vs:
            ctx[p] += cn
    tsum = Counter()
    ttyp = Counter()
    for (p, _), cn in btab.items():
        tsum[p] += cn
        ttyp[p] += 1
    cont_denom = len(pairs) + len(vs) + 1

    def score(toks):
        if not toks:
            return None
        s = 0.0
        for i, w in enumerate(toks):
            if i == 0:
                p = (vs.get(w, 0) + 1) / denom
            else:
                prev = toks[i - 1]
                pc = (cont.get(w, 0) + 1) / cont_denom
                if prev in vs and ctx.get(prev):
                    g = 1.0 - (tsum.get(prev, 0) - D * ttyp.get(prev, 0)) / ctx[prev]
                    p = max(btab.get((prev, w), 0) - D, 0) / ctx[prev] + g * pc
                else:
                    p = pc
            s += math.log10(p)
        return s / len(toks)

    for did, t in toks_by.items():
        want = score(t)
        if want is None:
            assert got[did] is None
        else:
            assert abs(got[did] - want) < 1e-9, (did, got[did], want)
