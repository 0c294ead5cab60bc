"""Round-8 scale-safety gates (verdict r7 #2-#4 + ADVICE):

* span_dedup / line_dedup size-gate their hot-set broadcast — past the
  gate the semi-join routes through a plain shuffle (no forced driver
  collect of a set that is billions of rows at crawl scale) with
  IDENTICAL output;
* tfidf_keywords computes df_t via aggregate+join (AQE-splittable)
  instead of a term-partitioned window (a stopword's window partition
  serializes through one task at corpus scale);
* dedup_against hash-thins OVERSIZED reference band buckets before the
  row_number cap (bounded task input) and keys its exact anti-join on a
  composite (h1, h2, token-count) so a single ~2^30 hash collision can
  no longer silently drop a unique new document;
* curate/stream_curate refuse input columns that collide with their
  reserved internal names instead of silently clobbering them.
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

from adampro_spark.pipeline.dedup import (
    dedup_against,
    line_dedup,
    span_dedup,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df, cols=("doc_id", "text")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def boiler_corpus(spark):
    """40 docs sharing a boilerplate line + 5-gram, 60 unique docs."""
    rng = np.random.RandomState(11)
    vocab = [f"w{i}" for i in range(500)]
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (i, " ".join(rng.choice(vocab, size=12)) + "\n" + shared)
        for i in range(40)
    ]
    rows += [
        (100 + j, " ".join(rng.choice(vocab, size=18)))
        for j in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_gated_semi_join_routes_by_hot_size(spark, boiler_corpus):
    """The routing primitive itself: under the row gate the semi-join
    plans a forced BroadcastExchange; past it, a plain shuffle join
    (auto-broadcast disabled so the assert is exact)."""
    from adampro_spark.pipeline.dedup import _gated_semi_join

    big = boiler_corpus.select(F.col("doc_id").alias("k"))
    hot = boiler_corpus.select(F.col("doc_id").alias("k")).filter(
        F.col("k") < 20
    ).distinct()
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bc = _gated_semi_join(big, hot, "k", max_broadcast_rows=10**6)
        sh = _gated_semi_join(big, hot, "k", max_broadcast_rows=0)
        assert "BroadcastExchange" in _plan(bc)
        assert "BroadcastExchange" not in _plan(sh)
        assert sorted(r["k"] for r in bc.collect()) == sorted(
            r["k"] for r in sh.collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


@pytest.mark.parametrize("op", [span_dedup, line_dedup])
def test_hot_set_gate_identical_output_on_both_routes(
    spark, boiler_corpus, op
):
    """max_broadcast_rows=0 (adversarial: every hot set 'too big')
    routes through the shuffle path and still produces byte-identical
    output.  (The per-route plan shape is asserted on the routing
    primitive above — the operators eagerly checkpoint their per-doc
    output, which truncates the externally visible plan.)"""
    kw = {"n": 5, "min_docs": 2} if op is span_dedup else {"min_docs": 2}
    bc = op(boiler_corpus, **kw)
    sh = op(boiler_corpus, max_broadcast_rows=0, **kw)
    assert _rows(bc) == _rows(sh)
    # the pass actually did something on this corpus
    cut_col = "n_tokens_removed" if op is span_dedup else "n_lines_removed"
    assert sh.agg(F.sum(cut_col)).collect()[0][0] > 0


def test_tfidf_df_t_is_not_a_term_window(spark, boiler_corpus):
    """df_t must come from an aggregate + join (AQE-splittable), not a
    window partitioned by term: the only window left in the plan is the
    per-document top-k."""
    from adampro_spark.pipeline.text import tfidf_keywords

    out = tfidf_keywords(boiler_corpus, top_k=3)
    plan = _plan(out)
    assert "windowspecdefinition(term" not in plan
    assert "windowspecdefinition(doc_id" in plan


def test_tfidf_hot_term_matches_bruteforce(spark):
    """A 50%-hot term (planted stopword) still scores exactly: compare
    against a python brute-force tf-idf on a small corpus."""
    import math
    from collections import Counter

    from adampro_spark.pipeline.text import tfidf_keywords

    rng = np.random.RandomState(7)
    vocab = [f"t{i}" for i in range(40)]
    texts = {}
    for i in range(30):
        toks = list(rng.choice(vocab, size=10))
        if i % 2 == 0:
            toks += ["the"] * 5  # the hot term, in half the docs
        texts[i] = toks
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in texts.items()],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tfidf"])
        for r in tfidf_keywords(df, top_k=2).collect()
    }
    n = len(texts)
    dft = Counter()
    for toks in texts.values():
        dft.update(set(toks))
    for i, toks in texts.items():
        tf = Counter(toks)
        scored = sorted(
            ((t, c * math.log(n / dft[t])) for t, c in tf.items()),
            key=lambda kv: (-kv[1], kv[0]),
        )
        for rank, (term, s) in enumerate(scored[:2], start=1):
            gt, gs = got[(i, rank)]
            assert gt == term and gs == pytest.approx(round(s, 4), abs=1e-4)


def test_dedup_against_hot_ref_bucket_is_thinned_but_caught(spark):
    """600 identical reference docs land in ONE band bucket; with
    max_bucket_size=64 every new boilerplate doc must still match (the
    retained members are its duplicates) with at most ~cap matches, and
    unique new docs must survive."""
    rng = np.random.RandomState(13)
    vocab = [f"w{i}" for i in range(400)]
    boiler = "the same boilerplate text repeated everywhere in the corpus"
    ref = spark.createDataFrame(
        [(i, boiler) for i in range(600)]
        + [(1000 + j, " ".join(rng.choice(vocab, size=25))) for j in range(50)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(5000 + i, boiler) for i in range(5)]
        + [(6000 + j, " ".join(rng.choice(vocab, size=25))) for j in range(5)],
        "doc_id long, text string",
    )
    m = dedup_against(
        new, ref, threshold=0.9, max_bucket_size=64, return_matches=True
    )
    per_new = {
        r["new_pk"]: r["cnt"]
        for r in m.groupBy("new_pk").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for i in range(5):
        assert 1 <= per_new[5000 + i] <= 64, per_new
    surv = dedup_against(new, ref, threshold=0.9, max_bucket_size=64)
    kept = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert set(range(5000, 5005)).isdisjoint(kept)
    assert {6000 + j for j in range(5)} <= kept


def test_dedup_against_small_buckets_untouched_by_precap(spark, tables):
    """Where no bucket exceeds the cap the two-stage thinning must be a
    no-op: match pairs with a huge cap equal match pairs with the
    default cap on a normal corpus."""
    docs = tables["documents"].select("doc_id", "text").limit(120)
    new = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    a = dedup_against(new, docs, threshold=0.7, return_matches=True)
    b = dedup_against(
        new, docs, threshold=0.7, max_bucket_size=10**9, return_matches=True
    )
    key = lambda r: (r["new_pk"], r["ref_pk"], r["jaccard"])  # noqa: E731
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def _poly31(s: str, m: int = 1_000_000_007, b: int = 31) -> int:
    h = 0
    for c in s:
        h = (h * b + ord(c)) % m
    return h


def test_dedup_against_exact_survives_h1_collision(spark):
    """Craft two DIFFERENT texts with the SAME 31-poly/1e9+7 hash
    (birthday search) — the single-hash key of ADVICE r7 silently
    dropped the unique doc; the composite key must keep it, while a
    true duplicate still drops."""
    rng = np.random.RandomState(17)
    seen: dict[int, str] = {}
    pair = None
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while pair is None:
        s = "".join(rng.choice(alphabet, size=8))
        h = _poly31(s)
        if h in seen and seen[h] != s:
            pair = (seen[h], s)
        seen[h] = s
    a, b = pair
    assert a != b and _poly31(a) == _poly31(b)
    ref = spark.createDataFrame([(1, a), (2, "unrelated text")],
                                "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, b), (11, a), (12, "fresh document")],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in dedup_against(new, ref, method="exact").select("doc_id").collect()
    }
    assert kept == {10, 12}  # collision text SURVIVES, true dup drops
    m = dedup_against(new, ref, method="exact", return_matches=True).collect()
    assert {(r["new_pk"], r["ref_pk"]) for r in m} == {(11, 1)}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_materialize_releases_signature_cache(spark, tables):
    """minhash_dup_pairs returns its pair set checkpointed and leaves NO
    persisted plan behind (the shingle/signature cache is released), with
    the same pairs as the lazy query run inside an open scope."""
    from adampro_spark.caching import CacheScope
    from adampro_spark.pipeline.dedup import _minhash_pairs, minhash_dup_pairs

    spark.catalog.clearCache()
    docs = tables["documents"].select("doc_id", "text").limit(80)
    with CacheScope() as scope:
        lazy = set(map(tuple, _minhash_pairs(
            scope, docs, "text", "doc_id", 0.8, 8, 32, 4, 42, 1024,
        ).collect()))
    assert _cache_empty(spark)
    got = set(map(tuple, minhash_dup_pairs(docs, threshold=0.8).collect()))
    assert got == lazy
    assert _cache_empty(spark)


def test_embedding_materialize_releases_vector_cache(spark, tables):
    """embedding_dup_pairs leaves NO persisted plan behind (the vector /
    band caches are released) and returns the same pairs as the lazy
    query run inside an open scope."""
    from adampro_spark.caching import CacheScope
    from adampro_spark.pipeline.dedup import _embedding_pairs, embedding_dup_pairs

    spark.catalog.clearCache()
    emb = tables["embeddings"].select("vec_id", "embedding").limit(120)
    with CacheScope() as scope:
        lazy = {
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in _embedding_pairs(
                scope, emb, "embedding", "vec_id", 0.9, None, None, 42, None, 1024,
            ).collect()
        }
    assert _cache_empty(spark)
    got = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_dup_pairs(emb, threshold=0.9).collect()
    }
    assert got == lazy
    assert _cache_empty(spark)


def test_simhash_materialize_releases_fingerprint_cache(spark, tables):
    """simhash_pairs leaves NO persisted plan behind (the fingerprint
    cache is released) and returns the same pairs as the lazy query run
    inside an open scope."""
    from adampro_spark.caching import CacheScope
    from adampro_spark.pipeline.dedup import (
        _fingerprint_pairs,
        simhash_expr,
        simhash_pairs,
    )

    spark.catalog.clearCache()
    docs = tables["documents"].select("doc_id", "text").limit(120)
    with CacheScope() as scope:
        lazy = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in _fingerprint_pairs(
                scope, docs.withColumn("_ap_fp", simhash_expr("text")), "_ap_fp",
                "doc_id", 8, 30, 1024, (),
            ).collect()
        }
    assert _cache_empty(spark)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, max_hamming=8).collect()
    }
    assert got == lazy
    assert _cache_empty(spark)


def test_curate_rejects_reserved_columns(spark, tables):
    from adampro_spark.pipeline.curate import curate

    docs = tables["documents"].select(
        "doc_id", "text", F.lit(1).alias("_ap_gtoks")
    )
    with pytest.raises(ValueError, match="reserved"):
        curate(docs, dedup=None)


def test_stream_curate_rejects_reserved_columns(spark, tables):
    from adampro_spark.streaming.ingest import stream_curate

    docs = tables["documents"].select(
        "doc_id", "text", F.lit(True).alias("_rep_ok")
    )
    with pytest.raises(ValueError, match="reserved"):
        stream_curate(docs, dedup=None)


def test_lm_tuple_arity_validated(spark, tables):
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.streaming.ingest import stream_curate

    docs = tables["documents"].select("doc_id", "text")
    with pytest.raises(ValueError, match="lm must be"):
        curate(docs, lm=({}, {}), dedup=None)
    with pytest.raises(ValueError, match="lm must be"):
        stream_curate(docs, lm=({}, {}, {}, {}, 0.0), dedup=None)


def test_simhash_block_keys_pigeonhole_cover(spark):
    """Every pair within max_hamming must share at least one table's
    full key — driver-side check of _simhash_block_keys against random
    fingerprints flipped by exactly k bits, for k = 0..4."""
    from adampro_spark.pipeline.dedup import SIMHASH_BITS, _simhash_block_keys

    rng = np.random.RandomState(7)
    for k in range(5):
        key_arr, n_tables, key_bits = _simhash_block_keys(SIMHASH_BITS, k)
        assert key_bits >= SIMHASH_BITS // 3  # wide keys, not 6-bit chunks
        base = [int(rng.randint(0, 1 << SIMHASH_BITS)) for _ in range(20)]
        rows = []
        for i, s in enumerate(base):
            flipped = s
            for b in rng.choice(SIMHASH_BITS, size=k, replace=False):
                flipped ^= 1 << int(b)
            rows.append((2 * i, s))
            rows.append((2 * i + 1, flipped))
        df = spark.createDataFrame(rows, "id long, _s long")
        keyed = df.select("id", F.posexplode(key_arr).alias("_ci", "_cv"))
        got = {
            (r["a"], r["b"])
            for r in keyed.alias("x")
            .join(
                keyed.alias("y"),
                (F.col("x._ci") == F.col("y._ci"))
                & (F.col("x._cv") == F.col("y._cv"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            .distinct()
            .collect()
        }
        for i in range(len(base)):
            assert (2 * i, 2 * i + 1) in got, (k, i)


def test_dedup_against_simhash_survives_large_reference(spark):
    """ADVICE r8: with the old 6-bit single-chunk keys, 320 buckets held
    the WHOLE reference, so a fixed cap thinned every bucket past ~320·cap
    docs and silently dropped true matches.  Multi-block keys plus the
    expected-size-scaled cap must keep a planted exact near-dup even with
    a pathologically small max_bucket_size over a reference much larger
    than the old bucket space."""
    import string

    rng = np.random.RandomState(29)
    letters = np.array(list(string.ascii_lowercase))
    # random-letter vocab: structured tokens ("tok123") produce clustered
    # poly-hash bit patterns and hence clustered fingerprints; random
    # words give the near-uniform spread real text shows
    vocab = ["".join(rng.choice(letters, size=8)) for _ in range(2000)]
    ref_rows = [
        (i, " ".join(rng.choice(vocab, size=30))) for i in range(800)
    ]
    target_text = ref_rows[123][1]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    new = spark.createDataFrame(
        [(10_000, target_text),
         (10_001, " ".join(rng.choice(vocab, size=30)))],
        "doc_id long, text string",
    )
    # max_bucket_size=8 < the OLD regime's ~12.5 expected rows per 6-bit
    # chunk bucket (800·5/320) — the old scheme thinned every bucket here
    m = dedup_against(
        new, ref, method="simhash", max_hamming=3,
        max_bucket_size=8, return_matches=True,
    )
    hits = {(r["new_pk"], r["ref_pk"]) for r in m.collect()}
    assert (10_000, 123) in hits, hits
    # exactness under the tiny cap: the banded hit set must equal the
    # driver-side brute force (the old single-chunk scheme MISSED pairs
    # here because every 6-bit bucket exceeded the cap and was thinned)
    from adampro_spark.pipeline.dedup import simhash_expr

    rsim = {r["doc_id"]: r["s"]
            for r in ref.select("doc_id", simhash_expr("text").alias("s")).collect()}
    nsim = {r["doc_id"]: r["s"]
            for r in new.select("doc_id", simhash_expr("text").alias("s")).collect()}
    brute = {
        (n_id, r_id)
        for n_id, ns in nsim.items()
        for r_id, rs in rsim.items()
        if bin(ns ^ rs).count("1") <= 3
    }
    assert hits == brute
    surv = dedup_against(
        new, ref, method="simhash", max_hamming=3, max_bucket_size=8
    )
    kept = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert kept == {n for n in nsim if not any(b[0] == n for b in brute)}
    assert 10_000 not in kept


def test_gated_semi_join_pins_slim_hot_set_and_byte_budget(
    spark, boiler_corpus, monkeypatch
):
    """verdict r8 #6: the broadcast gate's byte math only holds for a
    bare single-column key — a wider hot frame must be refused, and the
    byte budget must cap the row gate (a tiny budget forces the shuffle
    route even when the row gate would allow broadcasting)."""
    import adampro_spark.pipeline.dedup as dmod
    from adampro_spark.pipeline.dedup import _gated_semi_join

    big = boiler_corpus.select(F.col("doc_id").alias("k"))
    hot = big.filter(F.col("k") < 20).distinct()
    wide = boiler_corpus.select(F.col("doc_id").alias("k"), "text")
    with pytest.raises(ValueError, match="single-column"):
        _gated_semi_join(big, wide, "k", max_broadcast_rows=10**6)
    with pytest.raises(ValueError, match="single-column"):
        _gated_semi_join(big, hot, "doc_id", max_broadcast_rows=10**6)

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        monkeypatch.setattr(dmod, "BROADCAST_HOT_BYTE_BUDGET", 0)
        sh = _gated_semi_join(big, hot, "k", max_broadcast_rows=10**6)
        assert "BroadcastExchange" not in _plan(sh)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
