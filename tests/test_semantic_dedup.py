"""SemDeDup (dedup.semantic_dup_pairs / semantic_dedup): exact parity
with a pure-numpy within-cluster brute force, chunked-path equivalence,
guard behavior, and survivor semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from adampro_spark.pipeline.dedup import semantic_dedup, semantic_dup_pairs


def _corpus(spark, seed=7, n=120, dim=8):
    """Three well-separated direction groups + planted near-copies."""
    rng = np.random.RandomState(seed)
    anchors = np.eye(dim)[:3] * 10.0
    rows = []
    for i in range(n):
        a = anchors[i % 3]
        rows.append((i, (a + rng.standard_normal(dim)).tolist()))
    # planted near-copies of rows 0..9 (tiny noise, cosine ≈ 1)
    by_id = dict(rows)
    for i in range(10):
        v = np.asarray(by_id[i]) * 1.01 + rng.standard_normal(dim) * 1e-3
        rows.append((1000 + i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, dict(rows)


def _brute_pairs(vecs, centroids, threshold):
    ids = sorted(vecs)
    V = np.array([vecs[i] for i in ids], dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    assign = (V @ C.T).argmax(axis=1)
    out = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            if assign[x] != assign[y]:
                continue
            s = round(float(V[x] @ V[y]), 4)
            if s >= threshold:
                a, b = sorted((ids[x], ids[y]))
                out.add((a, b, s))
    return out


@pytest.fixture(scope="module")
def planted(spark):
    return _corpus(spark)


def test_pairs_match_brute_force_fixed_centroids(spark, planted):
    df, vecs = planted
    cent_df = df.filter(F.col("vec_id") % 17 == 0).orderBy("vec_id")
    cents = [vecs[r["vec_id"]] for r in cent_df.select("vec_id").collect()]
    got = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in semantic_dup_pairs(df, threshold=0.95, centroids=cent_df).collect()
    }
    want = _brute_pairs(vecs, cents, 0.95)
    assert got == want and len(want) >= 10  # every planted copy found


def test_chunked_path_equals_direct(spark, planted):
    df, _vecs = planted
    cent_df = df.filter(F.col("vec_id") % 17 == 0).orderBy("vec_id")
    direct = {
        tuple(r) for r in semantic_dup_pairs(
            df, threshold=0.95, centroids=cent_df
        ).collect()
    }
    # cap of 16 rows forces multi-chunk block pairs on ~43-row clusters
    chunked = {
        tuple(r) for r in semantic_dup_pairs(
            df, threshold=0.95, centroids=cent_df, max_cluster_rows=16
        ).collect()
    }
    assert chunked == direct


def test_fitted_centroids_find_planted_copies(spark, planted):
    df, _vecs = planted
    pairs = semantic_dup_pairs(df, threshold=0.99, n_clusters=6, sample_size=200)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # the ten planted copies are near-identical to their sources; k-means
    # on 3 separated direction groups cannot split a copy from its source
    assert {(i, 1000 + i) for i in range(10)} <= found


def test_null_and_zero_vectors_never_pair(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 1e-8, 0.0]),
        (3, None),
        (4, [0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = semantic_dup_pairs(df, threshold=0.9, n_clusters=2).collect()
    ids = {r["id_a"] for r in got} | {r["id_b"] for r in got}
    assert 3 not in ids and 4 not in ids
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}


def test_empty_corpus(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_dup_pairs(df).count() == 0


def test_semantic_dedup_survivors(spark, planted):
    df, _vecs = planted
    cent_df = df.filter(F.col("vec_id") % 17 == 0).orderBy("vec_id")
    out = semantic_dedup(df, threshold=0.99, centroids=cent_df)
    kept = {r["vec_id"] for r in out.select("vec_id").collect()}
    # min-pk survivor: sources (0..9) stay, planted copies (1000..1009) go
    assert {i for i in range(10)} <= kept
    assert kept.isdisjoint({1000 + i for i in range(10)})
    assert out.columns == df.columns


# ---------------------------------------------------------------------------
# cross-document line dedup (C4-style boilerplate removal)
# ---------------------------------------------------------------------------


def test_line_dedup_hand_computed(spark):
    from adampro_spark.pipeline.dedup import line_dedup

    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"alpha one\n{boiler}\nbeta two"),
        (2, f"{boiler}\ngamma three"),
        (3, f"delta four\n{boiler}"),
        (4, "no boilerplate here\njust text"),
        (5, f"{boiler}\n{boiler}\nkeep me"),  # twice in ONE doc
        (6, ""),
        (7, None),
        (8, "solo line\n\nafter blank"),  # empty line preserved
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(df, min_docs=3).collect()}

    assert out[1]["text"] == "alpha one\nbeta two"
    assert out[1]["n_lines_removed"] == 1
    assert out[2]["text"] == "gamma three"
    assert out[3]["text"] == "delta four"
    assert out[4]["text"] == rows[3][1] and out[4]["n_lines_removed"] == 0
    # both occurrences in doc 5 removed; hotness counted DISTINCT docs
    # (4 docs contain it, but doc 5 only counts once)
    assert out[5]["text"] == "keep me" and out[5]["n_lines_removed"] == 2
    assert out[6]["text"] == "" and out[6]["n_lines_removed"] == 0
    assert out[7]["text"] is None
    assert out[8]["text"] == rows[7][1]  # blank line survives
    assert set(out) == {1, 2, 3, 4, 5, 6, 7, 8}


def test_line_dedup_threshold_and_empty_lines(spark):
    from adampro_spark.pipeline.dedup import line_dedup

    rows = [
        (1, "shared pair\na"),
        (2, "shared pair\nb"),
        (3, "\n\nc"),  # empty lines everywhere: never boilerplate
        (4, "\n\nd"),
        (5, "\n\ne"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # min_docs=3: the 2-doc line survives; empty lines always survive
    out = {r["doc_id"]: r["text"] for r in line_dedup(df, min_docs=3).collect()}
    assert out == dict((i, t) for i, t in rows)
    # min_docs=2: the pair line goes
    out2 = {r["doc_id"]: r["text"] for r in line_dedup(df, min_docs=2).collect()}
    assert out2[1] == "a" and out2[2] == "b" and out2[3] == rows[2][1]


def test_curate_line_dedup_stage(spark):
    """curate(line_dedup_min_docs=...): boilerplate lines are stripped
    BEFORE the gates (token floors judge the cleaned text) and the
    report counts removed lines."""
    from adampro_spark.pipeline.curate import curate

    body = "the quick brown fox jumps over the lazy dog again and again today"
    boiler = "subscribe now for more content like this"
    rows = [(i, f"{body} number {i}\n{boiler}") for i in range(6)]
    # doc 6 is ONLY boilerplate + a couple words: once the line is
    # stripped it falls below the token floor
    rows.append((6, f"{boiler}\ntiny tail"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    timings = {}
    out, rep = curate(
        df, langs=None, min_tokens=8, min_quality=0.0,
        line_dedup_min_docs=3, dedup=None, stage_timings=timings,
    )
    assert rep["n_boiler_lines"] == 7
    assert "gates_sec" in timings  # line stage rides the gate aggregate
    kept = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(kept) == set(range(6))  # doc 6 gated out post-strip
    assert all(boiler not in t for t in kept.values())

    # without the stage, doc 6 passes the floor (boilerplate counts)
    out2, rep2 = curate(
        df, langs=None, min_tokens=8, min_quality=0.0, dedup=None
    )
    assert "n_boiler_lines" not in rep2
    assert {r["doc_id"] for r in out2.collect()} == set(range(7))


# ---------------------------------------------------------------------------
# exact substring (span) dedup
# ---------------------------------------------------------------------------


def test_span_dedup_hand_computed(spark):
    from adampro_spark.pipeline.dedup import span_dedup

    span = "one two three four five six"  # 6 shared tokens
    rows = [
        (1, f"alpha beta {span} gamma delta"),
        (2, f"start {span} end"),
        (3, "totally unrelated text with nothing shared at all"),
        (4, "short doc"),  # < n tokens: never cut
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(df, n=5, min_docs=2).collect()}

    # 6-token span, n=5 → window starts cover exactly the span tokens
    assert out[1]["text"] == "alpha beta gamma delta"
    assert out[1]["n_tokens_removed"] == 6
    assert out[2]["text"] == "start end"
    assert out[2]["n_tokens_removed"] == 6
    # untouched docs keep text BYTE-identical (no normalization)
    assert out[3]["text"] == rows[2][1] and out[3]["n_tokens_removed"] == 0
    assert out[4]["text"] == "short doc" and out[4]["n_tokens_removed"] == 0
    assert out[5]["text"] == "" and out[5]["n_tokens_removed"] == 0


def test_span_dedup_whole_doc_duplicate(spark):
    from adampro_spark.pipeline.dedup import span_dedup

    body = " ".join(f"tok{i}" for i in range(12))
    rows = [(1, body), (2, body), (3, "something else entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(df, n=5, min_docs=2).collect()}
    # byte-identical docs: every window shared → everything cut
    assert out[1]["text"] == "" and out[1]["n_tokens_removed"] == 12
    assert out[2]["text"] == "" and out[2]["n_tokens_removed"] == 12
    assert out[3]["text"] == rows[2][1]


def test_span_dedup_min_docs_and_validation(spark):
    from adampro_spark.pipeline.dedup import span_dedup

    span = "a b c d e"
    rows = [(1, f"x {span}"), (2, f"y {span}"), (3, f"z {span}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # min_docs=4 > occurrences: nothing cut
    out = {r["doc_id"]: r["n_tokens_removed"]
           for r in span_dedup(df, n=5, min_docs=4).collect()}
    assert out == {1: 0, 2: 0, 3: 0}
    with pytest.raises(ValueError):
        span_dedup(df, n=1)


# ---------------------------------------------------------------------------
# asymmetric dedup against a reference corpus
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ref_and_new(spark):
    ref = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every day"),
            (2, "pack my box with five dozen liquor jugs right now"),
            (3, "sphinx of black quartz judge my vow immediately please"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # exact copy of ref 1 (different whitespace/case)
            (101, "The  quick Brown fox jumps over the lazy dog every day"),
            # truncated near-copy of ref 2
            (102, "pack my box with five dozen liquor jugs right"),
            # genuinely new
            (103, "completely novel content about distributed query engines"),
            # duplicate WITHIN new only: must survive (asymmetric!)
            (104, "completely novel content about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    return ref, new


def test_dedup_against_exact(spark, ref_and_new):
    from adampro_spark.pipeline.dedup import dedup_against

    ref, new = ref_and_new
    out = dedup_against(new, ref, method="exact")
    kept = {r["doc_id"] for r in out.collect()}
    # only the normalized-exact copy drops; near-copy + within-new dups stay
    assert kept == {102, 103, 104}
    assert out.columns == new.columns
    m = dedup_against(new, ref, method="exact", return_matches=True).collect()
    assert {(r["new_pk"], r["ref_pk"]) for r in m} == {(101, 1)}


def test_dedup_against_minhash(spark, ref_and_new):
    from adampro_spark.pipeline.dedup import dedup_against

    ref, new = ref_and_new
    out = dedup_against(new, ref, method="minhash", threshold=0.5)
    kept = {r["doc_id"] for r in out.collect()}
    # exact copy AND truncated near-copy drop; within-new dup survives
    assert kept == {103, 104}
    m = dedup_against(
        new, ref, method="minhash", threshold=0.5, return_matches=True
    ).collect()
    got = {(r["new_pk"], r["ref_pk"]) for r in m}
    assert {(101, 1), (102, 2)} <= got
    assert all(npk in (101, 102) for npk, _ in got)

    # rerun stability: survivors against the same ref drop nothing
    again = dedup_against(out, ref, method="minhash", threshold=0.5)
    assert again.count() == out.count()


def test_dedup_against_unknown_method(spark, ref_and_new):
    from adampro_spark.pipeline.dedup import dedup_against

    ref, new = ref_and_new
    with pytest.raises(ValueError, match="unknown dedup_against method"):
        dedup_against(new, ref, method="fuzzy")


def test_span_dedup_preserves_case_of_survivors(spark):
    """The cut rebuilds from CASE-PRESERVED tokens: matching is
    case-insensitive, but surviving text must not be case-folded
    (review finding: an earlier form lowercased every cut document)."""
    from adampro_spark.pipeline.dedup import span_dedup

    span = "one two three four five six"
    rows = [
        (1, f"Alpha BETA {span.upper()} Gamma Delta"),
        (2, f"Start {span} End"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(df, n=5, min_docs=2).collect()}
    # uppercase span in doc 1 still matches (hashes are lowercased)...
    assert out[1]["n_tokens_removed"] == 6
    # ...and the survivors keep their original capitalization
    assert out[1]["text"] == "Alpha BETA Gamma Delta"
    assert out[2]["text"] == "Start End"


# ---------------------------------------------------------------------------
# asymmetric SEMANTIC dedup against a reference corpus
# ---------------------------------------------------------------------------


def test_semantic_against_matches_brute_force(spark, planted):
    from adampro_spark.pipeline.dedup import semantic_dedup_against

    df, vecs = planted
    ref = df.filter(F.col("vec_id") < 1000)   # originals
    new = df.filter(F.col("vec_id") >= 1000)  # planted near-copies
    cent_df = ref.filter(F.col("vec_id") % 17 == 0).orderBy("vec_id")
    cents = [vecs[r["vec_id"]] for r in cent_df.select("vec_id").collect()]

    got = {
        (r["new_pk"], r["ref_pk"], r["cos_sim"])
        for r in semantic_dedup_against(
            new, ref, threshold=0.99, centroids=cent_df, return_matches=True
        ).collect()
    }
    # brute force: assign both sides, cross pairs within cluster
    C = np.asarray(cents)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def assign(v):
        v = np.asarray(v)
        return int(np.argmax(C @ (v / np.linalg.norm(v))))

    want = set()
    for nid in range(1000, 1010):
        for rid in range(120):
            if assign(vecs[nid]) != assign(vecs[rid]):
                continue
            a = np.asarray(vecs[nid]); a = a / np.linalg.norm(a)
            b = np.asarray(vecs[rid]); b = b / np.linalg.norm(b)
            s = round(float(a @ b), 4)
            if s >= 0.99:
                want.add((nid, rid, s))
    assert got == want and len(want) >= 10

    # survivors: every near-copy drops, nothing else was in new
    surv = semantic_dedup_against(new, ref, threshold=0.99, centroids=cent_df)
    assert surv.count() == 0

    # within-new duplicates survive (asymmetric semantics)
    doubled = new.unionByName(new.withColumn("vec_id", F.col("vec_id") + 5000))
    clean_ref = ref.filter(F.col("vec_id") >= 60)  # drop the copied sources
    out = semantic_dedup_against(
        doubled, clean_ref, threshold=0.999999, centroids=cent_df
    )
    assert out.count() == doubled.count()


def test_semantic_against_chunked_equals_direct(spark, planted):
    from adampro_spark.pipeline.dedup import semantic_dedup_against

    df, _ = planted
    ref = df.filter(F.col("vec_id") < 1000)
    new = df.filter(F.col("vec_id") >= 1000)
    cent_df = ref.filter(F.col("vec_id") % 17 == 0).orderBy("vec_id")
    a = {
        tuple(r) for r in semantic_dedup_against(
            new, ref, threshold=0.95, centroids=cent_df, return_matches=True
        ).collect()
    }
    b = {
        tuple(r) for r in semantic_dedup_against(
            new, ref, threshold=0.95, centroids=cent_df,
            return_matches=True, max_cluster_rows=7,
        ).collect()
    }
    assert a == b and a


def test_dedup_against_simhash_reordered_copies(spark, tables):
    """method='simhash' drops new docs that are token-REORDERED copies
    of reference docs (minhash shingles would miss heavy reordering at
    high thresholds), keeps unrelated docs, and is pigeonhole-exact:
    matches equal the brute-force hamming pairs."""
    import numpy as np

    from adampro_spark.pipeline.dedup import dedup_against, simhash_expr

    spark.catalog.clearCache()
    rng = np.random.RandomState(31)
    vocab = [f"w{i}" for i in range(500)]
    ref_rows = [
        (i, " ".join(rng.choice(vocab, size=30))) for i in range(60)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    # new: 10 reordered copies of ref docs + 10 fresh docs
    reordered = []
    for i in range(10):
        toks = ref_rows[i][1].split()
        rng.shuffle(toks)
        reordered.append((10_000 + i, " ".join(toks)))
    fresh = [
        (20_000 + j, " ".join(rng.choice(vocab, size=30))) for j in range(10)
    ]
    new = spark.createDataFrame(reordered + fresh, "doc_id long, text string")

    m = dedup_against(
        new, ref, method="simhash", max_hamming=3, return_matches=True
    )
    got = {(r["new_pk"], r["ref_pk"], r["hamming"]) for r in m.collect()}
    # brute force: all cross pairs with hamming <= 3
    sims = {
        r["doc_id"]: r["s"]
        for r in new.unionByName(ref)
        .select("doc_id", simhash_expr("text").alias("s"))
        .collect()
    }
    want = {
        (n_, r_, bin(sims[n_] ^ sims[r_]).count("1"))
        for n_, _ in reordered + fresh
        for r_, _ in ref_rows
        if bin(sims[n_] ^ sims[r_]).count("1") <= 3
    }
    assert got == want
    # every reordered copy matches its source; survivors = non-matching new
    assert {(10_000 + i, i) for i in range(10)} <= {
        (a, b) for a, b, _ in got
    }
    surv = {
        r["doc_id"]
        for r in dedup_against(new, ref, method="simhash", max_hamming=3)
        .select("doc_id").collect()
    }
    matched_new = {a for a, _, _ in got}
    assert surv == {d for d, _ in reordered + fresh} - matched_new
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
