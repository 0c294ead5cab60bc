"""Driver-contract entries for the LLM-pipeline operators.

Every operator in ``adampro_spark.pipeline`` registers a (Spark callable,
DuckDB SQL) pair here; ``oracle_suite`` pulls these into the shared
QUERIES/ORACLES registries.  The SQL mirrors are generated from the same
constants (hash coefficients, stopword lists, thresholds) so both engines
compute identical arithmetic: 31-polynomial hashing over BIGINT,
left-fold == list_reduce, 4-decimal rounding on every float column.

Near-dup inputs: the synthetic corpus has no natural duplicates (verified
at sf0.01), so dedup queries derive a corpus with PLANTED duplicates from
the same tables — truncated copies (MinHash), exact copies (exact /
SimHash), scaled copies (embedding cosine) — with the identical derivation
in the SQL mirror.  Deterministic, layout-independent, non-empty results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adampro_spark.operators.scan import DISTANCE_COL
from adampro_spark.pipeline.text import (
    HASH_P,
    HEURISTIC_LANGID_LANGS,
    QUALITY_STOPWORDS,
    STOPWORDS,
    fingerprint_expr,
    langid_expr,
    ngrams_expr,
    text_stats,
)
from adampro_spark.pipeline.dedup import (
    SIMHASH_BITS,
    embedding_dup_pairs,
    exact_dedup,
    minhash_coeffs,
    minhash_dup_pairs,
    simhash_expr,
    simhash_pairs,
)
from adampro_spark.pipeline.simjoin import ivf_knn_join, knn_join

# ---------------------------------------------------------------------------
# SQL fragment generators (the DuckDB mirrors of text.py's expressions)
# ---------------------------------------------------------------------------

# the token-split class is Java's \s WRITTEN OUT — RE2's \s lacks \x0B,
# so a bare '\s+' here would tokenize 'foo\x0bbar' differently from the
# Spark side (review r10)
_TOKS = "list_filter(string_split_regex(lower({t}), '[ \\t\\n\\x0B\\f\\r]+'), t -> length(t) > 0)"
_CODES = "list_transform(string_split({t}, ''), c -> ascii(c)::BIGINT)"


def _fold(arr: str, init: str = "CAST(0 AS BIGINT)", m: int = 31) -> str:
    """list_reduce left-fold (h*31 + x) % P with initial 0 — identical to
    Spark's F.aggregate fold in text.poly_hash."""
    return (
        f"list_reduce(list_prepend({init}, {arr}), "
        f"(a, b) -> (a * {m} + b) % {HASH_P})"
    )


def _sql_poly_hash(text_expr: str) -> str:
    return _fold(_CODES.format(t=text_expr))


def _sql_norm_text(t: str) -> str:
    # concat_ws(' ', tokens): whitespace-normalized lowercase text
    return f"array_to_string({_TOKS.format(t=t)}, ' ')"


def _sql_shingles(text_expr: str, n: int) -> str:
    """Hashes of all char n-grams: mirror of text.shingle_hashes."""
    codes = _CODES.format(t=text_expr)
    return (
        f"list_transform(generate_series(1, greatest(length({text_expr}) - {n - 1}, 1)), "
        f"i -> {_fold(f'list_slice({codes}, i, i + {n - 1})')})"
    )


def _round_sql(expr: str) -> str:
    return f"round({expr}, 4)"


# ---------------------------------------------------------------------------
# registration plumbing (oracle_suite imports REGISTRY at the end)
# ---------------------------------------------------------------------------

QUERIES: dict = {}
ORACLES: dict = {}
# bench-only callables; oracle_suite merges this into its BENCH_ONLY at
# the END of its own module body (importing oracle_suite from HERE is an
# import-order trap: a consumer importing oracle_pipeline first would
# trigger oracle_suite's end-of-module merge against this module's
# PARTIALLY-initialized registries, silently dropping every row
# registered below the import site — found by review, verified 44 vs 50)
BENCH_ONLY: dict = {}


def _union_all(parts):
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def _register(name, fn, sql):
    QUERIES[name] = fn
    if sql is not None:
        ORACLES[name] = sql


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    import os

    return spark.read.parquet(os.path.join(sf, "documents.parquet"))


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    import os

    return spark.read.parquet(os.path.join(sf, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

# grams of n tokens joined by ' ' (empty when the doc is shorter than n)
def _sql_word_grams(toks: str, n: int) -> str:
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def _sql_topgram_cte(name: str, src: str) -> str:
    return f"""
    {name} AS (
      SELECT doc_id, gram, cnt FROM (
        SELECT doc_id, gram, count(*) AS cnt,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn
        FROM (SELECT doc_id, unnest({src}) AS gram FROM base)
        GROUP BY doc_id, gram
      ) WHERE rn = 1
    )"""


def _sql_dup_char_frac(arr: str) -> str:
    # char mass of entries occurring >1x / total char mass of the list
    return (
        f"CASE WHEN coalesce(list_sum(list_transform({arr}, x -> length(x))), 0) > 0 "
        f"THEN coalesce(list_sum(list_transform({arr}, ln -> "
        f"CASE WHEN len(list_filter({arr}, x -> x = ln)) > 1 THEN length(ln) ELSE 0 END)), 0) "
        f"/ list_sum(list_transform({arr}, x -> length(x))) ELSE 0.0 END"
    )


def _sql_topgram_frac(alias: str) -> str:
    return (
        f"CASE WHEN length(b.text) > 0 AND {alias}.cnt IS NOT NULL "
        f"THEN least({alias}.cnt * length({alias}.gram) / length(b.text), 1.0) "
        f"ELSE 0.0 END"
    )


_REP_NS = (5, 6, 7, 8, 9, 10)

_register(
    "text_stats",
    # repetition="full": the COMPLETE 13-signal Gopher A1.1 repetition
    # table rides the same one-pass projection (round 8) — line AND
    # paragraph dup metrics + top-2/3/4-gram coverage via per-doc
    # windows, and the six dup-ngram CHAR-coverage signals mirrored
    # relationally (positioned grams → per-doc duplicated starts →
    # DISTINCT covered positions → token-length sum), exactly the
    # interval-union the Spark fold computes
    lambda spark, sf: text_stats(_docs(spark, sf), repetition="full"),
    f"""
    WITH base AS (
      SELECT doc_id, text, {_TOKS.format(t='text')} AS toks,
             list_filter(string_split(text, chr(10)), l -> length(l) > 0) AS ls,
             list_filter(string_split(text, chr(10) || chr(10)), p -> length(p) > 0) AS ps,
             list_transform(
               generate_series(1, len({_TOKS.format(t='text')}) - 1),
               i -> array_to_string(list_slice({_TOKS.format(t='text')}, i, i + 1), ' ')) AS g2,
             {_sql_word_grams(_TOKS.format(t='text'), 3)} AS g3,
             {_sql_word_grams(_TOKS.format(t='text'), 4)} AS g4,
             list_transform(
               generate_series(1, len({_TOKS.format(t='text')}) - 4),
               i -> array_to_string(list_slice({_TOKS.format(t='text')}, i, i + 4), ' ')) AS g5
      FROM documents
    ),
    {_sql_topgram_cte('top2', 'g2')},
    {_sql_topgram_cte('top3', 'g3')},
    {_sql_topgram_cte('top4', 'g4')},
    tl AS (
      SELECT doc_id, list_transform(toks, t2 -> length(t2)::BIGINT) AS tl,
             coalesce(list_sum(list_transform(toks, t2 -> length(t2)::BIGINT)), 0) AS tc,
             list_transform(toks, t2 -> {_sql_poly_hash('t2')}) AS th
      FROM base
    ),
    ns AS (SELECT unnest([{', '.join(str(n) for n in _REP_NS)}]) AS n),
    pgall AS (
      -- grams matched by the SAME 31-poly fold over token hashes the
      -- Spark side uses (span_dedup recipe) — parity incl. collisions
      SELECT doc_id, n, unnest(gn) AS g, unnest(generate_series(1, len(gn))) AS s
      FROM (
        SELECT t.doc_id, ns.n,
          CASE WHEN len(t.th) >= ns.n
            THEN list_transform(generate_series(1, len(t.th) - ns.n + 1),
                   i -> {_fold('list_slice(t.th, i, i + ns.n - 1)')})
            ELSE CAST([] AS BIGINT[]) END AS gn
        FROM tl t CROSS JOIN ns
      )
    ),
    dsall AS (
      SELECT doc_id, n, s FROM (
        SELECT doc_id, n, s, count(*) OVER (PARTITION BY doc_id, n, g) AS c
        FROM pgall
      ) WHERE c >= 2
    ),
    covp AS (
      SELECT DISTINCT d.doc_id, d.n, d.s + kk.k AS p
      FROM dsall d
      CROSS JOIN (SELECT unnest(generate_series(0, {max(_REP_NS) - 1})) AS k) kk
      WHERE kk.k < d.n
    ),
    coval AS (
      SELECT c.doc_id, c.n, sum(t.tl[c.p]) AS cov
      FROM covp c JOIN tl t USING (doc_id)
      GROUP BY c.doc_id, c.n
    ),
    covpiv AS (
      SELECT doc_id,
        {', '.join(f'max(CASE WHEN n = {n} THEN cov END) AS c{n}' for n in _REP_NS)}
      FROM coval GROUP BY doc_id
    )
    SELECT b.doc_id,
      length(b.text)::BIGINT AS n_chars_obs,
      len(b.toks)::BIGINT AS n_tokens,
      len(regexp_extract_all(b.text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]'))::BIGINT AS n_bpe_tokens,
      {_round_sql("CASE WHEN len(b.toks) > 0 THEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(b.toks, t -> length(t)::BIGINT)), (a, b2) -> a + b2) / len(b.toks) ELSE 0.0 END")} AS avg_token_len,
      {_round_sql("CASE WHEN length(b.text) > 0 THEN length(regexp_replace(b.text, '[^a-zA-Z0-9 ]', '', 'g')) / length(b.text) ELSE 0.0 END")} AS alnum_ratio,
      {_round_sql(f"CASE WHEN len(b.toks) > 0 THEN len(list_filter(b.toks, t -> list_contains({list(QUALITY_STOPWORDS)}, t))) / len(b.toks) ELSE 0.0 END")} AS stopword_ratio,
      {_round_sql("(CASE WHEN length(b.text) > 0 THEN length(regexp_replace(b.text, '[^a-zA-Z0-9 ]', '', 'g')) / length(b.text) ELSE 0.0 END) * least(len(b.toks) / 20.0, 1.0)")} AS quality,
      {_round_sql("CASE WHEN len(b.ls) > 0 THEN 1.0 - len(list_distinct(b.ls)) / len(b.ls) ELSE 0.0 END")} AS dup_line_frac,
      {_round_sql(_sql_dup_char_frac('b.ls'))} AS dup_line_char_frac,
      {_round_sql(_sql_topgram_frac('t2'))} AS top_2gram_char_frac,
      {_round_sql("CASE WHEN len(b.g5) > 0 THEN 1.0 - len(list_distinct(b.g5)) / len(b.g5) ELSE 0.0 END")} AS dup_5gram_frac,
      {_round_sql("CASE WHEN len(b.ps) > 0 THEN 1.0 - len(list_distinct(b.ps)) / len(b.ps) ELSE 0.0 END")} AS dup_para_frac,
      {_round_sql(_sql_dup_char_frac('b.ps'))} AS dup_para_char_frac,
      {_round_sql(_sql_topgram_frac('t3'))} AS top_3gram_char_frac,
      {_round_sql(_sql_topgram_frac('t4'))} AS top_4gram_char_frac,
      {', '.join(_round_sql(f"CASE WHEN t.tc > 0 THEN coalesce(cp.c{n}, 0) / t.tc ELSE 0.0 END") + f" AS dup_{n}gram_char_frac" for n in _REP_NS)}
    FROM base b
    LEFT JOIN top2 t2 USING (doc_id)
    LEFT JOIN top3 t3 USING (doc_id)
    LEFT JOIN top4 t4 USING (doc_id)
    JOIN tl t USING (doc_id)
    LEFT JOIN covpiv cp USING (doc_id)
    """,
)

# bench continuity: the round-7 4-signal form keeps its timings
# comparable (BENCH_ONLY wins the registry merge in bench.py)
BENCH_ONLY["text_stats"] = lambda spark, sf: text_stats(
    _docs(spark, sf), repetition=True
)
# and the full 13-signal pass gets its own bench row
BENCH_ONLY["text_stats_full"] = lambda spark, sf: text_stats(
    _docs(spark, sf), repetition="full"
)


def _langid_sql() -> str:
    structs = ", ".join(
        f"{{'hits': len(list_filter(toks, t -> list_contains({list(STOPWORDS[lang])}, t))), 'lang': '{lang}'}}"
        for lang in sorted(HEURISTIC_LANGID_LANGS)
    )
    return f"""
    SELECT doc_id,
      CASE WHEN best.hits <= 0 THEN 'und' ELSE best.lang END AS lang_pred
    FROM (
      SELECT doc_id, list_aggregate([{structs}], 'max') AS best
      FROM (SELECT doc_id, {_TOKS.format(t='text')} AS toks FROM documents)
    )
    """


# Round-8 window re-fold (round-7 verdict #1): language-ID, document
# fingerprinting and corpus n-gram counting merge into ONE tagged-union
# driver row over a shared (part, k, v) schema — langid contributes
# every (doc_id|lang_pred), fingerprint every (doc_id, fp), ngrams the
# full top-50 (bigram, count) list; a defect in any of the three flips
# the fold red.  Individual callables stay in BENCH_ONLY.


def _langid_row(spark, sf):
    return _docs(spark, sf).select(
        "doc_id", langid_expr("text").alias("lang_pred")
    )


def _fingerprint_row(spark, sf):
    return _docs(spark, sf).select(
        "doc_id", fingerprint_expr("text").alias("fp")
    )


def _ngram_counts_row(spark, sf):
    # top word-bigrams: explode → hash-groupBy (map-side partial agg) → top-50
    return (
        _docs(spark, sf)
        .select(F.explode(ngrams_expr("text", 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(50)
    )


def _langid_nb_row(spark, sf):
    # round 9 (verdict r8 #3): the TRAINED char-n-gram Naive-Bayes
    # langid (pipeline/langid.py) — prediction + rounded mean log-prob
    # per doc; whitespace-only docs score 'und' and are excluded so the
    # SQL mirror (which recomputes fit AND scoring from the embedded
    # seed corpus) compares content rows only
    from adampro_spark.pipeline.dedup import _spread
    from adampro_spark.pipeline.langid import fit_langid, langid_scores_col

    model, meta = fit_langid()
    # _spread: the Arrow UDF inherits the scan's parallelism, and a
    # single-row-group parquet arrives under-partitioned (measured
    # 3.3 s → 1.3 s at sf0.1 on 32 cores)
    return (
        _spread(_docs(spark, sf))
        .select("doc_id", langid_scores_col(model, meta, "text").alias("_s"))
        .select(
            "doc_id",
            F.col("_s").getField("lang").alias("lang_nb"),
            F.col("_s").getField("logp").alias("logp"),
        )
        .filter(F.col("lang_nb") != "und")
    )


def _langid_nb_sql() -> str:
    """DuckDB mirror of fit_langid + langid_scores_col: the seed corpus
    is embedded verbatim, the model (add-one-smoothed log10 gram
    probabilities quantized to 6 decimals) is recomputed in SQL, and
    scoring sums matched-gram log-probs plus floor·(T−matched) per
    (doc, lang) — argmax with lang-ascending tie-break, mean rounded to
    4 decimals exactly like the pandas UDF.

    Accepted risk (ADVICE r9): argmax parity relies on the two engines
    accumulating the SAME double totals.  The summands are 6-decimal
    quantized model floats, so totals agree exactly unless two
    languages tie to within double rounding of each other — a
    knife-edge no observed corpus hits (every fold is hash-green at
    three scales); if it ever fires, the symptom is a spurious one-doc
    mismatch, not a real defect.  Likewise Python round() is half-even
    vs DuckDB's half-away — distinguishable only at an exact 5 in the
    5th decimal of a mean, same knife-edge class."""
    from adampro_spark.pipeline.langid import LANGID_MAX_CHARS, SEED_TEXTS

    seed_vals = ",\n      ".join(
        "('{}', '{}')".format(lang, SEED_TEXTS[lang].replace("'", "''"))
        for lang in sorted(SEED_TEXTS)
    )
    norm = (
        "' ' || trim(regexp_replace(lower({t}), '\\s+', ' ', 'g')) || ' '"
    )
    grams = (
        "list_transform(generate_series(1, length(t) - 1), i -> substr(t, i, 2))"
        " || "
        "list_transform(generate_series(1, length(t) - 2), i -> substr(t, i, 3))"
    )
    return f"""
    WITH seeds(lang, txt) AS (VALUES
      {seed_vals}),
    sn AS (SELECT lang, {norm.format(t='txt')} AS t FROM seeds),
    sg AS (SELECT lang, unnest({grams}) AS g FROM sn),
    cnt AS (SELECT lang, g, count(*) AS c FROM sg GROUP BY lang, g),
    nl AS (SELECT lang, count(*) AS n_l FROM sg GROUP BY lang),
    voc AS (SELECT count(DISTINCT g) AS v FROM sg),
    model AS (SELECT lang, g, round(log10((c + 1) / (n_l + v)), 6) AS lp
              FROM cnt JOIN nl USING (lang) CROSS JOIN voc),
    floors AS (SELECT lang, round(log10(1.0 / (n_l + v)), 6) AS fl
               FROM nl CROSS JOIN voc),
    docs AS (SELECT doc_id,
                    substr({norm.format(t='text')}, 1, {LANGID_MAX_CHARS})
                      AS t
             FROM documents
             WHERE regexp_replace(text, '^\\s+|\\s+$', '', 'g') <> ''),
    dg AS (SELECT doc_id, unnest({grams}) AS g FROM docs),
    tc AS (SELECT doc_id, count(*) AS tcnt FROM dg GROUP BY doc_id),
    matched AS (SELECT d.doc_id, m.lang, sum(m.lp) AS s, count(*) AS mc
                FROM dg d JOIN model m USING (g) GROUP BY d.doc_id, m.lang),
    scored AS (SELECT t.doc_id, f.lang,
                      coalesce(m.s, 0) + (t.tcnt - coalesce(m.mc, 0)) * f.fl
                        AS total,
                      t.tcnt
               FROM tc t CROSS JOIN floors f
               LEFT JOIN matched m
                 ON m.doc_id = t.doc_id AND m.lang = f.lang),
    best AS (SELECT doc_id, lang, round(total / tcnt, 4) AS logp,
                    row_number() OVER (
                      PARTITION BY doc_id ORDER BY total DESC, lang ASC
                    ) AS rn
             FROM scored)
    SELECT doc_id, lang AS lang_nb, logp FROM best WHERE rn = 1
    """


def _bpe_count_row(spark, sf):
    # round 9 (verdict r8 #4): trained-BPE token counts — fit the merge
    # table on the corpus (Spark word-freq agg + driver merge loop),
    # then one Arrow-batched counting pass.  Encoding is an iterative
    # merge loop, not SQL-expressible, so the operator is pytest-pinned
    # (tests/test_bpe.py: parity vs an independent naive reference)
    # like the DEFLATE gate; this row carries the bench timing.
    from adampro_spark.pipeline.bpe import bpe_token_count_col, fit_bpe

    docs = _docs(spark, sf).select("doc_id", "text")
    merges, _meta = fit_bpe(docs, num_merges=500)
    return docs.select(
        "doc_id", bpe_token_count_col(merges, "text").alias("n_bpe")
    )


BENCH_ONLY["text_langid"] = _langid_row
BENCH_ONLY["text_langid_nb"] = _langid_nb_row
BENCH_ONLY["text_fingerprint"] = _fingerprint_row
BENCH_ONLY["text_ngram_counts"] = _ngram_counts_row
BENCH_ONLY["text_bpe_count"] = _bpe_count_row

_FP_SQL = (
    f"SELECT doc_id, {_sql_poly_hash(_sql_norm_text('text'))} AS fp FROM documents"
)
_NGRAM_SQL = f"""
    SELECT ngram, count(*)::BIGINT AS cnt FROM (
      SELECT unnest(list_transform(
        generate_series(1, greatest(len(toks) - 1, 1)),
        i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS ngram
      FROM (SELECT {_TOKS.format(t='text')} AS toks FROM documents)
    ) GROUP BY ngram ORDER BY cnt DESC, ngram ASC LIMIT 50
    """


def _quality_lr_row(spark, sf):
    """Round 10 (verdict r9 #4): the TRAINED quality classifier
    (pipeline/quality.py) — closed-form ridge fit on the bundled
    labeled seed set, weights quantized at fit time (the round-6
    model-float precedent), scoring one codegen dot product over the
    engineered feature expressions.  The row re-runs the FIT and
    asserts it reproduces the pinned constant (a drift errors the row
    red), then scores the corpus with the pinned weights — the same
    literals the static SQL mirror embeds."""
    from adampro_spark.pipeline.quality import (
        QUALITY_SEED_WEIGHTS, fit_quality_seed, quality_score_expr,
    )

    w = fit_quality_seed(spark)
    if w != QUALITY_SEED_WEIGHTS:
        raise AssertionError(
            f"seed quality fit drifted from the pinned weights: {w}"
        )
    return _docs(spark, sf).select(
        "doc_id",
        F.round(F.round(quality_score_expr(w), 4) * 10_000)
        .cast("long")
        .alias("q_lr"),
    )


def _quality_lr_sql() -> str:
    from adampro_spark.pipeline.quality import QUALITY_SEED_WEIGHTS
    from adampro_spark.pipeline.text import QUALITY_STOPWORDS

    w = QUALITY_SEED_WEIGHTS
    toks = _TOKS.format(t="text")
    feats = [
        "1.0",
        "length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))"
        " / greatest(length(text), 1)",
        f"CASE WHEN len(toks) > 0 THEN len(list_filter(toks,"
        f" w -> list_contains({sorted(QUALITY_STOPWORDS)}, w)))"
        f" / len(toks) ELSE 0.0 END",
        "least(len(toks) / 100.0, 1.0)",
        "CASE WHEN len(toks) > 0 THEN (length(text) / len(toks)) / 10.0"
        " ELSE 0.0 END",
        "length(regexp_replace(text, '[^0-9]', '', 'g'))"
        " / greatest(length(text), 1)",
        "length(regexp_replace(text, '[^A-Z]', '', 'g'))"
        " / greatest(length(text), 1)",
    ]
    # left-fold sum in the same order as quality_score_expr: 0.0 + w0*f0
    # + w1*f1 + ... (SQL + is left-associative, matching Spark's fold)
    score = "0.0 " + " ".join(f"+ {wi!r} * ({f})" for wi, f in zip(w, feats))
    return f"""
    SELECT doc_id, round(round({score}, 4) * 10000)::BIGINT AS q_lr
    FROM (SELECT doc_id, text, {toks} AS toks FROM documents)
    """


BENCH_ONLY["text_quality_lr"] = _quality_lr_row


def _text_suite(spark, sf):
    lang = _langid_row(spark, sf).select(
        F.lit("langid").alias("part"),
        F.concat_ws(
            "|", F.col("doc_id").cast("string"), F.col("lang_pred")
        ).alias("k"),
        F.lit(None).cast("long").alias("v"),
    )
    fp = _fingerprint_row(spark, sf).select(
        F.lit("fingerprint").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("fp").cast("long").alias("v"),
    )
    ng = _ngram_counts_row(spark, sf).select(
        F.lit("ngrams").alias("part"),
        F.col("ngram").alias("k"),
        F.col("cnt").cast("long").alias("v"),
    )
    # round 9: the trained NB langid joins the fold — prediction AND
    # rounded score both enter the value hash (v carries the score
    # scaled to an exact integer so the shared long column fits)
    nb = _langid_nb_row(spark, sf).select(
        F.lit("langid_nb").alias("part"),
        F.concat_ws(
            "|", F.col("doc_id").cast("string"), F.col("lang_nb")
        ).alias("k"),
        F.round(F.col("logp") * 10_000).cast("long").alias("v"),
    )
    # round 10: the trained quality classifier joins the fold — the fit
    # is re-asserted against the pinned weights inside the row, and the
    # per-document learned score rides the value hash
    ql = _quality_lr_row(spark, sf).select(
        F.lit("quality_lr").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("q_lr").alias("v"),
    )
    return _union_all([lang, fp, ng, nb, ql])


_register(
    "text_suite",
    _text_suite,
    f"""
    SELECT 'langid' AS part, doc_id::VARCHAR || '|' || lang_pred AS k,
           NULL::BIGINT AS v
    FROM ({_langid_sql()})
    UNION ALL
    SELECT 'fingerprint', doc_id::VARCHAR, fp::BIGINT FROM ({_FP_SQL})
    UNION ALL
    SELECT 'ngrams', ngram, cnt::BIGINT FROM ({_NGRAM_SQL})
    UNION ALL
    SELECT 'langid_nb', doc_id::VARCHAR || '|' || lang_nb,
           round(logp * 10000)::BIGINT
    FROM ({_langid_nb_sql()})
    UNION ALL
    SELECT 'quality_lr', doc_id::VARCHAR, q_lr FROM ({_quality_lr_sql()})
    """,
)


# ---------------------------------------------------------------------------
# dedup — derived corpora with planted duplicates
# ---------------------------------------------------------------------------

_OFF = 1_000_000  # planted-copy id offset


def _docs_with_exact_copies(spark, sf) -> DataFrame:
    d = _docs(spark, sf)
    copies = d.filter(F.col("doc_id") % 13 == 0).withColumn(
        "doc_id", F.col("doc_id") + _OFF
    )
    return d.unionByName(copies)


_SQL_DOCS_EXACT = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_OFF} AS doc_id, text FROM documents WHERE doc_id % 13 = 0
"""


def _docs_with_truncated_copies(spark, sf) -> DataFrame:
    d = _docs(spark, sf)
    copies = (
        d.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + _OFF)
        .withColumn(
            "text",
            F.substring(F.col("text"), 1, ((F.length("text") * 9) / 10).cast("int")),
        )
    )
    return d.unionByName(copies)


_SQL_DOCS_TRUNC = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_OFF} AS doc_id,
         substring(text, 1, CAST(length(text) * 9 // 10 AS INT)) AS text
  FROM documents WHERE doc_id % 7 = 0
"""

def _docs_with_ccnet_copies(spark, sf) -> DataFrame:
    """Planted NORMALIZED-equivalent copies: every 11th document gets two
    derived copies that differ in case, Latin accents, digits and
    punctuation but CCNet-normalize to the same text — copyA appends
    ``' 111!'``, copyB uppercases, swaps E/A for É/À and appends
    ``' 222?'`` (both suffixes normalize to ``'000'``).  The originals
    stay distinct (no suffix), so ``normalize="ccnet"`` must group
    exactly the copy pairs while plain exact dedup groups none of them.
    """
    d = _docs(spark, sf).select("doc_id", "text")
    sel = d.filter(F.col("doc_id") % 11 == 0)
    a = sel.select(
        (F.col("doc_id") + _OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" 111!")).alias("text"),
    )
    b = sel.select(
        (F.col("doc_id") + 2 * _OFF).alias("doc_id"),
        F.concat(
            F.translate(F.upper(F.col("text")), "EA", "ÉÀ"), F.lit(" 222?")
        ).alias("text"),
    )
    return d.unionByName(a).unionByName(b)


_SQL_DOCS_CCNET = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_OFF} AS doc_id, text || ' 111!' AS text
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + {2 * _OFF} AS doc_id,
         translate(upper(text), 'EA', 'ÉÀ') || ' 222?' AS text
  FROM documents WHERE doc_id % 11 = 0
"""


def _dedup_exact_suite(spark, sf) -> DataFrame:
    """Tagged union (round 11): the plain whitespace-normalized groups
    PLUS the CCNet-normalized groups (Wenzek et al. 2020 §3.1 —
    lower/accent-fold/digit→0/punct-strip before hashing) over a corpus
    with planted normalized-equivalent copies.  One value hash
    adjudicates the whole normalization chain (translate table, digit
    fold, explicit punct class) against DuckDB's independent mirror."""
    shape = lambda df, tag: df.select(  # noqa: E731
        F.lit(tag).alias("part"),
        "survivor",
        "n_copies",
        F.array_join("dup_ids", ",").alias("dup_ids"),
    )
    plain = shape(exact_dedup(_docs_with_exact_copies(spark, sf)), "plain")
    cc = shape(
        exact_dedup(_docs_with_ccnet_copies(spark, sf), normalize="ccnet"),
        "ccnet",
    )
    return plain.unionByName(cc)


def _dedup_exact_sql() -> str:
    from adampro_spark.pipeline.text import sql_ccnet_normalize

    groups = lambda tag, src, norm: f"""
    SELECT '{tag}' AS part,
           min(doc_id)::BIGINT AS survivor,
           count(*)::BIGINT AS n_copies,
           array_to_string(list_slice(list_sort(list(doc_id)), 2, len(list(doc_id))), ',') AS dup_ids
    FROM (SELECT doc_id, {_sql_poly_hash(_sql_norm_text(norm))} AS h FROM ({src}))
    GROUP BY h HAVING count(*) > 1
    """  # noqa: E731
    return (
        groups("plain", _SQL_DOCS_EXACT, "text")
        + " UNION ALL "
        + groups("ccnet", _SQL_DOCS_CCNET, sql_ccnet_normalize("text"))
    )


_register("dedup_exact", _dedup_exact_suite, _dedup_exact_sql())


def _minhash_banded_sql(
    threshold: float,
    shingle_n: int,
    bands: int = 32,
    rows: int = 4,
    seed: int = 42,
) -> str:
    """NEAR-LINEAR pair derivation (round 13, verdict r12 #6): the
    engine's OWN banding re-derived in SQL — seeded (a,b) coefficient
    literals from the shared ``minhash_coeffs`` spec, per-hash min over
    the distinct shingle hashes, the 31-poly band fold, equi-join on
    (band_idx, band_hash), then EXACT Jaccard verification on the
    candidates only.  Replaces the all-pairs Jaccard subquery that made
    the resolution oracle quadratic (unfinishable at sf0.1).  Same
    semantics as the engine's banded plan by construction (both miss
    the same sub-threshold-probability pairs) PROVIDED the engine side
    disables the hot-bucket star guard (``max_bucket_size``) — this SQL
    enumerates full bucket pairs, the guard's star replacement is
    pytest-pinned production behavior (review r13; the ccnet_mh/simhash
    rows follow the same convention).  The banding THEORY (no false
    negatives at the tested scales) stays pinned by the dedup_minhash
    row's exhaustive all-pairs oracle."""
    from adampro_spark.pipeline.dedup import minhash_coeffs

    a_co, b_co = minhash_coeffs(bands * rows, seed)
    coeffs = ", ".join(
        f"{{'a': {a}::BIGINT, 'b': {b}::BIGINT}}"
        for a, b in zip(a_co, b_co)
    )
    sh = f"list_distinct({_sql_shingles('text', shingle_n)})"
    inter = "len(list_intersect(da.sh, db.sh))"
    jac = (
        f"round({inter} / (len(da.sh) + len(db.sh) - {inter}), 4)"
    )
    return f"""
    WITH dd AS (SELECT doc_id, {sh} AS sh FROM ({_SQL_DOCS_TRUNC})),
    sig AS (
      SELECT doc_id, sh,
        list_transform([{coeffs}], c ->
          list_min(list_transform(sh, s -> (c.a * s + c.b) % {HASH_P})))
          AS sg
      FROM dd
    ),
    bnd AS (
      SELECT doc_id,
        list_transform(generate_series(0, {bands - 1}), j ->
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
                         sg[j * {rows} + 1 : j * {rows} + {rows}]),
            (acc, x) -> (acc * 31 + x) % {HASH_P})) AS bh
      FROM sig
    ),
    bt AS (
      SELECT doc_id,
             unnest(generate_series(0, {bands - 1})) AS bi,
             unnest(bh) AS b
      FROM bnd
    ),
    cand AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bt x JOIN bt y
        ON x.bi = y.bi AND x.b = y.b AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, {jac} AS jaccard
    FROM cand c
    JOIN dd da ON da.doc_id = c.id_a
    JOIN dd db ON db.doc_id = c.id_b
    WHERE {jac} >= {threshold}
    """


def _minhash_sql(threshold: float, shingle_n: int) -> str:
    # exact all-pairs shingle-set Jaccard — the oracle for the banded plan
    sh = f"list_distinct({_sql_shingles('text', shingle_n)})"
    return f"""
    WITH d AS (SELECT doc_id, {sh} AS sh FROM ({_SQL_DOCS_TRUNC}))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh)) /
                (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= {threshold}
    """


_register(
    "dedup_minhash",
    lambda spark, sf: minhash_dup_pairs(
        _docs_with_truncated_copies(spark, sf), threshold=0.7
    ),
    _minhash_sql(0.7, 8),
)


def _simhash_sql() -> str:
    toks = _TOKS.format(t="text")
    # Knuth-mix mirror of simhash_expr (round 9): ((h*A) // 2^15) % 2^30
    # — integer ops end to end, exact in both engines (HASH_P-bounded
    # operand: product ≈ 2.66e18 < 2^62, one spare int64 bit — ADVICE r9)
    mixed = (
        f"((({_fold(_CODES.format(t='t'))}) * 2654435761) // 32768) "
        f"% {1 << SIMHASH_BITS}"
    )
    th = f"list_transform({toks}, t -> {mixed})"
    bit = "(floor(h / 2**b)::BIGINT % 2)"
    return f"""
    SELECT doc_id,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(generate_series(0, {SIMHASH_BITS - 1}), b ->
          CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(th, h -> {bit} * 2 - 1)), (a, x) -> a + x) > 0
               THEN floor(2**b)::BIGINT ELSE 0 END)),
        (a, x) -> a + x) AS simhash
    FROM (SELECT doc_id, {th} AS th FROM documents)
    """


# Round-8 window re-fold (round-7 verdict #1): the per-doc SimHash
# fingerprints and the pigeonhole Hamming-pair join merge into ONE
# tagged-union driver row over a shared (part, x, y, h) schema —
# hashes contribute every (doc_id, simhash), pairs every
# (id_a, id_b, hamming); either side flips the fold red.


def _simhash_row(spark, sf):
    return _docs(spark, sf).select(
        "doc_id", simhash_expr("text").alias("simhash")
    )


def _simhash_pairs_row(spark, sf):
    # Manku multi-block keys ⇒ the banded join is EXHAUSTIVE (pigeonhole
    # over whole blocks), so the all-pairs oracle is equivalent — PROVIDED the
    # hot-bucket guard never fires: the ORACLE row disables the cap so
    # the exhaustive contract holds at ANY sf (found at sf0.1, where the
    # template corpus packs >1024 near-identical fingerprints into one
    # chunk bucket and the default cap switches to star pairs).  The
    # production default keeps the cap; its semantics are pytest-covered
    # (test_pipeline.test_hot_bucket_guard_*).
    return simhash_pairs(
        _docs_with_exact_copies(spark, sf), max_hamming=3,
        max_bucket_size=10**9,
    )


BENCH_ONLY["dedup_simhash"] = _simhash_row
BENCH_ONLY["dedup_simhash_pairs"] = _simhash_pairs_row

_SIMHASH_PAIRS_SQL = f"""
    WITH s AS ({_simhash_sql().replace('FROM documents', f'FROM ({_SQL_DOCS_EXACT})')})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def _simhash_suite(spark, sf):
    hashes = _simhash_row(spark, sf).select(
        F.lit("hashes").alias("part"),
        F.col("doc_id").cast("long").alias("x"),
        F.col("simhash").cast("long").alias("y"),
        F.lit(None).cast("long").alias("h"),
    )
    pairs = _simhash_pairs_row(spark, sf).select(
        F.lit("pairs").alias("part"),
        F.col("id_a").cast("long").alias("x"),
        F.col("id_b").cast("long").alias("y"),
        F.col("hamming").cast("long").alias("h"),
    )
    return _union_all([hashes, pairs])


_register(
    "dedup_simhash_suite",
    _simhash_suite,
    f"""
    SELECT 'hashes' AS part, doc_id::BIGINT AS x, simhash::BIGINT AS y,
           NULL::BIGINT AS h
    FROM ({_simhash_sql()})
    UNION ALL
    SELECT 'pairs', id_a::BIGINT, id_b::BIGINT, hamming::BIGINT
    FROM ({_SIMHASH_PAIRS_SQL})
    """,
)


def _emb_with_scaled_copies(spark, sf) -> DataFrame:
    e = _emb(spark, sf)
    copies = (
        e.filter(F.col("vec_id") % 11 == 0)
        .withColumn("vec_id", F.col("vec_id") + _OFF)
        .withColumn(
            "embedding",
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: x * F.lit(1.001)
            ),
        )
    )
    return e.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).unionByName(copies)


_SQL_EMB_SCALED = f"""
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_OFF} AS vec_id,
         list_transform(embedding, x -> x::DOUBLE * 1.001) AS embedding
  FROM embeddings WHERE vec_id % 11 = 0
"""


def _cos_sql(a: str, b: str) -> str:
    dot = f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), (s, x) -> s + x)"
    na = f"sqrt(list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)), (s, x) -> s + x))"
    nb = f"sqrt(list_reduce(list_prepend(0.0, list_transform({b}, x -> x * x)), (s, x) -> s + x))"
    return f"(CASE WHEN {na} < 1e-12 OR {nb} < 1e-12 THEN 0.0 ELSE ({dot}) / (({na}) * ({nb})) END)"


_register(
    "dedup_embedding",
    lambda spark, sf: embedding_dup_pairs(
        _emb_with_scaled_copies(spark, sf), threshold=0.99
    ),
    f"""
    WITH e AS ({_SQL_EMB_SCALED})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_cos_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 4) >= 0.99
    """,
)


# ---------------------------------------------------------------------------
# batch similarity join
# ---------------------------------------------------------------------------

_NQ = 8  # query rows: vec_id < 8
_JK = 5


def _simjoin_sql() -> str:
    dist = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform(list_zip(d.embedding, q.embedding), "
        "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))), (s, x) -> s + x))"
    )
    return f"""
    SELECT q_id, vec_id, {DISTANCE_COL} FROM (
      SELECT q.vec_id AS q_id, d.vec_id AS vec_id, round({dist}, 4) AS {DISTANCE_COL},
             row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist} ASC, d.vec_id ASC) AS rn
      FROM embeddings d, (SELECT * FROM embeddings WHERE vec_id < {_NQ}) q
    ) WHERE rn <= {_JK}
    """


def _queries_df(spark, sf):
    return (
        _emb(spark, sf)
        .filter(F.col("vec_id") < _NQ)
        .select(F.col("vec_id").alias("q_id"), "embedding")
    )


def _simjoin(strategy: str):
    def run(spark, sf):
        res = knn_join(
            _emb(spark, sf),
            _queries_df(spark, sf),
            "embedding",
            _JK,
            "euclidean",
            strategy=strategy,
        )
        return res.withColumn(DISTANCE_COL, F.round(DISTANCE_COL, 4)).select(
            "q_id", "vec_id", DISTANCE_COL
        )

    return run


# Round-6 fold: both exact kNN-join strategies (distributed window +
# the scale path's mapInPandas local top-k) must produce IDENTICAL
# results, so they ride one tagged-union driver row; individual
# callables stay benchable.
BENCH_ONLY["simjoin_knn"] = _simjoin("window")
BENCH_ONLY["simjoin_knn_local"] = _simjoin("local_topk")


# Round-8 window re-fold (round-7 verdict #1): the IVF cell-probed
# kNN join (exact at this nprobe — see _simjoin_ivf) joins the two
# exact strategies in the SAME tagged-union driver row, freeing the
# separate simjoin_ivf slot.  All three strategies must produce
# IDENTICAL per-query top-k; each rides the value hash.


def _simjoin_fold(spark, sf):
    return _union_all(
        [
            BENCH_ONLY["simjoin_knn"](spark, sf).select(
                F.lit("window").alias("strategy"), "q_id", "vec_id", DISTANCE_COL
            ),
            BENCH_ONLY["simjoin_knn_local"](spark, sf).select(
                F.lit("local_topk").alias("strategy"), "q_id", "vec_id", DISTANCE_COL
            ),
            _simjoin_ivf(spark, sf).select(
                F.lit("ivf").alias("strategy"), "q_id", "vec_id", DISTANCE_COL
            ),
        ]
    )


_register(
    "simjoin_suite",
    _simjoin_fold,
    "\nUNION ALL\n".join(
        f"SELECT '{tag}' AS strategy, * FROM ({_simjoin_sql()})"
        for tag in ("window", "local_topk", "ivf")
    ),
)


def _simjoin_ivf(spark, sf):
    # oracle recipe: nprobe >= the leader count at every tested scale
    # (min(sqrt(n), 200): ~22 cells at sf0.01, 44 at sf0.1) — probing every
    # cell makes the cell-join provably exact at BOTH scales, the same
    # wide-width recipe as the lossy index oracles; recall-vs-nprobe
    # tightness is asserted separately in tests (recall climbs to 1.0).
    res = ivf_knn_join(
        _emb(spark, sf),
        _queries_df(spark, sf),
        "embedding",
        _JK,
        "euclidean",
        nprobe=200,  # >= nleaders cap -> every cell probed
    )
    return res.withColumn(DISTANCE_COL, F.round(DISTANCE_COL, 4)).select(
        "q_id", "vec_id", DISTANCE_COL
    )


# rides the simjoin_suite fold above; benchable standalone
BENCH_ONLY["simjoin_ivf"] = _simjoin_ivf


# ---------------------------------------------------------------------------
# dedup RESOLUTION (pairs → connected components → survivor anti-join) —
# the action step a pipeline actually runs; round-5 driver row.  Oracle:
# exact all-pairs Jaccard graph (the dedup_minhash oracle), components via
# a recursive reachability CTE, survivors = corpus minus non-min members.
# ---------------------------------------------------------------------------


def _dedup_resolution(spark, sf):
    """Round 12 second part (verdict-r12 extension): survivor selection
    by QUALITY — ``keep_by=length(text), keep="max"`` keeps the FULLEST
    copy of each near-dup family (the corpus plants truncated copies,
    so min-pk and best-copy genuinely disagree wherever a truncated
    copy has the smaller id); ties break to min pk.  Both policies ride
    one row, so the component labeling, the per-component max, and the
    tie-break are all inside the hash."""
    from adampro_spark.pipeline.dedup import deduplicate, minhash_dup_pairs

    corpus = _docs_with_truncated_copies(spark, sf).withColumn(
        "_q", F.length("text").cast("long")
    )
    # TWO consumers (both survivor policies) read the checkpointed pair
    # set.  max_bucket_size disabled like the ccnet_mh/simhash oracle
    # rows (review r13): the round-13 banded oracle enumerates FULL
    # bucket pairs, while the production hot-bucket star guard — whose
    # pair-set semantics are pytest-pinned — would diverge on a
    # >1024-doc bucket.
    pairs = minhash_dup_pairs(corpus, threshold=0.7, max_bucket_size=1 << 30)
    minpk = deduplicate(corpus, pairs, pk="doc_id").select(
        F.lit("minpk").alias("part"), "doc_id"
    )
    best = deduplicate(
        corpus, pairs, pk="doc_id", keep_by="_q", keep="max"
    ).select(F.lit("best").alias("part"), "doc_id")
    return minpk.unionByName(best)


def _dedup_resolution_minpk(spark, sf):
    """BENCH row under the historical `dedup_resolution` name — the r11
    single-policy shape, so cross-round timings stay comparable (the
    driver row above widened to a 2-part union in round 12); the new
    policy times as its own row `dedup_resolution_best`."""
    from adampro_spark.pipeline.dedup import deduplicate, minhash_dup_pairs

    corpus = _docs_with_truncated_copies(spark, sf)
    pairs = minhash_dup_pairs(corpus, threshold=0.7)
    return deduplicate(corpus, pairs, pk="doc_id").select("doc_id")


def _dedup_resolution_best(spark, sf):
    from adampro_spark.pipeline.dedup import deduplicate, minhash_dup_pairs

    corpus = _docs_with_truncated_copies(spark, sf).withColumn(
        "_q", F.length("text").cast("long")
    )
    pairs = minhash_dup_pairs(corpus, threshold=0.7)
    return deduplicate(
        corpus, pairs, pk="doc_id", keep_by="_q", keep="max"
    ).select("doc_id")


BENCH_ONLY["dedup_resolution"] = _dedup_resolution_minpk
BENCH_ONLY["dedup_resolution_best"] = _dedup_resolution_best


_register(
    "dedup_resolution",
    _dedup_resolution,
    f"""
    WITH RECURSIVE
    -- round 13 (verdict r12 #6): banded pair derivation + guarded
    -- min-label reachability replace the quadratic all-pairs subquery /
    -- unguarded transitive closure, making this oracle near-linear and
    -- two-scale like every other row (the r < src guard is sound: a
    -- component's min label is smaller than every node on any path)
    p AS (SELECT id_a, id_b FROM ({_minhash_banded_sql(0.7, 8)})),
    edges AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
      WHERE reach.r < e.src
    ),
    comp AS (SELECT id, min(r) AS survivor FROM reach GROUP BY id),
    drops AS (SELECT id FROM comp WHERE id != survivor),
    scored AS (
      SELECT comp.id, comp.survivor AS comp_id, length(d.text)::BIGINT AS q
      FROM comp JOIN ({_SQL_DOCS_TRUNC}) d ON d.doc_id = comp.id
    ),
    bq AS (SELECT comp_id, max(q) AS best FROM scored GROUP BY comp_id),
    keepers AS (
      SELECT s.comp_id, min(s.id) AS keep
      FROM scored s JOIN bq ON s.comp_id = bq.comp_id AND s.q = bq.best
      GROUP BY s.comp_id
    ),
    drops_best AS (
      SELECT s.id FROM scored s JOIN keepers k ON s.comp_id = k.comp_id
      WHERE s.id != k.keep
    )
    SELECT 'minpk' AS part, doc_id FROM ({_SQL_DOCS_TRUNC})
    WHERE doc_id NOT IN (SELECT id FROM drops)
    UNION ALL
    SELECT 'best', doc_id FROM ({_SQL_DOCS_TRUNC})
    WHERE doc_id NOT IN (SELECT id FROM drops_best)
    """,
)


# ---------------------------------------------------------------------------
# dataset profiling (one-pass sketch aggregation) — round-5 driver row.
# The oracle covers the EXACT statistics (n, nulls, min/max/mean); the
# sketch columns (HLL++ approx_distinct, GK quantiles) are approximation-
# algorithm-specific and stay bench/pytest-verified (DuckDB's approx
# sketches are different algorithms, so value equality is undefined).
# ---------------------------------------------------------------------------


def _docs_full(spark, sf):
    from adampro_spark.session import load_tables

    return load_tables(spark, sf)["documents"]


def _profile_documents(spark, sf):
    from adampro_spark.pipeline.profile import profile

    return profile(_docs_full(spark, sf))


def _profile_shape(res):
    return res.select(
        "column", "dtype", "n", "n_null",
        F.round("min", 4).alias("min"),
        F.round("max", 4).alias("max"),
        F.round("mean", 4).alias("mean"),
    )


def _profile_docs_row(spark, sf):
    """The r10 single-table shape — the BENCH row under the historical
    `pipeline_profile` name (cross-round comparability, verdict r11 #3);
    the driver row below unions the vector leg on top."""
    return _profile_shape(_profile_documents(spark, sf))


def _profile_vec_row(spark, sf):
    from adampro_spark.pipeline.profile import profile

    return _profile_shape(profile(_emb(spark, sf)))


def _profile_exact_stats(spark, sf):
    # round 11: the VECTOR leg (embeddings profile their L2 norm through
    # the same min/max/mean slots) joins the adjudicated surface
    return _profile_docs_row(spark, sf).unionByName(_profile_vec_row(spark, sf))


BENCH_ONLY["pipeline_profile"] = _profile_docs_row
BENCH_ONLY["pipeline_profile_vec"] = _profile_vec_row


def _profile_sql() -> str:
    # (name, simpleString dtype, profiled value expr): numeric columns
    # profile their values, string columns their lengths (profile.py:51-56)
    cols = [
        ("doc_id", "bigint", "doc_id"),
        ("text", "string", "length(text)"),
        ("lang", "string", "length(lang)"),
        ("source", "string", "length(source)"),
        ("n_chars", "bigint", "n_chars"),
    ]
    norm = (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), "
        "(a, b) -> a + b))"
    )
    emb_cols = [
        ("vec_id", "bigint", "vec_id", "embeddings"),
        ("embedding", "array<float>", norm, "embeddings"),
        ("label", "int", "label", "embeddings"),
    ]
    parts = [
        f"""
        SELECT '{name}' AS "column", '{dt}' AS dtype,
               count(*)::BIGINT AS n,
               sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
               round(min(({v})::DOUBLE), 4) AS min,
               round(max(({v})::DOUBLE), 4) AS max,
               round(avg(({v})::DOUBLE), 4) AS mean
        FROM {tbl}
        """
        for name, dt, v, tbl in (
            [(n_, d_, v_, "documents") for n_, d_, v_ in cols] + emb_cols
        )
    ]
    return "\nUNION ALL\n".join(parts)


_register("pipeline_profile", _profile_exact_stats, _profile_sql())


# ---------------------------------------------------------------------------
# BM25 over the persisted posting table — round-5 driver row against the
# textbook Okapi formula computed end-to-end in DuckDB (fulltext.py:130-157:
# idf = ln((N - df + 0.5)/(df + 0.5) + 1), tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)),
# k1=1.2, b=0.75, dl/avgdl from the corpus token counts).
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "query", "join"]


def _fulltext_bm25(spark, sf):
    # reuses the fulltext_persisted query's session-lifetime index (same
    # _ops catalog + index name), so the timed run measures the BM25
    # QUERY against a built posting table, like the other *_persisted
    # bench entries
    from adampro_spark.operators.fulltext import SCORE_COL
    from adampro_spark.oracle_suite import _ops, _table

    ops = _ops(spark, "ftcat")
    if not ops.index.exists("docs_ft"):
        ops.index.create_from_df(
            "docs_ft", "documents_ext", _table(spark, sf, "documents"),
            "text", "fulltext", pk="doc_id",
        )
    res = ops.query.fulltext("docs_ft", _BM25_TERMS, scoring="bm25")
    return res.select("doc_id", F.round(SCORE_COL, 4).alias(SCORE_COL))


def _bm25_sql(terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    terms_in = ", ".join(f"'{t.lower()}'" for t in terms)
    toks = _TOKS.format(t="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({toks}) AS term FROM documents
    ),
    postings AS (
      SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY doc_id),
    stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
    hits AS (
      SELECT p.doc_id, p.term, p.tf, d.dl
      FROM postings p JOIN dl d USING (doc_id)
      WHERE p.term IN ({terms_in})
    ),
    dfreq AS (SELECT term, count(*)::DOUBLE AS dfreq FROM hits GROUP BY term)
    SELECT h.doc_id,
           round(sum(
             ln((s.n - f.dfreq + 0.5) / (f.dfreq + 0.5) + 1.0)
             * h.tf * ({k1} + 1.0)
             / (h.tf + {k1} * (1.0 - {b} + {b} * h.dl / s.avgdl))
           ), 4) AS ap_score
    FROM hits h JOIN dfreq f USING (term), stats s
    GROUP BY h.doc_id
    """


_register("fulltext_bm25_persisted", _fulltext_bm25, _bm25_sql(_BM25_TERMS))


# ---------------------------------------------------------------------------
# end-to-end corpus curation — round-6 driver row.  The minhash-dedup
# composition stays bench-only (its Jaccard band math is already hash-
# checked by dedup_minhash / dedup_resolution); the DRIVER row runs the
# same gate pass with dedup="exact", which is fully SQL-expressible, and
# hashes BOTH the surviving doc ids AND the complete attrition report
# (tag/val union) against a DuckDB mirror built from the already-verified
# text_stats / text_langid / dedup_exact fragments.
# ---------------------------------------------------------------------------


def _curate_exact_row(spark, sf):
    from adampro_spark.pipeline.curate import curate

    out, report = curate(
        _docs_with_exact_copies(spark, sf),
        langs=("en",), min_tokens=20, min_quality=0.3, dedup="exact",
    )
    surv = out.select(
        F.lit("doc").alias("tag"), F.col("doc_id").cast("long").alias("val")
    )
    rep = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(report.items())], "tag string, val long"
    )
    return surv.unionByName(rep)


def _curate_exact_sql() -> str:
    structs = ", ".join(
        f"{{'hits': len(list_filter(toks, t -> list_contains({list(STOPWORDS[lang])}, t))), 'lang': '{lang}'}}"
        for lang in sorted(HEURISTIC_LANGID_LANGS)
    )
    quality = (
        "(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) / length(text) ELSE 0.0 END)"
        " * least(len(toks) / 20.0, 1.0)"
    )
    return f"""
    WITH corpus AS ({_SQL_DOCS_EXACT}),
    t AS (SELECT doc_id, text, {_TOKS.format(t='text')} AS toks FROM corpus),
    f AS (
      SELECT doc_id, text, toks,
        (CASE WHEN best.hits <= 0 THEN 'und' ELSE best.lang END) = 'en' AS lang_ok,
        len(toks) >= 20 AS len_ok,
        {quality} >= 0.3 AS q_ok
      FROM (SELECT doc_id, text, toks, list_aggregate([{structs}], 'max') AS best FROM t)
    ),
    kept AS (SELECT doc_id, text FROM f WHERE lang_ok AND len_ok AND q_ok),
    h AS (SELECT doc_id, {_sql_poly_hash(_sql_norm_text('text'))} AS hh FROM kept),
    surv AS (SELECT min(doc_id) AS sid FROM h GROUP BY hh),
    outp AS (SELECT doc_id FROM h WHERE doc_id IN (SELECT sid FROM surv))
    SELECT 'doc' AS tag, doc_id::BIGINT AS val FROM outp
    UNION ALL SELECT 'n_after_gates', count(*)::BIGINT FROM kept
    UNION ALL SELECT 'n_dup_dropped',
      ((SELECT count(*) FROM kept) - (SELECT count(*) FROM outp))::BIGINT
    UNION ALL SELECT 'n_input', count(*)::BIGINT FROM corpus
    UNION ALL SELECT 'n_lang_fail', (count(*) FILTER (WHERE NOT lang_ok))::BIGINT FROM f
    UNION ALL SELECT 'n_low_quality', (count(*) FILTER (WHERE NOT q_ok))::BIGINT FROM f
    UNION ALL SELECT 'n_output', count(*)::BIGINT FROM outp
    UNION ALL SELECT 'n_short', (count(*) FILTER (WHERE NOT len_ok))::BIGINT FROM f
    UNION ALL SELECT 'n_too_long', 0::BIGINT
    """


_register("pipeline_curate", _curate_exact_row, _curate_exact_sql())


# ---------------------------------------------------------------------------
# bench-only: the minhash-dedup curation composition (its own building
# blocks are each hash-checked; the composition gets a throughput row)
# ---------------------------------------------------------------------------

# last run's per-stage wall clock (gates / pairs / resolution) — bench.py
# attaches this breakdown to the pipeline_curate row (VERDICT r5 item 8)
CURATE_STAGES: dict[str, float] = {}


def _curate_corpus(spark, sf):
    import time as _time

    from adampro_spark.pipeline.curate import curate

    CURATE_STAGES.clear()
    out, _report = curate(
        _docs(spark, sf), langs=("en",), min_tokens=20, min_quality=0.2,
        dedup="minhash", dedup_threshold=0.8, stage_timings=CURATE_STAGES,
    )
    # emit_sec (verdict r10 #2): curate's internal n_out count already
    # evaluated the survivor lineage once; the bench caller's collect()
    # evaluates it AGAIN (gate filter + anti-join re-run — the pair set
    # is checkpointed, the survivors are not).  Materialize here under
    # a timer so the stage breakdown attributes 100% of the row instead
    # of leaving the second evaluation as an unattributed residual.
    t0 = _time.perf_counter()
    res = out.select("doc_id").localCheckpoint(eager=True)
    CURATE_STAGES["emit_sec"] = round(_time.perf_counter() - t0, 3)
    return res


BENCH_ONLY["pipeline_curate"] = _curate_corpus


# ---------------------------------------------------------------------------
# bench-only: dataset-assembly ops (pipeline/mix.py).  The 50-row driver
# window is full; each op's arithmetic is pytest-adjudicated instead
# (test_mix.py: split vs an exact DuckDB mirror of the portable-hash
# chain, decontamination vs planted verbatim n-grams, packing invariants).
# ---------------------------------------------------------------------------


def _decontaminate_corpus(spark, sf):
    from adampro_spark.pipeline.mix import decontaminate

    docs = _docs(spark, sf)
    # eval set: 13-token windows lifted from every 97th doc — guarantees
    # real contamination hits at any scale
    ev = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.array_join(
                F.slice(F.split(F.lower("text"), r"\s+"), 6, 13), " "
            ).alias("text")
        )
    )
    return decontaminate(docs, ev, n=13).select("doc_id")


def _pack_corpus(spark, sf):
    from adampro_spark.pipeline.mix import pack_sequences

    docs = _docs(spark, sf).select("doc_id", "text").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), r"\s+"))
    )
    return pack_sequences(
        docs, budget=2048, truncate_oversize=True
    ).select("doc_id", "pack_id", "pack_pos")


def _split_sample_corpus(spark, sf):
    from adampro_spark.pipeline.mix import sample_sources, split_dataset

    docs = _docs(spark, sf)
    # fixture sources are src0..src19: down-sample a third of them
    mixed = sample_sources(
        docs,
        {f"src{i}": 0.5 for i in range(0, 20, 3)},
        source_col="source",
        default_rate=1.0,
    )
    return split_dataset(
        mixed, {"train": 0.98, "val": 0.01, "test": 0.01}
    ).select("doc_id", "split")


def _decontaminate_bloom_corpus(spark, sf):
    """Same corpus/eval derivation as ``pipeline_decontaminate`` but via
    the zero-shuffle Bloom path (method="bloom") — the bench pair makes
    the scale trade measurable round over round."""
    from adampro_spark.pipeline.mix import decontaminate

    docs = _docs(spark, sf)
    ev = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.array_join(
                F.slice(F.split(F.lower("text"), r"\s+"), 6, 13), " "
            ).alias("text")
        )
    )
    return decontaminate(docs, ev, n=13, method="bloom").select("doc_id")


BENCH_ONLY["pipeline_decontaminate"] = _decontaminate_corpus
BENCH_ONLY["pipeline_decontaminate_bloom"] = _decontaminate_bloom_corpus
BENCH_ONLY["pipeline_pack"] = _pack_corpus
BENCH_ONLY["pipeline_split_sample"] = _split_sample_corpus


def _scrub_corpus(spark, sf):
    """PII scrub + repetition stats over the corpus in one map-only pass
    (round 7): redact every category, then aggregate the detection count
    and the post-redaction byte volume — the throughput shape of a
    production scrubbing stage."""
    from adampro_spark.pipeline.scrub import redact_pii
    from adampro_spark.pipeline.text import with_repetition

    red = redact_pii(_docs(spark, sf).select("doc_id", "text"))
    staged, rep, _internals = with_repetition(red, "text")
    return staged.select(
        "pii_redacted", F.length("text").alias("n"),
        *[c.alias(nm) for nm, c in rep.items()],
    ).agg(
        F.sum("pii_redacted").alias("pii_total"),
        F.sum("n").alias("bytes_out"),
        F.sum(list(rep)[0]).alias("rep_mass"),
    )


BENCH_ONLY["pipeline_scrub"] = _scrub_corpus


# ---------------------------------------------------------------------------
# round-7 continuation driver rows: unigram LM scoring end-to-end (fit +
# score), PII redaction on a planted corpus, and the Gopher gate preset —
# each hash-checked against a full DuckDB mirror
# ---------------------------------------------------------------------------

_LM_V = 64  # smaller than the corpus vocabulary so the OOV path is live


def _lm_score_row(spark, sf):
    """Fit the unigram LM on the documents corpus and score every
    document — BOTH stages run inside the checked query, so the oracle
    adjudicates vocabulary selection, tie-breaks, smoothing and OOV
    mass, not just the final projection."""
    from adampro_spark.pipeline.lm import fit_unigram_lm, lm_score

    docs = _docs(spark, sf)
    vocab, meta = fit_unigram_lm(docs, vocab_size=_LM_V)
    out = lm_score(docs, vocab, meta)
    return out.select(
        "doc_id",
        F.round("lm_logprob", 4).alias("lm_logprob"),
        "lm_tokens",
    )


def _lm_sql(v: int = _LM_V) -> str:
    toks = _TOKS.format(t="text")
    return f"""
    WITH ex AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*)::BIGINT AS cnt FROM ex GROUP BY tok),
    tot AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n, count(*)::BIGINT AS d
            FROM counts),
    vocab AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok ASC LIMIT {v}),
    m AS (SELECT n, least(d, {v}) AS v FROM tot),
    agg AS (
      SELECT e.doc_id,
             round(avg(log10((coalesce(vb.cnt, 0) + 1) / (m.n + m.v + 1))), 4)
               AS lm_logprob,
             count(*)::BIGINT AS lm_tokens
      FROM ex e LEFT JOIN vocab vb USING (tok), m
      GROUP BY e.doc_id
    )
    SELECT d.doc_id, a.lm_logprob,
           coalesce(a.lm_tokens, 0)::BIGINT AS lm_tokens
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


# registered below as part of the round-8 text_lm_suite fold (the
# bigram row is defined much further down; the fold lives after it)
BENCH_ONLY["text_lm_score"] = _lm_score_row


def _plant_pii_expr() -> F.Column:
    """Deterministic PII plants derived from doc_id — the oracle builds
    the identical corpus in SQL, so detection counts AND the redacted
    text are hash-comparable (the synthetic corpus itself contains no
    PII-shaped strings)."""
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com from 10.1.2.3"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit(" ssn 123-45-6789 tel (415) 555-1234"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit(" card 4111 1111 1111 1111 or +1-415-555-9876"),
        ).otherwise(F.lit("")),
    )


def _scrub_row(spark, sf):
    """pii_stats + redact_pii over the planted corpus: per-category
    detection counts, the total, and the REDACTED TEXT itself all ride
    the hash check (scrub.py:90,124)."""
    from adampro_spark.pipeline.scrub import pii_stats, redact_pii

    planted = _docs(spark, sf).select("doc_id", _plant_pii_expr().alias("text"))
    red = redact_pii(planted)
    stats = pii_stats(planted)
    return red.join(stats, on="doc_id").select(
        "doc_id", "text", "pii_redacted",
        "pii_email", "pii_ssn", "pii_credit_card", "pii_phone", "pii_ipv4",
    )


def _scrub_sql() -> str:
    from adampro_spark.pipeline.scrub import PII_PATTERNS

    def q(pat: str) -> str:
        return pat.replace("'", "''")

    red = "text"
    for pat, tok in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{q(pat)}', '{tok}', 'g')"
    counts = {
        c: f"len(regexp_extract_all(text, '{q(pat)}'))::BIGINT"
        for c, (pat, _tok) in PII_PATTERNS.items()
    }
    total = " + ".join(counts.values())
    count_cols = ",\n      ".join(
        f"{expr} AS pii_{c}" for c, expr in counts.items()
    )
    return f"""
    WITH planted AS (
      SELECT doc_id,
        text ||
        CASE WHEN doc_id % 5 = 0
             THEN ' reach user' || doc_id::VARCHAR || '@mail.example.com from 10.1.2.3'
             ELSE '' END ||
        CASE WHEN doc_id % 7 = 0
             THEN ' ssn 123-45-6789 tel (415) 555-1234' ELSE '' END ||
        CASE WHEN doc_id % 11 = 0
             THEN ' card 4111 1111 1111 1111 or +1-415-555-9876' ELSE '' END
          AS text
      FROM documents
    )
    SELECT doc_id,
      {red} AS text,
      ({total}) AS pii_redacted,
      {count_cols}
    FROM planted
    """


_register("scrub_redaction", _scrub_row, _scrub_sql())


_URL_DENY = ("example0.com", "sub3.example1.com")


def _gopher_url_expr() -> Column:
    """Synthetic per-doc URL exercising every url_gate_flags branch:
    unparseable (no scheme), www-stripping, apex-domain deny
    (example0.com covers all its subdomains) and a subdomain-level deny
    entry (sub3.example1.com blocks only that host)."""
    did = F.col("doc_id")
    return F.when(did % 13 == 0, F.lit("no-scheme-here")).otherwise(
        F.concat(
            F.lit("https://"),
            F.when(did % 4 == 3, F.lit("www.")).otherwise(F.lit("")),
            F.lit("sub"), (did % 5).cast("string"),
            F.lit(".example"), (did % 4).cast("string"),
            F.lit(".com/p/"), did.cast("string"), F.lit("?q=1"),
        )
    )


def _messy_url_expr():
    # a deliberately dirty URL variant for the canonicalization check:
    # uppercase scheme/host, www., default port, tracking params,
    # fragments, sometimes a trailing slash, sometimes unparseable
    did = F.col("doc_id")
    return F.when(did % 13 == 0, F.lit("not a url")).otherwise(
        F.concat(
            F.lit("HTTPS://WWW.Site"), (did % 7).cast("string"),
            F.lit(".COM:443/Path/"), did.cast("string"),
            F.when(did % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=s"),
            F.when(did % 2 == 0, F.lit("&q=1")).otherwise(F.lit("")),
            F.lit("#frag"),
        )
    )


def _messy_html_expr():
    # wrap each doc's text in markup with every removal class the
    # extractor handles: head/style/script blocks, structural closers,
    # entities, comments
    return F.concat(
        F.lit(
            "<html><head><title>T</title><style>c{}</style>"
            "<script>s()</script></head><body><h1>Head</h1><p>"
        ),
        F.col("text"),
        F.lit(" &amp; more</p><li>item</li><!-- note --></body></html>"),
    )


def _gopher_row(spark, sf):
    """The MassiveText A1.1 rule preset as a checked per-document flag
    table (curate.py:77 gopher_gate_flags) — the same expressions curate
    consumes via extra_gates, adjudicated rule by rule.  Round 8 folds
    the URL/domain gate (scrub.url_gate_flags: try_parse_url host →
    suffix chain → literal deny list) into the same row over a synthetic
    url column; round 9 folds the two web-preprocessing expressions —
    scrub.canonical_url_expr over a dirty URL variant (the canonical
    STRING is hash-checked) and scrub.html_to_text_expr over the doc
    text wrapped in messy markup (the extracted text rides as a poly
    hash) — so the whole crawl-front-end surface is one driver row."""
    from adampro_spark.pipeline.curate import gopher_gate_flags
    from adampro_spark.pipeline.scrub import (
        canonical_url_expr,
        encoding_gate_flags,
        html_to_text_expr,
        mojibake_count_expr,
        url_gate_flags,
    )
    from adampro_spark.pipeline.text import (
        char_codes,
        poly_hash,
        space_free_dominant_expr,
        stopword_ratio_expr,
    )

    from adampro_spark.pipeline.text import tokens_expr as _tokens_expr

    # both flag sets read STAGED token columns (review r12 second pass:
    # the Latin flags each embedded their own tokens_expr — ~6
    # tokenizations of `text` per document)
    flags = gopher_gate_flags(toks=F.col("_ap_ttoks"))
    uflags = url_gate_flags("url", deny_domains=_URL_DENY)
    # round 12 script part (verdict r11 #2): every 4th doc becomes a
    # planted zh/ja/th document; the script tokenizer's token count /
    # mean "word" length, the dominance routing bit, and the four
    # script-routed Gopher flags are all in the hash — so the char
    # tokenization, the ≥½-non-ws dominance arithmetic, and the
    # when(dom)-routing each adjudicate against an independent DuckDB
    # formulation (Latin docs ride the same columns un-routed)
    # the flags read the STAGED token column (the _ap_gtoks/_ts_toks
    # rule: no CSE for CodegenFallback lambdas — without toks= each flag
    # re-tokenizes ztext; review r12); tokenizer="script" still routes
    # the dominance/alnum/alpha expressions
    sflags = gopher_gate_flags(
        "ztext", toks=F.col("_ap_ztoks"), tokenizer="script"
    )
    # round 13 (verdict r12 #2): planted fr/de documents adjudicate the
    # language-ROUTED stop-word surfaces — the heuristic langid over the
    # planted text, the per-language stopword_ratio (text_stats' routed
    # formula), and the routed _g_required rule (French docs check
    # French common words, not Gopher's English 8) — against a DuckDB
    # mirror that re-derives the routing from the same frozen lists
    rflags = gopher_gate_flags(
        "ftext", toks=F.col("_ap_ftoks"), lang_col=F.col("_ap_flang")
    )
    st = F.col("_ap_ztoks")
    sn = F.size(st).cast("long")
    schars = F.aggregate(
        F.transform(st, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    smean = F.round(F.when(sn > 0, schars / sn).otherwise(F.lit(0.0)), 4)
    return (
        _docs(spark, sf)
        .withColumn("url", _gopher_url_expr())
        .withColumn("murl", _messy_url_expr())
        .withColumn("mhtml", _messy_html_expr())
        .withColumn("mtext", _moji_text_expr())
        .withColumn("ztext", _script_text_expr())
        .withColumn("ftext", _lang_plant_expr())
        .withColumn("_ap_ttoks", _tokens_expr("text"))
        .withColumn("_ap_ztoks", _script_toks_expr())
        .withColumn("_ap_ftoks", _tokens_expr("ftext"))
        .withColumn(
            # full-map sweep (round 14): the it/pt plants must route to
            # their OWN lists, which the frozen-five default cannot name
            "_ap_flang",
            langid_expr(
                "ftext",
                toks=F.col("_ap_ftoks"),
                langs=tuple(sorted(STOPWORDS)),
            ),
        )
        .select(
            "doc_id",
            *[col.alias(name) for name, col in flags.items()],
            uflags["_url_ok"].alias("_url_ok"),
            canonical_url_expr("murl").alias("canon_url"),
            poly_hash(char_codes(html_to_text_expr("mhtml"))).alias(
                "html_fp"
            ),
            # round 11: the encoding gate over a planted-damage variant —
            # the raw signature count AND the flag are in the hash
            mojibake_count_expr("mtext").cast("long").alias("moji_n"),
            encoding_gate_flags("mtext")["_enc_ok"].alias("_enc_ok"),
            sn.alias("script_n_toks"),
            smean.alias("script_mean_wl"),
            space_free_dominant_expr("ztext").alias("script_dom"),
            sflags["_g_words"].alias("_g_words_script"),
            sflags["_g_word_len"].alias("_g_wl_script"),
            sflags["_g_alpha"].alias("_g_alpha_script"),
            sflags["_g_required"].alias("_g_req_script"),
            F.col("_ap_flang").alias("flang"),
            F.round(
                stopword_ratio_expr(
                    F.col("_ap_ftoks"), lang_col=F.col("_ap_flang")
                ),
                4,
            ).alias("f_stop_ratio"),
            rflags["_g_required"].alias("_g_req_routed"),
        )
    )


# planted double-encoding damage appended to every 5th doc (two 2-byte
# signatures + one 3-byte cp1252 triple = count 3); contains no ASCII
# quote so it embeds verbatim in the SQL literal
_MOJI_PLANT = " CafÃ© donâ€™t nÃ¤iv"

# planted space-free-script documents (round 12): zh (pure Han, long
# enough to pass the 50-token floor as characters), ja (mixed
# kanji/kana), th (Thai incl. combining marks — each mark is its own
# character token by design, parity-probed).  No ASCII quotes, so they
# embed verbatim in the SQL literals.
_SCRIPT_PLANTS = (
    "今天天气很好我们决定去公园散步然后在湖边喝茶看书晚上回家做饭吃完饭以后"
    "看了一部很长的电影觉得非常有意思第二天早上我们又去了博物馆参观了文物",
    "日本語のテキストですここには漢字とひらがなとカタカナが混ざっています"
    "これは品質ゲートの検証用の文章で五十文字より長くしてあります",
    "วันนี้อากาศดีมากเราไปเดินเล่นที่สวนสาธารณะแล้วนั่งดื่มชาอ่านหนังสือริมทะเลสาบตอนเย็น",
)


# planted spaced-non-English documents (round 13, verdict r12 #2): every
# 3rd doc becomes French, every 3rd+1 German — rich in their language's
# frozen stop words (≥13 hits each; the 24-char English tail contributes
# ≤2 hits to any other language, so the heuristic langid can never tie).
# No ASCII quotes, so they embed verbatim in the SQL literals.
_LANG_PLANTS = (
    "le chat est dans la maison et les enfants jouent pour un moment "
    "dans le jardin avec une balle et des amis sous le soleil",
    "der hund ist nicht mit der katze und das kind ist auf dem weg zu "
    "der schule mit einem ball und ein buch",
    # round 14 (verdict r13 #3): it/pt plants — dominated by their own
    # stop lists (10 hits each) with ≤3 accidental hits on any sibling
    # Romance list, so the full-map argmax routes them unambiguously
    "il gatto è nella casa e i bambini non sono che per una volta con "
    "le cose di un amico di strada",
    "o cachorro não está em casa para que os meninos de uma rua com um "
    "amigo possam ver a bola",
)


def _lang_plant_expr():
    did = F.col("doc_id")
    tail = F.substring(F.col("text"), 1, 24)
    expr = F.when(
        did % 5 == 0,
        F.concat(F.lit(_LANG_PLANTS[0]), F.lit(" "), tail),
    )
    for i in (1, 2, 3):
        expr = expr.when(
            did % 5 == i,
            F.concat(F.lit(_LANG_PLANTS[i]), F.lit(" "), tail),
        )
    return expr.otherwise(F.col("text"))


def _script_text_expr():
    did = F.col("doc_id")
    expr = F.when(
        did % 4 == 0,
        F.concat(
            F.lit(_SCRIPT_PLANTS[0]), F.lit(" "),
            F.substring(F.col("text"), 1, 24),
        ),
    )
    for i in (1, 2):
        expr = expr.when(
            did % 4 == i,
            F.concat(
                F.lit(_SCRIPT_PLANTS[i]), F.lit(" "),
                F.substring(F.col("text"), 1, 24),
            ),
        )
    return expr.otherwise(F.col("text"))


def _script_toks_expr():
    from adampro_spark.pipeline.text import script_tokens_expr

    return script_tokens_expr(F.col("ztext"))


def _moji_text_expr():
    return F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(_MOJI_PLANT))
    ).otherwise(F.col("text"))


def _url_deny_sql() -> str:
    return "[" + ", ".join(f"'{d}'" for d in _URL_DENY) + "]"


def _gopher_sql() -> str:
    from adampro_spark.pipeline.curate import GOPHER_REQUIRED_WORDS
    from adampro_spark.pipeline.text import (
        space_free_class,
        sql_script_tokens,
        sql_space_free_dominant,
    )

    from adampro_spark.pipeline.text import STOPWORDS

    toks = _TOKS.format(t="text")
    req = ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_WORDS)
    # round-13 routed-stopword mirrors: langid argmax over the planted
    # text's tokens, then per-language CASE routing of the stop/required
    # lists (und/unknown falls back to the English behavior, matching
    # lang_stopwords_expr / gopher_gate_flags(lang_col=))
    fstructs = ", ".join(
        f"{{'hits': len(list_filter(ftoks, t -> "
        f"list_contains({list(STOPWORDS[lang])}, t))), 'lang': '{lang}'}}"
        for lang in sorted(STOPWORDS)
    )

    def _route_case(en_words) -> str:
        whens = " ".join(
            f"WHEN '{lang}' THEN {list(STOPWORDS[lang])}"
            for lang in sorted(STOPWORDS)
            if lang != "en"
        )
        return f"(CASE flang {whens} ELSE {list(en_words)} END)"

    stop_case = _route_case(STOPWORDS["en"])
    req_case = _route_case(GOPHER_REQUIRED_WORDS)
    _trimmed = (
        "regexp_replace(regexp_replace(t0, '^\\s+', ''), '\\s+$', '')"
    )
    hfp = _sql_poly_hash(_trimmed)
    stoks = sql_script_tokens("zx")
    sdom = sql_space_free_dominant("zx")
    scls = space_free_class()
    smean = "(CASE WHEN zm.sn > 0 THEN zm.sc / zm.sn ELSE 0.0 END)"
    return f"""
    WITH base AS (
      SELECT doc_id, text, {toks} AS toks,
             list_filter(string_split(text, chr(10)), l -> length(l) > 0) AS ls
      FROM documents
    ),
    m AS (
      SELECT doc_id,
        len(toks) AS n,
        coalesce(list_sum(list_transform(toks, t -> length(t)::BIGINT)), 0) AS chars,
        len(regexp_extract_all(text, '#'))
          + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS symbols,
        len(ls) AS nl,
        len(list_filter(ls, ln -> regexp_matches(trim(ln), '^[-*•‣▪]'))) AS bullets,
        len(list_filter(ls, ln -> regexp_matches(trim(ln), '(\\.\\.\\.|…)$'))) AS ellipses,
        len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha,
        len(list_filter(list_distinct(toks), t -> list_contains([{req}], t))) AS req
      FROM base
    ),
    u AS (
      SELECT doc_id,
        CASE WHEN doc_id % 13 = 0 THEN 'no-scheme-here'
             ELSE 'https://'
               || CASE WHEN doc_id % 4 = 3 THEN 'www.' ELSE '' END
               || 'sub' || (doc_id % 5)::VARCHAR
               || '.example' || (doc_id % 4)::VARCHAR
               || '.com/p/' || doc_id::VARCHAR || '?q=1' END AS url
      FROM documents
    ),
    uh AS (
      SELECT doc_id,
        regexp_replace(
          lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
          '^www\\.', '') AS host
      FROM u
    ),
    uc AS (
      SELECT doc_id,
        (host <> ''
         AND len(list_intersect(
               list_transform(
                 generate_series(1, len(string_split(host, '.'))),
                 i -> array_to_string(string_split(host, '.')[i:], '.')),
               {_url_deny_sql()})) = 0) AS url_ok
      FROM uh
    ),
    mu AS (
      SELECT doc_id,
        CASE WHEN doc_id % 13 = 0 THEN 'not a url'
             ELSE 'HTTPS://WWW.Site' || (doc_id % 7)::VARCHAR
               || '.COM:443/Path/' || doc_id::VARCHAR
               || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
               || '?utm_source=s'
               || CASE WHEN doc_id % 2 = 0 THEN '&q=1' ELSE '' END
               || '#frag' END AS mu
      FROM documents
    ),
    cu0 AS (
      SELECT doc_id, regexp_replace(mu, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+\\z', '', 'g') AS u,
        regexp_extract(regexp_replace(mu, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+\\z', '', 'g'), '(?s)^([A-Za-z][A-Za-z0-9+.\\-]*://)([^/?#]*)(.*)\\z', 1) AS sch,
        regexp_extract(regexp_replace(mu, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+\\z', '', 'g'), '(?s)^([A-Za-z][A-Za-z0-9+.\\-]*://)([^/?#]*)(.*)\\z', 2) AS auth,
        regexp_extract(regexp_replace(mu, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+\\z', '', 'g'), '(?s)^([A-Za-z][A-Za-z0-9+.\\-]*://)([^/?#]*)(.*)\\z', 3) AS rest
      FROM mu
    ),
    cu1 AS (
      SELECT doc_id, u, lower(sch) AS ls,
        regexp_replace(lower(auth), '^(www\\.)+', '') AS la0, rest, sch
      FROM cu0
    ),
    cu1b AS (
      -- split-filter-rejoin mirror of canonical_url_expr (ADVICE r9:
      -- valueless trackers): params matched WHOLE ((?s)…\\z — same
      -- newline semantics as the Spark rlike), order preserved; the
      -- filtered list is computed ONCE (review r10)
      SELECT *, list_filter(
          string_split(regexp_replace(
            regexp_extract(regexp_replace(rest, '(?s)#.*\\z', ''),
                           '(?s)(\\?.*)\\z', 1), '^\\?', ''), '&'),
          p -> length(p) > 0 AND NOT regexp_matches(p,
            '(?s)^(utm_[^=&#]*|fbclid|gclid|msclkid|mc_eid|igshid)(=.*)?\\z')
        ) AS keptq
      FROM cu1
    ),
    cu2 AS (
      SELECT doc_id, u, ls, sch,
        CASE WHEN ls = 'http://' AND la0 LIKE '%:80'
               THEN regexp_replace(la0, ':80\\z', '')
             WHEN ls = 'https://' AND la0 LIKE '%:443'
               THEN regexp_replace(la0, ':443\\z', '')
             ELSE la0 END AS la,
        regexp_extract(regexp_replace(rest, '(?s)#.*\\z', ''), '^([^?]*)', 1) AS p0,
        CASE WHEN len(keptq) > 0
             THEN '?' || array_to_string(keptq, '&')
             ELSE '' END AS q3
      FROM cu1b
    ),
    cu AS (
      SELECT doc_id,
        CASE WHEN length(sch) > 0
             THEN ls || la ||
               (CASE WHEN length(
                       CASE WHEN length(p0) > 1
                            THEN regexp_replace(p0, '/+\\z', '')
                            ELSE p0 END) = 0
                     THEN '/'
                     ELSE CASE WHEN length(p0) > 1
                               THEN regexp_replace(p0, '/+\\z', '')
                               ELSE p0 END END)
               || q3
             ELSE u END AS canon_url
      FROM cu2
    ),
    moji AS (
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN text || '{{MOJI}}' ELSE text END AS mtext
      FROM documents
    ),
    me AS (
      SELECT doc_id, {{MCNT}} AS moji_n FROM moji
    ),
    mh AS (
      SELECT doc_id,
        '<html><head><title>T</title><style>c{{}}</style>'
        || '<script>s()</script></head><body><h1>Head</h1><p>'
        || text || ' &amp; more</p><li>item</li><!-- note --></body></html>'
          AS h
      FROM documents
    ),
    ht AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(
          replace(replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(h,
                    '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<noscript[^>]*>.*?</noscript>|<head[^>]*>.*?</head>|<!--.*?-->',
                    ' ', 'g'),
                  '(?is)<script[^>]*>.*$|<style[^>]*>.*$', ' ', 'g'),
                '(?i)<br[^>]*>|</p>|</div>|</li>|</tr>|</h[1-6]>|</title>',
                chr(10), 'g'),
              '(?s)<[^>]*>', ' ', 'g'),
          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&'),
          '[ \\t]+', ' ', 'g'),
          ' ?\\n ?', chr(10), 'g'),
          '\\n{{3,}}', chr(10) || chr(10), 'g') AS t0
      FROM mh
    ),
    hf AS (
      SELECT doc_id,
        {hfp} AS html_fp
      FROM ht
    ),
    z AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN '{{ZH}}' || ' ' || substr(text, 1, 24)
             WHEN doc_id % 4 = 1 THEN '{{JA}}' || ' ' || substr(text, 1, 24)
             WHEN doc_id % 4 = 2 THEN '{{TH}}' || ' ' || substr(text, 1, 24)
             ELSE text END AS zx
      FROM documents
    ),
    zs AS (
      SELECT doc_id, {stoks} AS st, {sdom} AS dom FROM z
    ),
    zm AS (
      SELECT doc_id, dom,
        len(st)::BIGINT AS sn,
        coalesce(list_sum(list_transform(st, t -> length(t)::BIGINT)), 0) AS sc,
        len(list_filter(st, x -> regexp_matches(x, '[a-z]|{scls}'))) AS salpha,
        len(list_filter(list_distinct(st), t -> list_contains([{req}], t))) AS sreq
      FROM zs
    ),
    fz AS (
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN '{{FRP}}' || ' ' || substr(text, 1, 24)
             WHEN doc_id % 5 = 1 THEN '{{DEP}}' || ' ' || substr(text, 1, 24)
             WHEN doc_id % 5 = 2 THEN '{{ITP}}' || ' ' || substr(text, 1, 24)
             WHEN doc_id % 5 = 3 THEN '{{PTP}}' || ' ' || substr(text, 1, 24)
             ELSE text END AS fx
      FROM documents
    ),
    ff AS (SELECT doc_id, {_TOKS.format(t='fx')} AS ftoks FROM fz),
    fl AS (
      SELECT doc_id, ftoks,
        CASE WHEN best.hits <= 0 THEN 'und' ELSE best.lang END AS flang
      FROM (
        SELECT doc_id, ftoks,
               list_aggregate([{fstructs}], 'max') AS best
        FROM ff
      )
    ),
    fm AS (
      SELECT doc_id, flang,
        round(CASE WHEN len(ftoks) > 0
          THEN len(list_filter(ftoks, t -> list_contains({stop_case}, t)))
               / len(ftoks)
          ELSE 0.0 END, 4) AS f_stop_ratio,
        (len(list_filter(list_distinct(ftoks),
                         t -> list_contains({req_case}, t))) >= 2)
          AS _g_req_routed
      FROM fl
    )
    SELECT m.doc_id,
      (n >= 50 AND n <= 100000) AS _g_words,
      ((CASE WHEN n > 0 THEN chars / n ELSE 0.0 END) >= 3.0
        AND (CASE WHEN n > 0 THEN chars / n ELSE 0.0 END) <= 10.0) AS _g_word_len,
      ((CASE WHEN n > 0 THEN symbols / n ELSE 0.0 END) <= 0.1) AS _g_symbols,
      ((CASE WHEN nl > 0 THEN bullets / nl ELSE 0.0 END) <= 0.9
        AND (CASE WHEN nl > 0 THEN ellipses / nl ELSE 0.0 END) <= 0.3) AS _g_bullets,
      ((CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) >= 0.8) AS _g_alpha,
      (req >= 2) AS _g_required,
      uc.url_ok AS _url_ok,
      cu.canon_url AS canon_url,
      hf.html_fp AS html_fp,
      me.moji_n::BIGINT AS moji_n,
      -- NULL text passes the gate in BOTH engines (encoding_gate_flags
      -- coalesces to TRUE; latent on the current NULL-free corpus)
      coalesce(me.moji_n <= 0, TRUE) AS _enc_ok,
      zm.sn AS script_n_toks,
      round({smean}, 4) AS script_mean_wl,
      zm.dom AS script_dom,
      (zm.sn >= 50 AND zm.sn <= 100000) AS _g_words_script,
      (CASE WHEN zm.dom THEN TRUE
            ELSE ({smean} >= 3.0 AND {smean} <= 10.0) END) AS _g_wl_script,
      ((CASE WHEN zm.sn > 0 THEN zm.salpha / zm.sn ELSE 0.0 END) >= 0.8)
        AS _g_alpha_script,
      (CASE WHEN zm.dom THEN TRUE ELSE zm.sreq >= 2 END) AS _g_req_script,
      fm.flang AS flang,
      fm.f_stop_ratio AS f_stop_ratio,
      fm._g_req_routed AS _g_req_routed
    FROM m
    JOIN uc ON m.doc_id = uc.doc_id
    JOIN cu ON m.doc_id = cu.doc_id
    JOIN hf ON m.doc_id = hf.doc_id
    JOIN me ON m.doc_id = me.doc_id
    JOIN zm ON m.doc_id = zm.doc_id
    JOIN fm ON m.doc_id = fm.doc_id
    """


def _gopher_sql_full() -> str:
    from adampro_spark.pipeline.scrub import sql_mojibake_count

    return (
        _gopher_sql()
        .replace("{MOJI}", _MOJI_PLANT)
        .replace("{MCNT}", sql_mojibake_count("mtext"))
        .replace("{ZH}", _SCRIPT_PLANTS[0])
        .replace("{JA}", _SCRIPT_PLANTS[1])
        .replace("{TH}", _SCRIPT_PLANTS[2])
        .replace("{FRP}", _LANG_PLANTS[0])
        .replace("{DEP}", _LANG_PLANTS[1])
        .replace("{ITP}", _LANG_PLANTS[2])
        .replace("{PTP}", _LANG_PLANTS[3])
    )


_register("gopher_gates", _gopher_row, _gopher_sql_full())


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bucketed semantic near-dup — FIXED seeded centroids
# (base-corpus rows at vec_id % 40 = 0) make the k-means assignment itself
# SQL-expressible, so the oracle adjudicates clustering + within-cluster
# pairs end to end (dedup.py semantic_dup_pairs)
# ---------------------------------------------------------------------------

_SEM_T = 0.95


def _semantic_row(spark, sf):
    """Round 13 widens this to a 3-part union (verdict r12 #5): the pair
    set (existing), plus the ids DROPPED under min-pk resolution and
    under quality-aware ``keep_by`` resolution with the L2 norm as the
    score — the planted ×1.001-scaled copies have the larger norm AND
    the larger id, so the two policies PROVABLY disagree on every
    planted family and both drop sets ride the hash."""
    from adampro_spark.pipeline.dedup import deduplicate, semantic_dup_pairs

    corpus = _emb_with_scaled_copies(spark, sf)
    cents = corpus.filter(
        (F.col("vec_id") % 40 == 0) & (F.col("vec_id") < _OFF)
    ).orderBy("vec_id")
    pairs = semantic_dup_pairs(
        corpus, threshold=_SEM_T, centroids=cents
    ).localCheckpoint(eager=True)  # 3 consumers below
    p = pairs.select(
        F.lit("pair").alias("part"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.col("cos_sim").alias("v"),
    )
    scored = corpus.withColumn(
        "_q",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("embedding"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    minsurv = deduplicate(corpus, pairs, pk="vec_id")
    bestsurv = deduplicate(scored, pairs, pk="vec_id", keep_by="_q", keep="max")
    mind = corpus.join(minsurv.select("vec_id"), "vec_id", "left_anti").select(
        F.lit("mindrop").alias("part"),
        F.col("vec_id").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("double").alias("v"),
    )
    bestd = corpus.join(
        bestsurv.select("vec_id"), "vec_id", "left_anti"
    ).select(
        F.lit("bestdrop").alias("part"),
        F.col("vec_id").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("double").alias("v"),
    )
    return p.unionByName(mind).unionByName(bestd)


def _semantic_sql() -> str:
    nrm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform({v}, x -> x * x)),"
        " (s, x) -> s + x))"
    )
    dot = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}),"
        " p -> p[1] * p[2])), (s, x) -> s + x)"
    )
    return f"""
    WITH RECURSIVE e AS ({_SQL_EMB_SCALED}),
    n AS (
      SELECT vec_id,
             list_transform(embedding, x -> x / ({nrm.format(v='embedding')}))
               AS nv
      FROM e WHERE {nrm.format(v='embedding')} > 1e-12
    ),
    cent AS (
      SELECT vec_id AS cid, nv AS cv FROM n
      WHERE vec_id % 40 = 0 AND vec_id < {_OFF}
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT n.vec_id, cent.cid,
               row_number() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY {dot.format(a='n.nv', b='cent.cv')} DESC, cent.cid ASC
               ) AS rn
        FROM n CROSS JOIN cent
      ) WHERE rn = 1
    ),
    sp AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({dot.format(a='na.nv', b='nb.nv')}, 4) AS cos_sim
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN n na ON na.vec_id = a.vec_id
      JOIN n nb ON nb.vec_id = b.vec_id
      WHERE round({dot.format(a='na.nv', b='nb.nv')}, 4) >= {_SEM_T}
    ),
    -- round-13 resolution mirror (verdict r12 #5): components via
    -- min-label reachability (the r < src guard is sound because a
    -- component's min label is smaller than every node on any path),
    -- then min-pk drops and norm-scored best-copy drops
    edges AS (SELECT id_a AS src, id_b AS dst FROM sp
              UNION SELECT id_b, id_a FROM sp),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e2.src, reach.r FROM edges e2 JOIN reach ON e2.dst = reach.id
      WHERE reach.r < e2.src
    ),
    comp AS (SELECT id, min(r) AS comp_id FROM reach GROUP BY id),
    scored AS (
      SELECT comp.id, comp.comp_id,
             sqrt(list_reduce(list_prepend(0.0,
               list_transform(e.embedding, x -> x * x)), (s, x) -> s + x))
               AS q
      FROM comp JOIN e ON e.vec_id = comp.id
    ),
    bq AS (SELECT comp_id, max(q) AS best FROM scored GROUP BY comp_id),
    keepers AS (
      SELECT s.comp_id, min(s.id) AS keep
      FROM scored s JOIN bq ON s.comp_id = bq.comp_id AND s.q = bq.best
      GROUP BY s.comp_id
    )
    SELECT 'pair' AS part, id_a AS a, id_b AS b, cos_sim AS v FROM sp
    UNION ALL
    SELECT 'mindrop', id, NULL::BIGINT, NULL::DOUBLE
    FROM comp WHERE id != comp_id
    UNION ALL
    SELECT 'bestdrop', s.id, NULL::BIGINT, NULL::DOUBLE
    FROM scored s JOIN keepers k ON s.comp_id = k.comp_id
    WHERE s.id != k.keep
    """


_register("dedup_semantic", _semantic_row, _semantic_sql())


def _semantic_bench(spark, sf):
    """Bench variant: the real fitted path (sampled k-means centroids,
    default k = ceil(sqrt n)) — the driver row of the same name pins
    correctness with fixed centroids; this measures fit + assign +
    block-pair throughput."""
    from adampro_spark.pipeline.dedup import semantic_dup_pairs

    corpus = _emb_with_scaled_copies(spark, sf)
    return semantic_dup_pairs(corpus, threshold=_SEM_T)


BENCH_ONLY["dedup_semantic"] = _semantic_bench


# ---------------------------------------------------------------------------
# dataset assembly: split + decontaminate promoted from pytest mirrors to
# driver rows (the gram-hash chain and the split coin are portable
# arithmetic — mix.py _unit_hash / _grams_from_token_hashes)
# ---------------------------------------------------------------------------

_DECON_N = 5  # small n so the derived eval snippets always produce grams


def _split_row(spark, sf):
    from adampro_spark.pipeline.mix import split_dataset

    return split_dataset(
        _docs(spark, sf).select("doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


def _split_sql() -> str:
    from adampro_spark.pipeline.mix import _MIX_A, _MIX_B
    from adampro_spark.pipeline.text import HASH_P

    h = _sql_poly_hash("concat('split', '|', doc_id::VARCHAR)")
    return f"""
    SELECT doc_id,
      CASE WHEN u < 0.8 THEN 'train'
           -- split_dataset's accumulated double(0.8) + double(0.1)
           -- rounds to EXACTLY 0.9 (verified; it is 0.1 + 0.2 that
           -- does not round to 0.3) — mirror the same bound literal
           WHEN u < 0.9 THEN 'val'
           ELSE 'test' END AS split
    FROM (SELECT doc_id,
            ((({h}) * {_MIX_A} + {_MIX_B}) % {HASH_P}) / {HASH_P}.0 AS u
          FROM documents)
    """


# registered below as part of the round-8 pipeline_assembly fold
BENCH_ONLY["pipeline_split"] = _split_row


def _grouped_split_stage(spark, sf):
    """Round 12: the LEAKAGE-SAFE grouped split (``split_dataset(by=)``)
    — every member of a group follows the group key's coin, and a
    planted NULL key (every 31st doc) exercises the per-row pk
    fallback.  The stage label carries the assigned split, so the
    group-hash arithmetic, the bin bounds, and the NULL routing are all
    inside the hash."""
    from adampro_spark.pipeline.mix import split_dataset

    docs = _docs(spark, sf).select(
        "doc_id",
        F.when(F.col("doc_id") % 31 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("source"))
        .alias("grp"),
    )
    out = split_dataset(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, by="grp"
    )
    return out.select(
        F.lit("gsplit").alias("stage"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("split").alias("label"),
    )


def _grouped_split_sql() -> str:
    from adampro_spark.pipeline.mix import _MIX_A, _MIX_B
    from adampro_spark.pipeline.text import HASH_P

    hg = _sql_poly_hash("concat('split', '|', grp)")
    hd = _sql_poly_hash("concat('split', '|', doc_id::VARCHAR)")
    return f"""
    SELECT doc_id,
      CASE WHEN u < 0.8 THEN 'train'
           WHEN u < 0.9 THEN 'val'
           ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
        (CASE WHEN grp IS NOT NULL
              THEN (({hg}) * {_MIX_A} + {_MIX_B}) % {HASH_P}
              ELSE (({hd}) * {_MIX_A} + {_MIX_B}) % {HASH_P}
         END) / {HASH_P}.0 AS u
      FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 31 = 0 THEN NULL ELSE source END AS grp
        FROM documents
      )
    )
    """


def _decontaminate_row(spark, sf):
    """Survivors after removing docs sharing any word 5-gram with a
    DERIVED eval set (tokens 5..9 of every 25th document) — both engines
    build the same snippets, so the gram explode, the broadcast semi-
    join and the anti-join are all adjudicated (mix.py:222)."""
    from adampro_spark.pipeline.mix import decontaminate
    from adampro_spark.pipeline.text import tokens_expr

    docs = _docs(spark, sf)
    eval_df = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.concat_ws(" ", F.slice(tokens_expr("text"), 5, _DECON_N)).alias("text")
    )
    return decontaminate(docs, eval_df, n=_DECON_N).select("doc_id")


def _decontaminate_sql(n: int = _DECON_N) -> str:
    th = f"list_transform({_TOKS.format(t='text')}, t -> {_sql_poly_hash('t')})"
    grams = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(th) - {n - 1}, 1)), "
        f"i -> {_fold(f'list_slice(th, i, i + {n - 1})')}))"
    )
    return f"""
    WITH dt AS (SELECT doc_id, {th} AS th FROM documents),
    et AS (SELECT list_slice(th, 5, {5 + n - 1}) AS th FROM dt
           WHERE doc_id % 25 = 0),
    dg AS (SELECT doc_id, unnest({grams}) AS g FROM dt),
    eg AS (SELECT DISTINCT unnest({grams}) AS g FROM et),
    bad AS (SELECT DISTINCT doc_id FROM dg WHERE g IN (SELECT g FROM eg))
    SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    """


def _contamination_stage(spark, sf):
    """Round 12: the per-document overlap REPORT (contamination_report,
    method='semi') over the same derived eval set as the drop stage —
    window counts INCLUDING duplicates and matched-window counts are
    both in the hash (label = n_grams·10⁶ + n_matched), so the
    explode-with-duplicates, the broadcast membership join, and the
    NULL/short-doc window conventions adjudicate independently of the
    binary decontaminate stage."""
    from adampro_spark.pipeline.mix import contamination_report
    from adampro_spark.pipeline.text import tokens_expr

    docs = _docs(spark, sf)
    eval_df = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.concat_ws(" ", F.slice(tokens_expr("text"), 5, _DECON_N)).alias("text")
    )
    rep = contamination_report(docs, eval_df, n=_DECON_N)
    return rep.select(
        F.lit("contamination").alias("stage"),
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("n_grams") * 1_000_000 + F.col("n_matched"))
        .cast("string").alias("label"),
    )


def _contamination_sql(n: int = _DECON_N) -> str:
    th = f"list_transform({_TOKS.format(t='text')}, t -> {_sql_poly_hash('t')})"
    grams = (  # windows WITH duplicates — the report counts occurrences
        f"list_transform(generate_series(1, greatest(len(th) - {n - 1}, 1)), "
        f"i -> {_fold(f'list_slice(th, i, i + {n - 1})')})"
    )
    return f"""
    WITH dt AS (SELECT doc_id, {th} AS th FROM documents),
    et AS (SELECT list_slice(th, 5, {5 + n - 1}) AS th FROM dt
           WHERE doc_id % 25 = 0),
    dgc AS (SELECT doc_id, unnest({grams}) AS g FROM dt),
    eg AS (SELECT DISTINCT unnest({grams}) AS g FROM et),
    per AS (
      SELECT doc_id, count(*)::BIGINT AS ng,
             sum(CASE WHEN g IN (SELECT g FROM eg) THEN 1 ELSE 0 END)::BIGINT
               AS nm
      FROM dgc GROUP BY doc_id
    )
    SELECT doc_id, (ng * 1000000 + nm)::BIGINT AS packed FROM per
    """


def _shuffle_key_sql() -> str:
    """Mirror of shuffle_dataset's integer sort key (salt 'shuffle')."""
    from adampro_spark.pipeline.mix import _MIX_A, _MIX_B
    from adampro_spark.pipeline.text import HASH_P

    h = _sql_poly_hash("concat('shuffle', '|', doc_id::VARCHAR)")
    return f"(({h}) * {_MIX_A} + {_MIX_B}) % {HASH_P}"


# Round-8 window re-fold (round-7 verdict #1): hash-stable splitting and
# eval-set decontamination merge into ONE tagged-union driver row over a
# shared (stage, doc_id, label) schema — split contributes every
# (doc_id, split) assignment, decontaminate its full survivor set.
BENCH_ONLY["pipeline_decontaminate_row"] = _decontaminate_row


_SPACK_B = 512  # shuffle->pack stage's token budget


def _shuffle_pack_stage(spark, sf):
    """Round 12 (verdict r11 #7): the shuffle → pack COMPOSITION.  The
    pack-internal document order is inside the hash (label = pack_id ·
    10^5 + pack_pos), so the oracle adjudicates that packing in
    ``order_col`` mode preserves the shuffled training order — a
    DuckDB recursive CTE walks the same greedy first-fit over the
    mirrored shuffle permutation.  ``num_shards=1`` makes the shard
    hash (engine-specific murmur3) drop out of the semantics; the
    multi-shard scale path is pinned by the property test + bench row.
    """
    from adampro_spark.pipeline.mix import pack_sequences, shuffle_dataset
    from adampro_spark.pipeline.text import tokens_expr

    docs = _docs(spark, sf).select(
        "doc_id", F.size(tokens_expr("text")).cast("long").alias("n_tokens")
    )
    shuffled = shuffle_dataset(docs, key_col="_ord")
    packed = pack_sequences(
        shuffled, budget=_SPACK_B, order_col="_ord",
        num_shards=1, truncate_oversize=True,
    )
    return packed.select(
        F.lit("shufflepack").alias("stage"),
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("pack_id") * 100_000 + F.col("pack_pos"))
        .cast("string").alias("label"),
    )


def _shuffle_pack_sql(b: int = _SPACK_B) -> str:
    toks = _TOKS.format(t="text")
    return f"""
    WITH RECURSIVE ordered AS (
      SELECT doc_id, least(len({toks}), {b})::BIGINT AS nt,
             row_number() OVER (
               ORDER BY ({_shuffle_key_sql()}), doc_id) AS rn
      FROM documents
    ),
    walk AS (
      SELECT rn, doc_id, nt, 0::BIGINT AS pack, nt AS used
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.rn, o.doc_id, o.nt,
             CASE WHEN w.used + o.nt > {b} THEN w.pack + 1 ELSE w.pack END,
             CASE WHEN w.used + o.nt > {b} THEN o.nt ELSE w.used + o.nt END
      FROM walk w JOIN ordered o ON o.rn = w.rn + 1
    )
    SELECT doc_id,
           pack * 100000
             + (row_number() OVER (PARTITION BY pack ORDER BY rn)) - 1
             AS packpos
    FROM walk
    """


def _assembly_suite(spark, sf):
    from adampro_spark.pipeline.mix import shuffle_dataset

    sp = _split_row(spark, sf).select(
        F.lit("split").alias("stage"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("split").alias("label"),
    )
    de = _decontaminate_row(spark, sf).select(
        F.lit("decontaminate").alias("stage"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("label"),
    )
    # round 11: deterministic training-order shuffle — the exposed
    # integer sort key IS the permutation (the driver's hash compare is
    # order-insensitive, so adjudicating the key adjudicates the order)
    sh = shuffle_dataset(_docs(spark, sf), key_col="_k").select(
        F.lit("shuffle").alias("stage"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("_k").cast("string").alias("label"),
    )
    return _union_all(
        [sp, de, sh, _shuffle_pack_stage(spark, sf),
         _contamination_stage(spark, sf), _grouped_split_stage(spark, sf)]
    )


_register(
    "pipeline_assembly",
    _assembly_suite,
    f"""
    SELECT 'split' AS stage, doc_id::BIGINT AS doc_id, split AS label
    FROM ({_split_sql()})
    UNION ALL
    SELECT 'decontaminate', doc_id::BIGINT, NULL::VARCHAR
    FROM ({_decontaminate_sql()})
    UNION ALL
    SELECT 'shuffle', doc_id::BIGINT, ({_shuffle_key_sql()})::VARCHAR
    FROM documents
    UNION ALL
    SELECT 'shufflepack', doc_id::BIGINT, packpos::VARCHAR
    FROM ({_shuffle_pack_sql()})
    UNION ALL
    SELECT 'contamination', doc_id::BIGINT, packed::VARCHAR
    FROM ({_contamination_sql()})
    UNION ALL
    SELECT 'gsplit', doc_id::BIGINT, split
    FROM ({_grouped_split_sql()})
    """,
)


# ---------------------------------------------------------------------------
# chunking + tf-idf keywords (text.py chunk_documents / tfidf_keywords)
# ---------------------------------------------------------------------------

_CHUNK_W, _CHUNK_O = 32, 8


def _chunks_row(spark, sf):
    from adampro_spark.pipeline.text import chunk_documents

    return chunk_documents(
        _docs(spark, sf), max_tokens=_CHUNK_W, overlap=_CHUNK_O
    )


def _chunks_sql(w: int = _CHUNK_W, o: int = _CHUNK_O) -> str:
    stride = w - o
    toks = _TOKS.format(t="text")
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
    s AS (
      SELECT doc_id, tk,
             unnest(CASE WHEN len(tk) > 0
                         THEN generate_series(1, greatest(len(tk) - {o}, 1), {stride})
                         ELSE CAST([] AS BIGINT[]) END) AS i
      FROM t
    )
    SELECT doc_id,
           ((i - 1) // {stride})::BIGINT AS chunk_id,
           array_to_string(list_slice(tk, i, i + {w - 1}), ' ') AS text,
           len(list_slice(tk, i, i + {w - 1}))::BIGINT AS n_tokens
    FROM s
    """


_register("text_chunks", _chunks_row, _chunks_sql())


def _tfidf_row(spark, sf):
    from adampro_spark.pipeline.text import tfidf_keywords

    return tfidf_keywords(_docs(spark, sf), top_k=5)


def _tfidf_sql(k: int = 5) -> str:
    toks = _TOKS.format(t="text")
    return f"""
    WITH p AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
           FROM p GROUP BY doc_id, term),
    dft AS (SELECT term, count(*)::BIGINT AS df_t
            FROM (SELECT DISTINCT doc_id, term FROM p) GROUP BY term),
    nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
    sc AS (SELECT tf.doc_id, tf.term,
                  tf.tf * ln(nn.n / dft.df_t) AS s
           FROM tf JOIN dft USING (term), nn),
    r AS (SELECT doc_id, term, s,
                 row_number() OVER (
                   PARTITION BY doc_id ORDER BY s DESC, term ASC) AS rank
          FROM sc)
    SELECT doc_id, term, round(s, 4) AS tfidf, rank::BIGINT AS rank
    FROM r WHERE rank <= {k}
    """


_register("text_tfidf", _tfidf_row, _tfidf_sql())


# ---------------------------------------------------------------------------
# cross-document line dedup (dedup.line_dedup) — planted boilerplate line
# on every 4th document; both engines derive the same corpus, the oracle
# adjudicates hotness counting, position collection and the text rebuild
# ---------------------------------------------------------------------------

_BOILER = "follow us on social media"


def _line_dedup_row(spark, sf):
    from adampro_spark.pipeline.dedup import line_dedup

    planted = _docs(spark, sf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit("\n" + _BOILER)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return line_dedup(planted, min_docs=3)


def _line_dedup_sql(
    min_docs: int = 3,
    sep: str = "chr(10)",
    boiler: str = _BOILER,
    mod: int = 4,
) -> str:
    h = _sql_poly_hash("ln")
    return f"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % {mod} = 0
                  THEN text || {sep} || '{boiler}'
                  ELSE text END AS text
      FROM documents
    ),
    ls AS (SELECT doc_id, text, string_split(text, {sep}) AS ls FROM planted),
    ex AS (
      SELECT doc_id, unnest(ls) AS ln,
             unnest(generate_series(1, len(ls))) AS pos
      FROM ls
    ),
    hot AS (
      SELECT h FROM (
        SELECT DISTINCT doc_id, {h} AS h FROM ex WHERE length(trim(ln)) > 0
      ) GROUP BY h HAVING count(*) >= {min_docs}
    ),
    drops AS (
      SELECT doc_id, list(pos) AS drops FROM ex
      WHERE length(trim(ln)) > 0 AND {h} IN (SELECT h FROM hot)
      GROUP BY doc_id
    )
    SELECT l.doc_id,
      CASE WHEN l.text IS NULL THEN NULL
           -- coalesce: DuckDB array_to_string([]) is NULL where Spark's
           -- concat_ws yields '' (every-line-removed documents)
           ELSE coalesce(array_to_string(
             list_transform(
               list_filter(
                 list_zip(l.ls, generate_series(1, len(l.ls))),
                 z -> NOT list_contains(coalesce(d.drops, CAST([] AS BIGINT[])), z[2])),
               z -> z[1]),
             {sep}), '') END AS text,
      coalesce(len(d.drops), 0)::BIGINT AS n_lines_removed
    FROM ls l LEFT JOIN drops d USING (doc_id)
    """


_PARA = "subscribe to our newsletter for weekly updates"


def _para_dedup_row(spark, sf):
    """RefinedWeb-style PARAGRAPH boilerplate removal (round 8): the
    same line_dedup engine with sep='\\n\\n' on a paragraph-planted
    corpus."""
    from adampro_spark.pipeline.dedup import line_dedup

    planted = _docs(spark, sf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n\n" + _PARA)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return line_dedup(planted, min_docs=3, sep="\n\n")


def _line_dedup_suite(spark, sf):
    # tagged union (round-8 fold): C4 line mode + RefinedWeb paragraph
    # mode share the (mode, doc_id, text, n_lines_removed) schema; the
    # driver hash adjudicates hotness counting, position collection and
    # the byte-lossless rebuild for BOTH separators in one row
    cols = ["doc_id", "text", "n_lines_removed"]
    line = _line_dedup_row(spark, sf).select(
        F.lit("line").alias("mode"), *cols
    )
    para = _para_dedup_row(spark, sf).select(
        F.lit("para").alias("mode"), *cols
    )
    return _union_all([line, para])


BENCH_ONLY["dedup_paragraphs"] = _para_dedup_row


def _line_dedup_bench(spark, sf):
    # BENCH_ONLY keeps the round-7 single-mode shape so the bench row
    # stays timing-comparable across rounds (the driver row is now the
    # line+para union)
    return _line_dedup_row(spark, sf).select(
        "doc_id", "text", "n_lines_removed"
    )


BENCH_ONLY["dedup_lines"] = _line_dedup_bench

_register(
    "dedup_lines",
    _line_dedup_suite,
    f"""
    SELECT 'line' AS mode, * FROM ({_line_dedup_sql()})
    UNION ALL
    SELECT 'para' AS mode, * FROM (
      {_line_dedup_sql(sep="chr(10) || chr(10)", boiler=_PARA, mod=5)}
    )
    """,
)


# ---------------------------------------------------------------------------
# cluster assignment (pipeline/cluster.py) — fixed seeded centroids make
# the argmax-cosine assignment SQL-expressible; output maps the positional
# cluster index back to its centroid's vec_id so labels are engine-neutral
# ---------------------------------------------------------------------------


def _cluster_row(spark, sf):
    from adampro_spark.pipeline.cluster import cluster_embeddings

    emb = _emb(spark, sf)
    cents = emb.filter(F.col("vec_id") % 40 == 0).orderBy("vec_id")
    ids = [int(r["vec_id"]) for r in cents.select("vec_id").collect()]
    out, _cn = cluster_embeddings(emb, centroids=cents)
    mapping = F.array(*[F.lit(i) for i in ids])
    return out.select(
        "vec_id",
        F.element_at(mapping, F.col("cluster") + 1).alias("centroid_id"),
    )


def _cluster_sql() -> str:
    nrm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform({v}, x -> x * x)),"
        " (s, x) -> s + x))"
    )
    dot = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}),"
        " p -> p[1] * p[2])), (s, x) -> s + x)"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v,
             CASE WHEN {nrm.format(v='v')} > 1e-12
                  THEN list_transform(v, x -> x / ({nrm.format(v='v')}))
                  ELSE NULL END AS nv
      FROM e
    ),
    cent AS (
      SELECT vec_id AS cid, nv AS cv FROM n WHERE vec_id % 40 = 0
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT n.vec_id, cent.cid,
               row_number() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY {dot.format(a='n.nv', b='cent.cv')} DESC, cent.cid ASC
               ) AS rn
        FROM n CROSS JOIN cent WHERE n.nv IS NOT NULL
      ) WHERE rn = 1
    )
    SELECT e.vec_id, a.cid AS centroid_id
    FROM e LEFT JOIN asg a USING (vec_id)
    """


_register("cluster_assign", _cluster_row, _cluster_sql())


# ---------------------------------------------------------------------------
# interpolated bigram LM (lm.fit_bigram_lm / bigram_lm_score) — the full
# two-table fit AND interpolated scoring mirrored in SQL
# ---------------------------------------------------------------------------

_BLM_V, _BLM_B, _BLM_LAM = 64, 256, 0.6


def _lm_bigram_row(spark, sf):
    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm

    docs = _docs(spark, sf)
    vocab, bigrams, meta = fit_bigram_lm(
        docs, vocab_size=_BLM_V, bigram_size=_BLM_B, lam=_BLM_LAM
    )
    out = bigram_lm_score(docs, vocab, bigrams, meta)
    return out.select(
        "doc_id",
        F.round("lm_logprob", 4).alias("lm_logprob"),
        "lm_tokens",
    )


def _lm_bigram_sql(v: int = _BLM_V, b: int = _BLM_B, lam: float = _BLM_LAM) -> str:
    toks = _TOKS.format(t="text")
    p_uni = "(coalesce(cv.cnt, 0) + 1) / (m.n + m.v + 1)"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
    ex AS (SELECT doc_id, unnest(tk) AS tok FROM t),
    counts AS (SELECT tok, count(*)::BIGINT AS cnt FROM ex GROUP BY tok),
    tot AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n, count(*)::BIGINT AS d
            FROM counts),
    vocab AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok ASC LIMIT {v}),
    m AS (SELECT n, least(d, {v}) AS v FROM tot),
    pairs AS (
      SELECT prev, cur, count(*)::BIGINT AS cnt FROM (
        SELECT tk[i - 1] AS prev, tk[i] AS cur
        FROM (SELECT tk, unnest(generate_series(2, len(tk))) AS i FROM t)
      ) GROUP BY prev, cur
    ),
    bigs AS (SELECT prev, cur, cnt FROM pairs
             ORDER BY cnt DESC, prev ASC, cur ASC LIMIT {b}),
    pos AS (
      SELECT doc_id, CASE WHEN i > 1 THEN tk[i - 1] END AS prev, tk[i] AS cur
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)
    ),
    sc AS (
      SELECT p.doc_id,
        log10(CASE WHEN p.prev IS NULL THEN {p_uni}
              ELSE {lam} * coalesce(bg.cnt / pv.cnt, 0)
                   + {1.0 - lam} * ({p_uni}) END) AS lp
      FROM pos p
      LEFT JOIN vocab cv ON cv.tok = p.cur
      LEFT JOIN vocab pv ON pv.tok = p.prev
      LEFT JOIN bigs bg ON bg.prev = p.prev AND bg.cur = p.cur, m
    ),
    agg AS (SELECT doc_id, round(avg(lp), 4) AS lm_logprob,
                   count(*)::BIGINT AS lm_tokens
            FROM sc GROUP BY doc_id)
    SELECT d.doc_id, a.lm_logprob,
           coalesce(a.lm_tokens, 0)::BIGINT AS lm_tokens
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


# Round-8 window re-fold (round-7 verdict #1): unigram and interpolated
# bigram LM scoring merge into ONE tagged-union driver row — BOTH fits
# (vocab/bigram selection, tie-breaks, smoothing, OOV mass) and both
# scoring passes still ride the value hash per document — plus the
# CCNet head/middle/tail perplexity-tercile split (lm.lm_bucket,
# NTILE-exact per source, Wenzek et al. 2020 §4.3) as a third section.
BENCH_ONLY["text_lm_bigram"] = _lm_bigram_row

# vocab 16 < the corpus's ~31 distinct tokens, so the kn row exercises
# VOCAB TRUNCATION live: OOV curs floor at 1/cont_denom, OOV prevs back
# off fully — the divergence class review r11 #1 found is inside the hash
_KN_V, _KN_B, _KN_D = 16, 256, 0.75


def _lm_kn_row(spark, sf):
    """Interpolated Kneser-Ney bigram scoring (round 11) — the ENTIRE
    fit (vocab, truncated bigram table, continuation counts, exact
    context totals, truncation leftover mass) plus scoring, one hash."""
    from adampro_spark.pipeline.lm import bigram_lm_score, fit_bigram_lm

    docs = _docs(spark, sf)
    vocab, bigrams, meta = fit_bigram_lm(
        docs, vocab_size=_KN_V, bigram_size=_KN_B,
        smoothing="kn", discount=_KN_D,
    )
    out = bigram_lm_score(docs, vocab, bigrams, meta)
    return out.select(
        "doc_id",
        F.round("lm_logprob", 4).alias("lm_logprob"),
        "lm_tokens",
    )


def _lm_kn_sql(v: int = _KN_V, b: int = _KN_B, d: float = _KN_D) -> str:
    toks = _TOKS.format(t="text")
    p_uni = "(coalesce(cv.cnt, 0) + 1) / (m.n + m.v + 1)"
    p_cont = "(coalesce(cn.cont, 0) + 1) / cd.cont_denom"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
    ex AS (SELECT doc_id, unnest(tk) AS tok FROM t),
    counts AS (SELECT tok, count(*)::BIGINT AS cnt FROM ex GROUP BY tok),
    tot AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n, count(*)::BIGINT AS d
            FROM counts),
    vocab AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok ASC LIMIT {v}),
    m AS (SELECT n, least(d, {v}) AS v FROM tot),
    pairs AS (
      SELECT prev, cur, count(*)::BIGINT AS cnt FROM (
        SELECT tk[i - 1] AS prev, tk[i] AS cur
        FROM (SELECT tk, unnest(generate_series(2, len(tk))) AS i FROM t)
      ) GROUP BY prev, cur
    ),
    bigs AS (SELECT prev, cur, cnt FROM pairs
             ORDER BY cnt DESC, prev ASC, cur ASC LIMIT {b}),
    -- cont is VOCAB-RESTRICTED exactly like the Spark model (the fitted
    -- vocab table is the only model artifact, so an OOV cur carries no
    -- continuation count and floors at 1/cont_denom — review r11: the
    -- unrestricted table silently diverged whenever the vocab truncates)
    cont AS (SELECT cur, count(*)::BIGINT AS cont FROM pairs
             WHERE cur IN (SELECT tok FROM vocab) GROUP BY cur),
    ctx AS (SELECT prev, sum(cnt)::DOUBLE AS ctx_total FROM pairs
            WHERE prev IN (SELECT tok FROM vocab) GROUP BY prev),
    tstat AS (SELECT prev, sum(cnt)::BIGINT AS t_sum,
                     count(*)::BIGINT AS t_types
              FROM bigs GROUP BY prev),
    cd AS (SELECT (SELECT count(*) FROM pairs) + m.v + 1 AS cont_denom FROM m),
    pos AS (
      SELECT doc_id, CASE WHEN i > 1 THEN tk[i - 1] END AS prev, tk[i] AS cur
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)
    ),
    sc AS (
      SELECT p.doc_id,
        log10(CASE
          WHEN p.prev IS NULL THEN {p_uni}
          WHEN cx.ctx_total IS NOT NULL THEN
            greatest(coalesce(bg.cnt, 0) - {d}, 0) / cx.ctx_total
            + (1 - (coalesce(tt.t_sum, 0) - {d} * coalesce(tt.t_types, 0))
                   / cx.ctx_total) * ({p_cont})
          ELSE {p_cont} END) AS lp
      FROM pos p
      LEFT JOIN vocab cv ON cv.tok = p.cur
      LEFT JOIN cont cn ON cn.cur = p.cur
      LEFT JOIN ctx cx ON cx.prev = p.prev
      LEFT JOIN tstat tt ON tt.prev = p.prev
      LEFT JOIN bigs bg ON bg.prev = p.prev AND bg.cur = p.cur, m, cd
    ),
    agg AS (SELECT doc_id, round(avg(lp), 4) AS lm_logprob,
                   count(*)::BIGINT AS lm_tokens
            FROM sc GROUP BY doc_id)
    SELECT dd.doc_id, a.lm_logprob,
           coalesce(a.lm_tokens, 0)::BIGINT AS lm_tokens
    FROM documents dd LEFT JOIN agg a USING (doc_id)
    """


BENCH_ONLY["text_lm_kn"] = _lm_kn_row


def _lm_bucket_row(spark, sf):
    from adampro_spark.pipeline.lm import fit_unigram_lm, lm_bucket

    docs = _docs(spark, sf).select("doc_id", "source", "text")
    vocab, meta = fit_unigram_lm(docs, vocab_size=_LM_V)
    # pin the exact split: the oracle mirrors NTILE, and method="auto"
    # (the r9 default) would silently flip to the approximate quantile
    # path past the group-size gate (review r9 — the cap-free analogue
    # of dedup_simhash_suite's max_bucket_size=1e9)
    return lm_bucket(docs, vocab, meta, by="source", method="ntile")


BENCH_ONLY["text_lm_bucket"] = _lm_bucket_row


def _lm_bucket_sql(v: int = _LM_V) -> str:
    return f"""
    WITH s AS (
      SELECT sc.doc_id, d.source, sc.lm_logprob
      FROM ({_lm_sql(v)}) sc JOIN documents d USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id, source, lm_logprob,
             ntile(3) OVER (PARTITION BY source
                            ORDER BY lm_logprob DESC, doc_id ASC) AS nt
      FROM s WHERE lm_logprob IS NOT NULL
    )
    SELECT doc_id, source, lm_logprob,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket
    FROM ranked
    UNION ALL
    SELECT doc_id, source, lm_logprob, NULL::VARCHAR
    FROM s WHERE lm_logprob IS NULL
    """


_DSIR_B = 512  # hashed feature buckets for the oracle fit
_DSIR_K = 50  # Gumbel top-k sample size
_DSIR_SEED = 42


def _dsir_rows(spark, sf):
    """DSIR importance weights + the Gumbel top-k resample (round 8,
    pipeline/dsir.py — Xie et al. 2023): raw = the whole corpus, target
    = the doc_id % 10 slice; both the per-document log-likelihood-ratio
    weights and the exact k-document selection ride the driver hash."""
    from adampro_spark.pipeline.dsir import (
        dsir_resample, dsir_weights, fit_dsir,
    )

    docs = _docs(spark, sf).select("doc_id", "text")
    # round 15: the target is a slice of the raw corpus, so the fit runs
    # as ONE feature pass (Column target), and the per-doc weights are
    # computed once into a slim checkpoint shared by both output legs
    # (the resample used to re-run the whole explode+ratio join)
    buckets, meta = fit_dsir(
        docs, F.col("doc_id") % 10 == 0, n_buckets=_DSIR_B
    )
    wdf = dsir_weights(docs, buckets, meta).localCheckpoint(eager=True)
    w = wdf.select(
        F.lit("dsir").alias("model"), "doc_id",
        F.round("dsir_logweight", 4).alias("lm_logprob"),
        F.col("dsir_feats").alias("lm_tokens"),
        F.lit(None).cast("string").alias("bucket"),
    )
    top = dsir_resample(
        docs, buckets, meta, k=_DSIR_K, seed=_DSIR_SEED, weights=wdf
    ).select(
        F.lit("dsir_top").alias("model"), "doc_id",
        F.round("dsir_logweight", 4).alias("lm_logprob"),
        F.lit(None).cast("long").alias("lm_tokens"),
        F.lit(None).cast("string").alias("bucket"),
    )
    return _union_all([w, top])


def _dsir_sql() -> str:
    from adampro_spark.pipeline.mix import _MIX_A, _MIX_B
    from adampro_spark.pipeline.text import HASH_P

    b = _DSIR_B
    th = f"list_transform({_TOKS.format(t='text')}, t -> {_sql_poly_hash('t')})"
    uh = _sql_poly_hash(
        f"concat('dsir|{_DSIR_SEED}', '|', doc_id::VARCHAR)"
    )
    return f"""
    WITH dth AS (SELECT doc_id, {th} AS th FROM documents),
    dfe AS (
      SELECT doc_id, unnest(list_concat(
        list_transform(th, h -> h % {b}),
        CASE WHEN len(th) >= 2
          THEN list_transform(generate_series(1, len(th) - 1),
                 i -> ({_fold('list_slice(th, i, i + 1)')}) % {b})
          ELSE CAST([] AS BIGINT[]) END)) AS bucket
      FROM dth
    ),
    drc AS (SELECT bucket, count(*)::BIGINT AS c FROM dfe GROUP BY bucket),
    dtc AS (SELECT bucket, count(*)::BIGINT AS c FROM dfe
            WHERE doc_id % 10 = 0 GROUP BY bucket),
    dtot AS (SELECT (SELECT coalesce(sum(c), 0) FROM drc) AS nr,
                    (SELECT coalesce(sum(c), 0) FROM dtc) AS nt),
    dbr AS (
      -- every scored-corpus bucket is in drc (raw = scored corpus), so
      -- the left join covers the full ratio table the scorer can hit
      SELECT r.bucket,
             log10((coalesce(t.c, 0) + 1) / (dtot.nt + {b}))
           - log10((r.c + 1) / (dtot.nr + {b})) AS lr
      FROM drc r LEFT JOIN dtc t USING (bucket), dtot
    ),
    dw AS (
      SELECT d.doc_id, coalesce(s.lw, 0.0) AS lw,
             coalesce(s.nf, 0)::BIGINT AS nf
      FROM documents d LEFT JOIN (
        SELECT f.doc_id, sum(b2.lr) AS lw, count(*)::BIGINT AS nf
        FROM dfe f JOIN dbr b2 USING (bucket)
        GROUP BY f.doc_id) s USING (doc_id)
    )
    SELECT 'dsir' AS model, doc_id, round(lw, 4) AS lm_logprob,
           nf AS lm_tokens, NULL::VARCHAR AS bucket
    FROM dw
    UNION ALL
    SELECT 'dsir_top', doc_id, round(lw, 4), NULL::BIGINT, NULL::VARCHAR
    FROM (
      SELECT doc_id, lw,
        lw * ln(10) - ln(-ln(greatest(
          ((({uh}) * {_MIX_A} + {_MIX_B}) % {HASH_P}) / {HASH_P}.0,
          1e-12))) AS gk
      FROM dw ORDER BY gk DESC, doc_id ASC LIMIT {_DSIR_K})
    """


def _ccnet_rows(spark, sf, include_mh: bool = True):
    """Round 10 (verdict r9 #6): the CCNet END-TO-END composition
    (pipeline/ccnet.py, Wenzek et al. 2020) as one hash-adjudicated
    part — trained NB langid → curate (gates + exact dedup) →
    per-LANGUAGE perplexity terciles.  The value hash pins every stage
    at once: langid argmax, gate arithmetic, dedup survivorship, the LM
    fit/score, and the per-language NTILE split.  ``lang|bucket`` folds
    into the suite's shared bucket column.

    ``include_mh=False`` (bench only) keeps the round-10 two-part shape
    so the ``pipeline_ccnet`` bench row stays comparable across rounds;
    the minhash composition gets its own ``pipeline_ccnet_mh`` row.
    The DRIVER suite always carries all three parts."""
    from adampro_spark.caching import CacheScope
    from adampro_spark.pipeline.ccnet import _ccnet_lm_buckets, _ccnet_survivors
    from adampro_spark.pipeline.lm import fit_unigram_lm, lm_token_table

    docs = _docs(spark, sf).select("doc_id", "text")
    vocab, meta = fit_unigram_lm(docs, vocab_size=_LM_V)
    legs = []
    with CacheScope() as scope:
        surv, hint = _ccnet_survivors(scope, docs)
        # ONE kept (doc_id, lang, tok) explode of the survivors feeds the
        # shared-LM score AND both per-language legs (fit + score)
        ex = scope.keep(lm_token_table(surv, by="lang_cc"))
        # 'ccnet': the shared corpus-fit LM; 'ccnet_pl': the PAPER-FAITHFUL
        # per-language mode — one model per identified language fit on the
        # SAME survivors, each language bucketed against its own model
        for model, per_language in (("ccnet", False), ("ccnet_pl", True)):
            out = _ccnet_lm_buckets(
                surv, hint, vocab, meta, per_language, _LM_V, exploded=ex
            )
            legs.append(out.select(
                F.lit(model).alias("model"),
                "doc_id",
                "lm_logprob",
                F.lit(None).cast("long").alias("lm_tokens"),
                F.concat(F.col("lang_cc"), F.lit("|"), F.col("bucket")).alias(
                    "bucket"
                ),
            ))
        if include_mh:
            # round 11 third part (verdict r10 #5): the PRODUCTION dedup
            # shape — ccnet with near-dup minhash removal (curate_kw
            # routes curate's dedup stage; threshold 0.8, the curate
            # default).  The oracle leg is the exact all-pairs Jaccard
            # graph + recursive components over the gate survivors (the
            # dedup_minhash / dedup_resolution oracle pattern), so the
            # banded plan's survivor set is pinned end-to-end inside the
            # composition.  max_bucket_size is disabled like the simhash
            # oracle row: the hot-bucket star guard is a production bound
            # whose pair-set semantics are pytest-pinned; the EXHAUSTIVE
            # contract is what the all-pairs oracle states.
            legs.append(_ccnet_mh_rows(spark, sf, docs, vocab, meta))
        return _union_all(legs).localCheckpoint(eager=True)


def _ccnet_mh_rows(spark, sf, docs=None, vocab=None, meta=None):
    """The minhash-dedup CCNet composition alone (round 11, verdict r10
    #5) — see _ccnet_rows.  Callable standalone for the
    ``pipeline_ccnet_mh`` bench row."""
    from adampro_spark.pipeline.ccnet import ccnet_pipeline
    from adampro_spark.pipeline.lm import fit_unigram_lm

    if docs is None:
        docs = _docs(spark, sf).select("doc_id", "text")
        vocab, meta = fit_unigram_lm(docs, vocab_size=_LM_V)
    out_mh = ccnet_pipeline(
        docs, vocab, meta,
        curate_kw={
            "dedup": "minhash", "dedup_threshold": 0.8,
            "max_bucket_size": 10**9,
        },
    )
    return out_mh.select(
        F.lit("ccnet_mh").alias("model"),
        "doc_id",
        "lm_logprob",
        F.lit(None).cast("long").alias("lm_tokens"),
        F.concat(F.col("lang_cc"), F.lit("|"), F.col("bucket")).alias(
            "bucket"
        ),
    )


def _ccnet_both_sql(v: int = _LM_V) -> str:
    """ONE mirror for both composition parts, sharing the
    langid -> curate-gates -> exact-dedup survivor prefix (review r10:
    the per-language mirror used to copy the prefix verbatim — two
    copies of the gate arithmetic is how parity silently breaks).
    Emits ``(model, doc_id, lm_logprob, bucket)``:

    * ``'ccnet'`` — the corpus-fit shared unigram scorer, NTILE(3)
      per language (NULL-scoring docs keep a NULL bucket);
    * ``'ccnet_pl'`` — the per-LANGUAGE mode (fit_unigram_lm_by +
      lm_bucket_by): one add-one-smoothed vocabulary per language,
      each language scored against its own model and split into
      terciles.  Survivors carry ≥ 20 tokens, so no NULL-score branch
      exists on this path.
    * ``'ccnet_mh'`` (round 11, verdict r10 #5) — the production
      near-dup shape: the SAME gate survivors deduplicated by the
      exact all-pairs Jaccard ≥ 0.8 graph with recursive-reachability
      components and min-pk survivorship (the dedup_minhash +
      dedup_resolution oracle fragments), then scored/bucketed like
      ``'ccnet'``."""
    quality = (
        "(CASE WHEN length(text) > 0 THEN length(regexp_replace(text,"
        " '[^a-zA-Z0-9 ]', '', 'g')) / length(text) ELSE 0.0 END)"
        " * least(len(toks) / 20.0, 1.0)"
    )
    tercile = (
        "(CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'"
        " ELSE 'tail' END)"
    )
    jac = (
        "round(len(list_intersect(a.sh, b.sh)) / (len(a.sh) + len(b.sh)"
        " - len(list_intersect(a.sh, b.sh))), 4)"
    )
    return f"""
    WITH RECURSIVE ld AS ({_langid_nb_sql()}),
    ct AS (
      SELECT d.doc_id, d.text, ld.lang_nb,
             {_TOKS.format(t='d.text')} AS toks
      FROM documents d JOIN ld ON ld.doc_id = d.doc_id
    ),
    ckept AS (
      SELECT doc_id, text, lang_nb FROM ct
      WHERE len(toks) >= 20 AND {quality} >= 0.3
    ),
    ch AS (SELECT doc_id, lang_nb, text,
                  {_sql_poly_hash(_sql_norm_text('text'))} AS hh
           FROM ckept),
    coutp AS (SELECT doc_id, lang_nb, text FROM ch
              WHERE doc_id IN (SELECT min(doc_id) FROM ch GROUP BY hh)),
    -- shared-LM part: corpus-fit scorer joined onto the survivors
    csc AS (
      SELECT o.doc_id, o.lang_nb, s.lm_logprob
      FROM coutp o JOIN ({_lm_sql(v)}) s ON s.doc_id = o.doc_id
    ),
    cranked AS (
      SELECT doc_id, lang_nb, lm_logprob,
             ntile(3) OVER (PARTITION BY lang_nb
                            ORDER BY lm_logprob DESC, doc_id ASC) AS nt
      FROM csc WHERE lm_logprob IS NOT NULL
    ),
    -- per-language part: per-group fit + scoring over the SAME survivors
    pex AS (SELECT doc_id, lang_nb,
                   unnest({_TOKS.format(t='text')}) AS tok
            FROM coutp),
    pcnt AS (SELECT lang_nb, tok, count(*)::BIGINT AS cnt
             FROM pex GROUP BY lang_nb, tok),
    pden AS (SELECT lang_nb,
                    (coalesce(sum(cnt), 0) + least(count(*), {v}) + 1)::DOUBLE
                      AS denom
             FROM pcnt GROUP BY lang_nb),
    pvoc AS (SELECT lang_nb, tok, cnt,
                    row_number() OVER (PARTITION BY lang_nb
                                       ORDER BY cnt DESC, tok ASC) AS rn
             FROM pcnt),
    plp AS (SELECT pv.lang_nb, pv.tok, log10((pv.cnt + 1) / pd.denom) AS logp
            FROM pvoc pv JOIN pden pd USING (lang_nb) WHERE pv.rn <= {v}),
    psc AS (SELECT e.doc_id, e.lang_nb,
                   round(avg(coalesce(l.logp, log10(1.0 / pd.denom))), 4)
                     AS lm_logprob
            FROM pex e
            JOIN pden pd USING (lang_nb)
            LEFT JOIN plp l ON l.lang_nb = e.lang_nb AND l.tok = e.tok
            GROUP BY e.doc_id, e.lang_nb),
    pr AS (SELECT doc_id, lang_nb, lm_logprob,
                  ntile(3) OVER (PARTITION BY lang_nb
                                 ORDER BY lm_logprob DESC, doc_id ASC) AS nt
           FROM psc),
    -- ccnet_mh part: minhash-dedup composition over the SAME gate
    -- survivors — exact all-pairs Jaccard >= 0.8 graph, recursive
    -- components, min-pk survivors (verdict r10 #5)
    mhs AS (SELECT doc_id,
                   list_distinct({_sql_shingles('text', 8)}) AS sh
            FROM ckept),
    mp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM mhs a JOIN mhs b ON a.doc_id < b.doc_id
           WHERE {jac} >= 0.8),
    me AS (SELECT id_a AS src, id_b AS dst FROM mp
           UNION SELECT id_b, id_a FROM mp),
    mreach(id, r) AS (
      SELECT DISTINCT src, src FROM me
      UNION
      SELECT e.src, mreach.r FROM me e JOIN mreach ON e.dst = mreach.id
    ),
    mdrop AS (SELECT id FROM
                (SELECT id, min(r) AS survivor FROM mreach GROUP BY id)
              WHERE id != survivor),
    moutp AS (SELECT doc_id, lang_nb FROM ckept
              WHERE doc_id NOT IN (SELECT id FROM mdrop)),
    msc AS (SELECT o.doc_id, o.lang_nb, s.lm_logprob
            FROM moutp o JOIN ({_lm_sql(v)}) s ON s.doc_id = o.doc_id),
    mranked AS (SELECT doc_id, lang_nb, lm_logprob,
                       ntile(3) OVER (PARTITION BY lang_nb
                                      ORDER BY lm_logprob DESC, doc_id ASC)
                         AS nt
                FROM msc WHERE lm_logprob IS NOT NULL)
    SELECT 'ccnet' AS model, doc_id, lm_logprob,
           lang_nb || '|' || {tercile} AS bucket
    FROM cranked
    UNION ALL
    SELECT 'ccnet', doc_id, lm_logprob, NULL::VARCHAR
    FROM csc WHERE lm_logprob IS NULL
    UNION ALL
    SELECT 'ccnet_pl', doc_id, lm_logprob, lang_nb || '|' || {tercile}
    FROM pr
    UNION ALL
    SELECT 'ccnet_mh', doc_id, lm_logprob, lang_nb || '|' || {tercile}
    FROM mranked
    UNION ALL
    SELECT 'ccnet_mh', doc_id, lm_logprob, NULL::VARCHAR
    FROM msc WHERE lm_logprob IS NULL
    """


def _lm_suite(spark, sf):
    uni = _lm_score_row(spark, sf).select(
        F.lit("unigram").alias("model"), "doc_id", "lm_logprob", "lm_tokens",
        F.lit(None).cast("string").alias("bucket"),
    )
    bi = _lm_bigram_row(spark, sf).select(
        F.lit("bigram").alias("model"), "doc_id", "lm_logprob", "lm_tokens",
        F.lit(None).cast("string").alias("bucket"),
    )
    kn = _lm_kn_row(spark, sf).select(
        F.lit("kn").alias("model"), "doc_id", "lm_logprob", "lm_tokens",
        F.lit(None).cast("string").alias("bucket"),
    )
    bk = _lm_bucket_row(spark, sf).select(
        F.lit("bucket3").alias("model"), "doc_id", "lm_logprob",
        F.lit(None).cast("long").alias("lm_tokens"), "bucket",
    )
    return _union_all(
        [uni, bi, kn, bk, _dsir_rows(spark, sf), _ccnet_rows(spark, sf)]
    )


BENCH_ONLY["pipeline_dsir"] = _dsir_rows
# bench rows: pipeline_ccnet keeps the round-10 two-part shape for
# cross-round timing comparability; the minhash composition's cost is
# its own row (round 11) — the DRIVER suite row carries all three parts
BENCH_ONLY["pipeline_ccnet"] = lambda spark, sf: _ccnet_rows(
    spark, sf, include_mh=False
)
BENCH_ONLY["pipeline_ccnet_mh"] = _ccnet_mh_rows

_register(
    "text_lm_suite",
    _lm_suite,
    f"""
    SELECT 'unigram' AS model, *, NULL::VARCHAR AS bucket FROM ({_lm_sql()})
    UNION ALL
    SELECT 'bigram', *, NULL::VARCHAR FROM ({_lm_bigram_sql()})
    UNION ALL
    SELECT 'kn', *, NULL::VARCHAR FROM ({_lm_kn_sql()})
    UNION ALL
    SELECT 'bucket3', doc_id, lm_logprob, NULL::BIGINT, bucket
    FROM ({_lm_bucket_sql()})
    UNION ALL
    SELECT * FROM ({_dsir_sql()})
    UNION ALL
    SELECT model, doc_id, lm_logprob, NULL::BIGINT, bucket
    FROM ({_ccnet_both_sql()})
    """,
)


# ---------------------------------------------------------------------------
# exact substring (span) dedup (dedup.span_dedup) — planted shared span on
# every 6th document; the oracle adjudicates positioned gram hashing,
# hotness, coverage arithmetic and the token-level rebuild
# ---------------------------------------------------------------------------

_SPAN_N = 5
_SPAN = "shared boilerplate sentence repeated across documents verbatim"


def _span_dedup_row(spark, sf):
    from adampro_spark.pipeline.dedup import span_dedup

    planted = _docs(spark, sf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.col("text"), F.lit(" " + _SPAN)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return span_dedup(planted, n=_SPAN_N, min_docs=2)


def _span_dedup_sql(n: int = _SPAN_N, min_docs: int = 2) -> str:
    toks = _TOKS.format(t="text")
    th = f"list_transform({toks}, t -> {_sql_poly_hash('t')})"
    return f"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0 THEN text || ' {_SPAN}'
                  ELSE text END AS text
      FROM documents
    ),
    -- toks: CASE-PRESERVING split for the rebuild (hashes below use the
    -- lowercased tokens; positions align 1:1)
    t AS (SELECT doc_id, text,
                 list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'),
                             t2 -> length(t2) > 0) AS toks,
                 {th} AS th FROM planted),
    pg AS (
      SELECT doc_id,
        unnest(CASE WHEN len(th) >= {n}
          THEN list_transform(generate_series(1, len(th) - {n - 1}),
                 i -> {_fold(f'list_slice(th, i, i + {n - 1})')})
          ELSE CAST([] AS BIGINT[]) END) AS g,
        unnest(CASE WHEN len(th) >= {n}
          THEN generate_series(1, len(th) - {n - 1})
          ELSE CAST([] AS BIGINT[]) END) AS s
      FROM t
    ),
    hot AS (
      SELECT g FROM (SELECT DISTINCT doc_id, g FROM pg)
      GROUP BY g HAVING count(*) >= {min_docs}
    ),
    starts AS (
      SELECT doc_id, list(s) AS ss FROM pg
      WHERE g IN (SELECT g FROM hot) GROUP BY doc_id
    )
    SELECT t.doc_id,
      CASE WHEN st.ss IS NULL THEN t.text
           -- coalesce: DuckDB array_to_string([]) is NULL where Spark's
           -- concat_ws yields '' (fully-cut documents)
           ELSE coalesce(array_to_string(
             list_transform(
               list_filter(
                 list_zip(t.toks, generate_series(1, len(t.toks))),
                 z -> len(list_filter(st.ss,
                        s2 -> s2 <= z[2] AND z[2] <= s2 + {n - 1})) = 0),
               z -> z[1]),
             ' '), '') END AS text,
      coalesce(
        len(list_filter(
          list_zip(t.toks, generate_series(1, len(t.toks))),
          z -> len(list_filter(coalesce(st.ss, CAST([] AS BIGINT[])),
                 s2 -> s2 <= z[2] AND z[2] <= s2 + {n - 1})) > 0)),
        0)::BIGINT AS n_tokens_removed
    FROM t LEFT JOIN starts st USING (doc_id)
    """


_register("dedup_spans", _span_dedup_row, _span_dedup_sql())


# ---------------------------------------------------------------------------
# asymmetric dedup vs a reference corpus (dedup.dedup_against) — NEW batch =
# the truncated copies, REF = the base documents; survivors are new docs
# whose exact shingle Jaccard vs EVERY ref doc stays under threshold
# ---------------------------------------------------------------------------


def _against_new(spark, sf) -> DataFrame:
    d = _docs(spark, sf)
    return (
        d.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + _OFF)
        .withColumn(
            "text",
            F.substring(F.col("text"), 1, ((F.length("text") * 9) / 10).cast("int")),
        )
        .unionByName(
            # shifted-id clean rows: reuse corpus text under NEW ids paired
            # against a DIFFERENT ref doc population slice; most are still
            # near their own source, so the oracle decides row by row
            d.filter(F.col("doc_id") % 11 == 3)
            .withColumn("doc_id", F.col("doc_id") + 2 * _OFF)
        )
        .select("doc_id", "text")
    )


def _dedup_against_row(spark, sf):
    from adampro_spark.pipeline.dedup import dedup_against

    new = _against_new(spark, sf)
    ref = _docs(spark, sf).select("doc_id", "text")
    return dedup_against(
        new, ref, method="minhash", threshold=0.7, return_matches=True
    )


def _dedup_against_simhash_row(spark, sf):
    # Manku multi-block keys make the cross-corpus banded join
    # EXHAUSTIVE (every pair within max_hamming shares one table's full
    # key), so the all-pairs oracle is exactly equivalent — the oracle
    # row disables the hot-bucket cap like dedup_simhash_suite (the
    # production default keeps it; pytest covers its semantics)
    from adampro_spark.pipeline.dedup import dedup_against

    new = _against_new(spark, sf)
    ref = _docs(spark, sf).select("doc_id", "text")
    return dedup_against(
        new, ref, method="simhash", max_hamming=3,
        max_bucket_size=10**9, return_matches=True,
    )


def _dedup_against_suite(spark, sf):
    # tagged union (round-8 fold): the shingle-Jaccard and the
    # token-order-tolerant simhash asymmetric paths share a
    # (method, new_pk, ref_pk, score) schema in one driver row
    mh = _dedup_against_row(spark, sf).select(
        F.lit("minhash").alias("method"), "new_pk", "ref_pk",
        F.col("jaccard").cast("double").alias("score"),
    )
    sh = _dedup_against_simhash_row(spark, sf).select(
        F.lit("simhash").alias("method"), "new_pk", "ref_pk",
        F.col("hamming").cast("double").alias("score"),
    )
    return _union_all([mh, sh])


def _dedup_against_sql(threshold: float = 0.7, shingle_n: int = 8) -> str:
    sh = f"list_distinct({_sql_shingles('text', shingle_n)})"
    jac = (
        "len(list_intersect(n.sh, r.sh)) / "
        "(len(n.sh) + len(r.sh) - len(list_intersect(n.sh, r.sh)))"
    )
    ham = "bit_count(xor(sn.simhash, sr.simhash))"
    return f"""
    WITH newb AS (
      SELECT doc_id + {_OFF} AS doc_id,
             substring(text, 1, CAST(length(text) * 9 // 10 AS INT)) AS text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + {2 * _OFF} AS doc_id, text
      FROM documents WHERE doc_id % 11 = 3
    ),
    n AS (SELECT doc_id, {sh} AS sh FROM newb),
    r AS (SELECT doc_id, {sh} AS sh FROM documents),
    sn AS ({_simhash_sql().replace('FROM documents', 'FROM newb')}),
    sr AS ({_simhash_sql()})
    SELECT 'minhash' AS method, n.doc_id AS new_pk, r.doc_id AS ref_pk,
           round({jac}, 4)::DOUBLE AS score
    FROM n CROSS JOIN r
    WHERE round({jac}, 4) >= {threshold}
    UNION ALL
    SELECT 'simhash', sn.doc_id, sr.doc_id, {ham}::DOUBLE
    FROM sn CROSS JOIN sr
    WHERE {ham} <= 3
    """


# BENCH_ONLY keeps the round-7 minhash-only shape for timing
# comparability; the driver row is now the minhash+simhash union
BENCH_ONLY["dedup_against"] = _dedup_against_row

_register("dedup_against", _dedup_against_suite, _dedup_against_sql())


# ---------------------------------------------------------------------------
# per-source gate attrition (curate.curate_report_by) — the per-crawl
# report a production pipeline tracks; grouped mirror of the gate SQL
# ---------------------------------------------------------------------------


_REPORT_COUNTERS = (
    "n", "n_lang_fail", "n_short", "n_too_long", "n_low_quality", "n_pass",
)


def _report_by_row(spark, sf):
    """Per-source gate attrition (curate_report_by) + the per-DOCUMENT
    failure table (curate_failures, round 10 — verdict r9 #8) as one
    tagged union: ``('report', source|counter, count)`` rows melt the
    aggregate report, ``('failures', doc_id|gate,gate,..., NULL)`` rows
    pin the exact failing-gate SET per document (sorted stripped names
    — the curate_failures output contract).

    Deliberately calls BOTH public operators (two map-only gate passes
    over the corpus) rather than computing one shared flag projection:
    the row exists to adjudicate curate_report_by AND curate_failures
    as users call them — inlining a shared implementation here would
    stop testing the operators (review r10, accepted)."""
    from adampro_spark.pipeline.curate import curate_failures, curate_report_by

    kw = dict(langs=("en",), min_tokens=20, min_quality=0.3)
    rep = curate_report_by(_docs(spark, sf), by="source", **kw)
    melted = rep.select(
        F.lit("report").alias("part"),
        F.explode(
            F.array(*[
                F.struct(
                    F.concat(F.col("source"), F.lit(f"|{c}")).alias("k"),
                    F.col(c).cast("long").alias("v"),
                )
                for c in _REPORT_COUNTERS
            ])
        ).alias("s"),
    ).select("part", F.col("s.k").alias("k"), F.col("s.v").alias("v"))
    fails = curate_failures(_docs(spark, sf), **kw).select(
        F.lit("failures").alias("part"),
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.array_join("failed_gates", ","),
        ).alias("k"),
        F.lit(None).cast("long").alias("v"),
    )
    return melted.unionByName(fails)


def _report_by_sql() -> str:
    structs = ", ".join(
        f"{{'hits': len(list_filter(toks, t -> list_contains({list(STOPWORDS[lang])}, t))), 'lang': '{lang}'}}"
        for lang in sorted(HEURISTIC_LANGID_LANGS)
    )
    quality = (
        "(CASE WHEN length(text) > 0 THEN length(regexp_replace(text,"
        " '[^a-zA-Z0-9 ]', '', 'g')) / length(text) ELSE 0.0 END)"
        " * least(len(toks) / 20.0, 1.0)"
    )
    counters = {
        "n": "count(*)",
        "n_lang_fail": "count(*) FILTER (WHERE NOT lang_ok)",
        "n_short": "count(*) FILTER (WHERE NOT len_ok)",
        "n_too_long": "0",
        "n_low_quality": "count(*) FILTER (WHERE NOT q_ok)",
        "n_pass": "count(*) FILTER (WHERE lang_ok AND len_ok AND q_ok)",
    }
    melt = "\n      UNION ALL ".join(
        f"SELECT 'report' AS part, source || '|{name}' AS k,"
        f" ({expr})::BIGINT AS v FROM f GROUP BY source"
        for name, expr in counters.items()
    )
    # failed-gate array: sorted by STRIPPED name (the curate_failures
    # contract) — cap_ok, lang_ok, len_ok, q_ok
    gates = (
        "list_filter(["
        "CASE WHEN NOT coalesce(cap_ok, FALSE) THEN 'cap_ok' END, "
        "CASE WHEN NOT coalesce(lang_ok, FALSE) THEN 'lang_ok' END, "
        "CASE WHEN NOT coalesce(len_ok, FALSE) THEN 'len_ok' END, "
        "CASE WHEN NOT coalesce(q_ok, FALSE) THEN 'q_ok' END"
        "], x -> x IS NOT NULL)"
    )
    return f"""
    WITH t AS (SELECT doc_id, source, text, {_TOKS.format(t='text')} AS toks
               FROM documents),
    f AS (
      SELECT doc_id, source,
        (CASE WHEN best.hits <= 0 THEN 'und' ELSE best.lang END) = 'en'
          AS lang_ok,
        len(toks) >= 20 AS len_ok,
        TRUE AS cap_ok,
        {quality} >= 0.3 AS q_ok
      FROM (SELECT doc_id, source, text, toks,
              list_aggregate([{structs}], 'max') AS best FROM t)
    )
    {melt}
    UNION ALL
    SELECT 'failures', doc_id::VARCHAR || '|' || array_to_string(g, ','),
           NULL::BIGINT
    FROM (SELECT doc_id, {gates} AS g FROM f)
    WHERE len(g) > 0
    """


_register("curate_report_by_source", _report_by_row, _report_by_sql())


# ---------------------------------------------------------------------------
# FULL curation composition: line-dedup → gates → LM floor → exact dedup,
# survivors AND the entire attrition report hash-checked in ONE row — the
# end-to-end adjudication of curate's round-7 stage surface
# ---------------------------------------------------------------------------

_CF_FLOOR = -1.55  # fixed LM floor between the corpus score modes


def _curate_full_row(spark, sf):
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.lm import fit_unigram_lm

    # two orthogonal plants: a shared SPAN at the end of the original
    # text (every 6th doc — cut by the round-8 span stage) and a shared
    # BOILERPLATE LINE appended after it (every 4th doc — removed by the
    # line stage; appending the line last keeps it byte-identical across
    # carriers, so its hotness is unaffected by the span plant)
    planted = _docs(spark, sf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.col("text"), F.lit(" " + _SPAN)),
        ).otherwise(F.col("text")).alias("text"),
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit("\n" + _BOILER)),
        ).otherwise(F.col("text")).alias("text"),
    )
    vocab, meta = fit_unigram_lm(planted, vocab_size=_LM_V)
    out, report = curate(
        planted,
        langs=("en",), min_tokens=20, min_quality=0.3,
        lm=(vocab, meta, _CF_FLOOR),
        line_dedup_min_docs=3,
        span_dedup_min_docs=2, span_n=_SPAN_N,
        dedup="exact",
    )
    surv = out.select(
        F.lit("doc").alias("tag"), F.col("doc_id").cast("long").alias("val")
    )
    rep = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(report.items())], "tag string, val long"
    )
    return surv.unionByName(rep)


def _curate_full_sql(v: int = _LM_V, floor: float = _CF_FLOOR) -> str:
    structs = ", ".join(
        f"{{'hits': len(list_filter(toks, t -> list_contains({list(STOPWORDS[lang])}, t))), 'lang': '{lang}'}}"
        for lang in sorted(HEURISTIC_LANGID_LANGS)
    )
    quality = (
        "(CASE WHEN length(text) > 0 THEN length(regexp_replace(text,"
        " '[^a-zA-Z0-9 ]', '', 'g')) / length(text) ELSE 0.0 END)"
        " * least(len(toks) / 20.0, 1.0)"
    )
    lh = _sql_poly_hash("ln")
    toks_of = _TOKS
    n = _SPAN_N
    sth = f"list_transform({_TOKS.format(t='text')}, t -> {_sql_poly_hash('t')})"
    return f"""
    WITH planted AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 6 = 0 THEN text || ' {_SPAN}' ELSE text END)
        || (CASE WHEN doc_id % 4 = 0 THEN chr(10) || '{_BOILER}' ELSE '' END)
          AS text
      FROM documents
    ),
    -- stage 1: cross-document line dedup (min_docs = 3)
    ls AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM planted),
    lex AS (
      SELECT doc_id, unnest(ls) AS ln,
             unnest(generate_series(1, len(ls))) AS pos
      FROM ls
    ),
    hotl AS (
      SELECT h FROM (
        SELECT DISTINCT doc_id, {lh} AS h FROM lex WHERE length(trim(ln)) > 0
      ) GROUP BY h HAVING count(*) >= 3
    ),
    ldrops AS (
      SELECT doc_id, list(pos) AS drops FROM lex
      WHERE length(trim(ln)) > 0 AND {lh} IN (SELECT h FROM hotl)
      GROUP BY doc_id
    ),
    cleaned AS (
      SELECT l.doc_id,
        CASE WHEN l.text IS NULL THEN NULL
             ELSE coalesce(array_to_string(
               list_transform(
                 list_filter(
                   list_zip(l.ls, generate_series(1, len(l.ls))),
                   z -> NOT list_contains(coalesce(d.drops, CAST([] AS BIGINT[])), z[2])),
                 z -> z[1]),
               chr(10)), '') END AS text,
        coalesce(len(d.drops), 0)::BIGINT AS nrem
      FROM ls l LEFT JOIN ldrops d USING (doc_id)
    ),
    -- stage 1b (round 8): exact-substring span dedup on the cleaned
    -- text (min_docs = 2, n = {n}) — the Lee et al. pass, mirrored from
    -- the dedup_spans row recipe
    stt AS (SELECT doc_id, text,
              list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'),
                          t2 -> length(t2) > 0) AS rtoks,
              {sth} AS th
            FROM cleaned),
    spg AS (
      SELECT doc_id,
        unnest(CASE WHEN len(th) >= {n}
          THEN list_transform(generate_series(1, len(th) - {n - 1}),
                 i -> {_fold(f'list_slice(th, i, i + {n - 1})')})
          ELSE CAST([] AS BIGINT[]) END) AS g,
        unnest(CASE WHEN len(th) >= {n}
          THEN generate_series(1, len(th) - {n - 1})
          ELSE CAST([] AS BIGINT[]) END) AS s
      FROM stt
    ),
    shot AS (
      SELECT g FROM (SELECT DISTINCT doc_id, g FROM spg)
      GROUP BY g HAVING count(*) >= 2
    ),
    sstarts AS (
      SELECT doc_id, list(s) AS ss FROM spg
      WHERE g IN (SELECT g FROM shot) GROUP BY doc_id
    ),
    spanned AS (
      SELECT s0.doc_id,
        CASE WHEN st.ss IS NULL THEN s0.text
             ELSE coalesce(array_to_string(
               list_transform(
                 list_filter(
                   list_zip(s0.rtoks, generate_series(1, len(s0.rtoks))),
                   z -> len(list_filter(st.ss,
                          s2 -> s2 <= z[2] AND z[2] <= s2 + {n - 1})) = 0),
                 z -> z[1]),
               ' '), '') END AS text,
        coalesce(
          len(list_filter(
            list_zip(s0.rtoks, generate_series(1, len(s0.rtoks))),
            z -> len(list_filter(coalesce(st.ss, CAST([] AS BIGINT[])),
                   s2 -> s2 <= z[2] AND z[2] <= s2 + {n - 1})) > 0)),
          0)::BIGINT AS srem
      FROM stt s0 LEFT JOIN sstarts st USING (doc_id)
    ),
    -- stage 2: gates on the cleaned + span-cut text
    t AS (SELECT doc_id, text, {toks_of.format(t='text')} AS toks FROM spanned),
    f AS (
      SELECT doc_id, text, toks,
        (CASE WHEN best.hits <= 0 THEN 'und' ELSE best.lang END) = 'en' AS lang_ok,
        len(toks) >= 20 AS len_ok,
        {quality} >= 0.3 AS q_ok
      FROM (SELECT doc_id, text, toks,
              list_aggregate([{structs}], 'max') AS best FROM t)
    ),
    kept AS (SELECT doc_id, text, toks FROM f WHERE lang_ok AND len_ok AND q_ok),
    -- stage 3: unigram-LM floor (vocab fit on the PLANTED corpus, the
    -- caller-side fit; scores computed on the cleaned gate survivors)
    vex AS (SELECT doc_id, unnest({toks_of.format(t='text')}) AS tok FROM planted),
    vcounts AS (SELECT tok, count(*)::BIGINT AS cnt FROM vex GROUP BY tok),
    vtot AS (SELECT coalesce(sum(cnt), 0)::BIGINT AS n, count(*)::BIGINT AS d
             FROM vcounts),
    vocab AS (SELECT tok, cnt FROM vcounts ORDER BY cnt DESC, tok ASC LIMIT {v}),
    m AS (SELECT n, least(d, {v}) AS v FROM vtot),
    kex AS (SELECT doc_id, unnest(toks) AS tok FROM kept),
    scored AS (
      SELECT e.doc_id,
             avg(log10((coalesce(vb.cnt, 0) + 1) / (m.n + m.v + 1))) AS lp
      FROM kex e LEFT JOIN vocab vb USING (tok), m
      GROUP BY e.doc_id
    ),
    lm_kept AS (
      SELECT k.doc_id, k.text FROM kept k JOIN scored s USING (doc_id)
      WHERE s.lp >= {floor}
    ),
    -- stage 4: exact dedup on the LM survivors
    h AS (SELECT doc_id, {_sql_poly_hash(_sql_norm_text('text'))} AS hh FROM lm_kept),
    survg AS (SELECT min(doc_id) AS sid FROM h GROUP BY hh),
    outp AS (SELECT doc_id FROM h WHERE doc_id IN (SELECT sid FROM survg))
    SELECT 'doc' AS tag, doc_id::BIGINT AS val FROM outp
    UNION ALL SELECT 'n_after_gates', count(*)::BIGINT FROM kept
    UNION ALL SELECT 'n_boiler_lines', coalesce(sum(nrem), 0)::BIGINT FROM cleaned
    UNION ALL SELECT 'n_span_tokens_removed',
      coalesce(sum(srem), 0)::BIGINT FROM spanned
    UNION ALL SELECT 'n_dup_dropped',
      ((SELECT count(*) FROM lm_kept) - (SELECT count(*) FROM outp))::BIGINT
    UNION ALL SELECT 'n_input', count(*)::BIGINT FROM planted
    UNION ALL SELECT 'n_lang_fail', (count(*) FILTER (WHERE NOT lang_ok))::BIGINT FROM f
    UNION ALL SELECT 'n_lm_fail',
      ((SELECT count(*) FROM kept) - (SELECT count(*) FROM lm_kept))::BIGINT
    UNION ALL SELECT 'n_low_quality', (count(*) FILTER (WHERE NOT q_ok))::BIGINT FROM f
    UNION ALL SELECT 'n_output', count(*)::BIGINT FROM outp
    UNION ALL SELECT 'n_short', (count(*) FILTER (WHERE NOT len_ok))::BIGINT FROM f
    UNION ALL SELECT 'n_too_long', 0::BIGINT
    """


_register("pipeline_curate_full", _curate_full_row, _curate_full_sql())


# ---------------------------------------------------------------------------
# asymmetric SEMANTIC dedup (dedup.semantic_dedup_against): NEW = scaled
# copies, REF = base embeddings, fixed ref-derived centroids — DuckDB
# mirrors both assignments and the cross-corpus within-cluster pairs
# ---------------------------------------------------------------------------


def _sem_against_row(spark, sf):
    from adampro_spark.pipeline.dedup import semantic_dedup_against

    ref = _emb(spark, sf).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).select("vec_id", "embedding")
    new = (
        ref.filter(F.col("vec_id") % 11 == 0)
        .withColumn("vec_id", F.col("vec_id") + _OFF)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: x * F.lit(1.001)),
        )
    )
    cents = ref.filter(F.col("vec_id") % 40 == 0).orderBy("vec_id")
    return semantic_dedup_against(
        new, ref, threshold=_SEM_T, centroids=cents, return_matches=True
    )


def _sem_against_sql() -> str:
    nrm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform({v}, x -> x * x)),"
        " (s, x) -> s + x))"
    )
    dot = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}),"
        " p -> p[1] * p[2])), (s, x) -> s + x)"
    )
    return f"""
    WITH ref AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    newb AS (
      SELECT vec_id + {_OFF} AS vec_id,
             list_transform(embedding, x -> x::DOUBLE * 1.001) AS v
      FROM embeddings WHERE vec_id % 11 = 0
    ),
    rn AS (SELECT vec_id, list_transform(v, x -> x / ({nrm.format(v='v')})) AS nv
           FROM ref WHERE {nrm.format(v='v')} > 1e-12),
    nn AS (SELECT vec_id, list_transform(v, x -> x / ({nrm.format(v='v')})) AS nv
           FROM newb WHERE {nrm.format(v='v')} > 1e-12),
    cent AS (SELECT vec_id AS cid, nv AS cv FROM rn WHERE vec_id % 40 = 0),
    ra AS (
      SELECT vec_id, cid FROM (
        SELECT rn.vec_id, cent.cid,
               row_number() OVER (
                 PARTITION BY rn.vec_id
                 ORDER BY {dot.format(a='rn.nv', b='cent.cv')} DESC, cent.cid ASC
               ) AS rk
        FROM rn CROSS JOIN cent
      ) WHERE rk = 1
    ),
    na AS (
      SELECT vec_id, cid FROM (
        SELECT nn.vec_id, cent.cid,
               row_number() OVER (
                 PARTITION BY nn.vec_id
                 ORDER BY {dot.format(a='nn.nv', b='cent.cv')} DESC, cent.cid ASC
               ) AS rk
        FROM nn CROSS JOIN cent
      ) WHERE rk = 1
    )
    SELECT n.vec_id AS new_pk, r.vec_id AS ref_pk,
           round({dot.format(a='x.nv', b='y.nv')}, 4) AS cos_sim
    FROM na n JOIN ra r ON n.cid = r.cid
    JOIN nn x ON x.vec_id = n.vec_id
    JOIN rn y ON y.vec_id = r.vec_id
    WHERE round({dot.format(a='x.nv', b='y.nv')}, 4) >= {_SEM_T}
    """


_register("dedup_semantic_against", _sem_against_row, _sem_against_sql())
