"""Unigram language-model quality scoring — the CCNet-style "perplexity
filter" stage of LLM-corpus pipelines (Wenzek et al. 2020 score every
web document against a KenLM model and keep the head of the
distribution; the reference engine predates the use case).

A full KenLM is out of scope for a dependency-free engine, but the
useful 80% — "does this document look like the reference corpus, token
for token?" — is an add-one-smoothed unigram model, and that fits
Spark's execution model exactly:

* **fit** = one ``explode → groupBy(token) → top-V`` pass over the
  reference corpus (or a sample of it).  The vocabulary is a SMALL
  DataFrame (≤ ``vocab_size`` rows) — at 100 TB the counts shuffle is
  map-side combined and the top-V is a ``TakeOrdered``, never a sort of
  the full token table.
* **score** = ``explode → broadcast-join(vocab) → groupBy(pk)`` — the
  vocabulary broadcasts (50k rows ≪ the 10 MB threshold), the per-doc
  aggregate is map-side combined down to one row per document before
  the only shuffle, and the document TEXT never moves: only the slim
  ``(pk, token)`` pairs are in flight.

Scores are mean log10 probability per token (higher = more like the
reference corpus); ``lm_perplexity`` = ``10^(-score)`` for readers who
think in perplexities.  Both engines of the test oracle (Spark and
DuckDB) compute the same fit from the same corpus, so the whole
pipeline — vocabulary selection, smoothing, OOV mass, scoring — is
hash-checked end to end, not just the final projection.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adampro_spark.caching import CacheScope
from adampro_spark.pipeline.text import tokens_expr

DEFAULT_VOCAB = 50_000


def fit_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = DEFAULT_VOCAB,
    sample_fraction: float | None = None,
    seed: int = 42,
) -> tuple[DataFrame, dict[str, Any]]:
    """Fit an add-one-smoothed unigram LM on the corpus.

    Returns ``(vocab, meta)``: ``vocab`` is a DataFrame
    ``(tok, cnt, logp)`` of the ``vocab_size`` most frequent whitespace
    tokens (ties broken by token ASC so the fit is deterministic), and
    ``meta`` carries ``n_tokens`` (total corpus tokens, in AND out of
    vocabulary), ``vocab_size_eff`` (min(vocab_size, distinct tokens))
    and ``oov_logp`` — every out-of-vocabulary token scores as a
    count-0 vocabulary entry: ``log10(1 / (n_tokens + V + 1))``.

    ``sample_fraction``: fit on a Bernoulli row sample instead of the
    full corpus — at 100 TB a 0.1% sample fixes the same vocabulary
    head; the smoothing denominator scales with whatever was counted.
    """
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    src = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    counts = (
        src.select(F.explode(tokens_expr(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    with CacheScope() as scope:
        counts = scope.keep(counts)
        tot = counts.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"),
            F.count(F.lit(1)).alias("d"),
        ).collect()[0]  # 1 row — the model-fit boundary, like ml.py
        n, d = int(tot["n"]), int(tot["d"])
        v_eff = min(vocab_size, d)
        denom = float(n + v_eff + 1)
        vocab = (
            counts.orderBy(F.col("cnt").desc(), F.col("tok").asc())
            .limit(vocab_size)
            .withColumn("logp", F.log10((F.col("cnt") + 1) / F.lit(denom)))
            .localCheckpoint(eager=True)
        )
    meta = {
        "n_tokens": n,
        "vocab_size_eff": v_eff,
        "oov_logp": math.log10(1.0 / denom),
        "base": 10,
        "smoothing": "add_one",
    }
    return vocab, meta


def lm_score(
    df: DataFrame,
    vocab: DataFrame,
    meta: dict[str, Any],
    text_col: str = "text",
    pk: str = "doc_id",
    score_col: str = "lm_logprob",
    carry: "Sequence[str] | None" = None,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean log10 token probability: ``(pk[, carry…],
    score_col, lm_tokens)`` — one row per input document.  Empty
    documents (no whitespace tokens) score NULL with ``lm_tokens = 0``;
    a gate comparing ``score >= threshold`` therefore drops them, the
    conservative default.

    Plan shape: explode to slim ``(pk, tok)`` pairs, broadcast-join the
    vocabulary, aggregate per document with map-side combine.  The text
    column itself is pruned out before the explode — nothing document-
    sized ever shuffles.

    ``carry`` (round 10): extra pk-functional columns (a language code,
    a source tag) ride the explode and the grouping keys, so callers
    that need them alongside the score — ``lm_bucket(by=...)`` — pay a
    few bytes per token row instead of a second read of ``df`` plus a
    corpus-sized pk join.
    """
    carry = list(carry or [])
    if exploded is None:
        exploded = df.select(
            F.col(pk),
            *[F.col(c) for c in carry],
            F.explode_outer(tokens_expr(text_col)).alias("tok"),
        )
    joined = exploded.join(
        F.broadcast(vocab.select("tok", "logp")), on="tok", how="left"
    )
    lp = F.when(
        F.col("tok").isNotNull(),
        F.coalesce(F.col("logp"), F.lit(float(meta["oov_logp"]))),
    )
    return joined.groupBy(pk, *carry).agg(
        F.avg(lp).alias(score_col),
        F.count(F.col("tok")).alias("lm_tokens"),
    )


def lm_token_table(
    df: DataFrame, by: str, text_col: str = "text", pk: str = "doc_id"
) -> DataFrame:
    """The shared ``(pk, by, tok)`` token explode (round 16, verdict r15
    #4): the per-group LM FIT, the per-group SCORE, and the shared-LM
    score with ``carry=[by]`` each tokenize the same corpus — a caller
    that keeps THIS table in its cache block pays the tokenize once and
    feeds all three via their ``exploded=`` parameter.  ``tok`` is NULL for empty documents (explode_outer — the
    scoring contract); fit consumers drop the NULLs, which reproduces
    the plain-explode fit exactly."""
    return df.select(
        F.col(pk), F.col(by), F.explode_outer(tokens_expr(text_col)).alias("tok")
    )


def fit_unigram_lm_by(
    df: DataFrame,
    by: str,
    text_col: str = "text",
    vocab_size: int = DEFAULT_VOCAB,
    sample_fraction: float | None = None,
    seed: int = 42,
    exploded: DataFrame | None = None,
) -> tuple[DataFrame, dict[str, dict[str, Any]]]:
    """Fit one add-one-smoothed unigram LM PER GROUP — the CCNet shape
    (Wenzek et al. 2020 score each language against its own LM; one
    shared vocabulary across languages mostly measures which language a
    document is in, not how fluent it is).

    Returns ``(vocab_by, metas)``: ``vocab_by`` is ``(by, tok, cnt,
    logp)`` with the top-``vocab_size`` tokens per group, ``metas[g]``
    carries that group's ``n_tokens``/``vocab_size_eff``/``oov_logp``.

    Plan shape: one explode → ``groupBy(by, tok)`` count (map-side
    combined), per-group totals collected as the fit boundary (≤
    |groups| rows), then a TWO-STAGE salted top-V per group: stage 1
    ranks within ``(group, hash(tok) % n_salts)`` partitions (each
    holds ~vocab_g/n_salts distinct-token rows), stage 2 ranks the
    surviving ≤ n_salts·V candidates per group — every global top-V
    token ranks ≤ V inside its own salt, so the result is exact, and
    no window task ever sees a whole language's vocabulary (the
    single-window form would put a Heaps-law-sized partition through
    one un-splittable task at 100 TB).  ``sample_fraction`` bounds the
    fit further when even the counts shuffle is too big.
    """
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    from pyspark.sql import Window

    if exploded is not None:
        # shared token table (round 16, lm_token_table): dropping its
        # NULL-tok rows (empty documents) leaves exactly the plain
        # explode this fit used to run itself
        if sample_fraction is not None:
            raise ValueError(
                "fit_unigram_lm_by: exploded= and sample_fraction= are "
                "mutually exclusive (the shared table is the full corpus)"
            )
        counts = (
            exploded.filter(F.col("tok").isNotNull())
            .groupBy(by, "tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    else:
        src = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
        counts = (
            src.select(F.col(by), F.explode(tokens_expr(text_col)).alias("tok"))
            .groupBy(by, "tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    with CacheScope() as scope:
        counts = scope.keep(counts)
        tots = {
            r[by]: (int(r["n"]), int(r["d"]))
            for r in counts.groupBy(by)
            .agg(
                F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"),
                F.count(F.lit(1)).alias("d"),
            )
            .collect()  # ≤ |groups| rows — the fit boundary
        }
        if None in tots:
            # a None group key would later land in F.create_map as a
            # NULL map key — an opaque executor error; fail clearly at
            # the fit boundary instead (review r10)
            raise ValueError(
                f"fit_unigram_lm_by: NULL values in group column {by!r} — "
                "filter them or fill a sentinel group first"
            )
        metas: dict[str, dict[str, Any]] = {}
        denoms = []
        for g, (n, d) in sorted(tots.items(), key=lambda kv: str(kv[0])):
            v_eff = min(vocab_size, d)
            denom = float(n + v_eff + 1)
            metas[g] = {
                "n_tokens": n,
                "vocab_size_eff": v_eff,
                "oov_logp": math.log10(1.0 / denom),
                "base": 10,
                "smoothing": "add_one",
            }
            denoms.append((g, denom))
        denom_map = F.create_map(
            *[F.lit(x) for g, dn in denoms for x in (g, dn)]
        )
        n_salts = 32
        order = (F.col("cnt").desc(), F.col("tok").asc())
        w1 = Window.partitionBy(
            by, F.pmod(F.hash("tok"), F.lit(n_salts))
        ).orderBy(*order)
        stage1 = (
            counts.withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= vocab_size)
            .drop("_rn")
        )
        w2 = Window.partitionBy(by).orderBy(*order)
        vocab_by = (
            stage1.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") <= vocab_size)
            .drop("_rn")
            .withColumn(
                "logp",
                F.log10((F.col("cnt") + 1) / F.element_at(denom_map, F.col(by))),
            )
            .localCheckpoint(eager=True)  # materialize before release
        )
    return vocab_by, metas


def lm_score_by(
    df: DataFrame,
    vocab_by: DataFrame,
    metas: dict[str, dict[str, Any]],
    by: str,
    text_col: str = "text",
    pk: str = "doc_id",
    score_col: str = "lm_logprob",
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Score each document against ITS GROUP'S model: ``(pk, by,
    score_col, lm_tokens)``.  Same plan shape as :func:`lm_score` with
    the group column carried through the explode and the vocabulary
    joined on ``(by, tok)``; the OOV mass is the group's own
    (broadcast map).  Documents in a group with no fitted model (absent
    from ``metas``) score NULL — gate or re-fit, don't guess."""
    oov_map = F.create_map(
        *[
            F.lit(x)
            for g in sorted(metas, key=str)
            for x in (g, float(metas[g]["oov_logp"]))
        ]
    )
    if exploded is None:
        exploded = df.select(
            F.col(pk), F.col(by), F.explode_outer(tokens_expr(text_col)).alias("tok")
        )
    joined = exploded.join(
        F.broadcast(vocab_by.select(by, "tok", "logp")), on=[by, "tok"], how="left"
    )
    lp = F.when(
        F.col("tok").isNotNull(),
        F.coalesce(F.col("logp"), F.element_at(oov_map, F.col(by))),
    )
    return joined.groupBy(pk, by).agg(
        F.avg(lp).alias(score_col),
        F.count(F.col("tok")).alias("lm_tokens"),
    )


def lm_bucket_by(
    df: DataFrame,
    vocab_by: DataFrame,
    metas: dict[str, dict[str, Any]],
    by: str,
    text_col: str = "text",
    pk: str = "doc_id",
    n_buckets: int = 3,
    method: str = "auto",
    max_group_rows_hint: int | None = None,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Per-group perplexity buckets scored against PER-GROUP models —
    :func:`lm_bucket` with :func:`fit_unigram_lm_by` models: the full
    CCNet corpus release shape (per language, in terciles, against that
    language's LM).  Same auto ntile/quantile routing and
    ``max_group_rows_hint`` contract as :func:`lm_bucket`."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if method not in ("auto", "ntile", "quantile"):
        raise ValueError(f"unknown lm_bucket method {method!r}")
    if method == "auto":
        n_max = (
            int(max_group_rows_hint)
            if max_group_rows_hint is not None
            else df.groupBy(by).count().agg(F.max("count")).collect()[0][0]
        ) or 0
        method = (
            "ntile" if n_max <= LM_BUCKET_NTILE_MAX_GROUP_ROWS else "quantile"
        )
    scores = lm_score_by(
        df.select(pk, by, text_col), vocab_by, metas, by,
        text_col=text_col, pk=pk, exploded=exploded,
    )
    scored = scores.select(
        pk, by, F.round("lm_logprob", 4).alias("lm_logprob")
    )
    return _bucket_scores(scored, pk=pk, by=by, n_buckets=n_buckets, method=method)


def lm_perplexity_col(score_col: str = "lm_logprob") -> Column:
    """``10^(-mean log10 prob)`` — the conventional perplexity view of
    an :func:`lm_score` column."""
    return F.pow(F.lit(10.0), -F.col(score_col))


def lm_filter(
    df: DataFrame,
    vocab: DataFrame,
    meta: dict[str, Any],
    min_logprob: float,
    text_col: str = "text",
    pk: str = "doc_id",
) -> DataFrame:
    """Keep documents whose mean token log-probability clears the floor
    — the composition a curation pipeline runs BEFORE :func:`~adampro_
    spark.pipeline.curate.curate`'s one-scan gates (LM scoring needs a
    join, so it cannot ride curate's single-projection gate pass; the
    semi-join here moves only primary keys).
    """
    keep = (
        lm_score(df, vocab, meta, text_col=text_col, pk=pk)
        .filter(F.col("lm_logprob") >= float(min_logprob))
        .select(pk)
    )
    return df.join(keep, on=pk, how="left_semi")


def lm_score_col(
    vocab: "DataFrame | dict[str, float]",
    meta: dict[str, Any],
    text_col: str = "text",
) -> Column:
    """Map-only scoring: the same mean log10 token probability as
    :func:`lm_score`, as ONE Arrow-batched pandas-UDF column — no
    explode, no join, no aggregate.  This is the stream-safe form
    (:func:`~adampro_spark.streaming.ingest.stream_curate` uses it — a
    streaming explode→groupBy would turn scoring into a stateful
    aggregate), and the batch escape hatch when a caller wants scores
    inside an existing one-scan projection.

    The vocabulary rides the UDF closure (broadcast by Spark's task
    serializer, ≤ ``vocab_size`` entries).  Tokenization mirrors
    ``tokens_expr`` exactly: lowercase, split on ``\\s+``, empties
    dropped.  Empty documents score NULL, as in :func:`lm_score`.
    """
    import re as _re

    import pandas as pd
    from pyspark.sql import types as T

    if isinstance(vocab, DataFrame):
        table = {r["tok"]: float(r["logp"]) for r in vocab.collect()}
    else:
        table = {str(k): float(v) for k, v in vocab.items()}
    oov = float(meta["oov_logp"])
    # ASCII mode: Python's unicode-aware \s would split on NBSP etc.
    # where the JVM/RE2 \s in tokens_expr does not — parity first
    ws = _re.compile(r"\s+", _re.ASCII)

    # no type hints: under `from __future__ import annotations` they are
    # strings and pandas_udf's hint inference rejects them
    def _score(texts):
        out = []
        get = table.get
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = [w for w in ws.split(t.lower()) if w]
            if not toks:
                out.append(None)
                continue
            out.append(sum(get(w, oov) for w in toks) / len(toks))
        return pd.Series(out, dtype="float64")

    return F.pandas_udf(_score, T.DoubleType())(
        F.col(text_col) if isinstance(text_col, str) else text_col
    )


# ---------------------------------------------------------------------------
# interpolated bigram LM — one modeling step past the unigram filter
# ---------------------------------------------------------------------------

DEFAULT_BIGRAMS = 100_000


def fit_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = DEFAULT_VOCAB,
    bigram_size: int = DEFAULT_BIGRAMS,
    lam: float = 0.7,
    sample_fraction: float | None = None,
    seed: int = 42,
    smoothing: str = "interp",
    discount: float = 0.75,
) -> tuple[DataFrame, DataFrame, dict[str, Any]]:
    """Fit a bigram model on top of the unigram fit.

    ``smoothing="interp"`` (default):

    ``P(cur | prev) = λ · c(prev,cur)/c(prev) + (1−λ) · P_uni(cur)``

    where the bigram term applies only when ``prev`` is in the unigram
    vocabulary AND ``(prev, cur)`` is in the top-``bigram_size`` bigram
    table (ties broken by (prev, cur) ASC — deterministic); a document's
    FIRST token scores unigram-only.  The unigram leg keeps add-one
    smoothing, so interpolated probabilities are always positive.

    ``smoothing="kn"`` — interpolated KNESER-NEY (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.17), the standard for n-gram quality
    scoring: absolute-discount the seen-bigram leg and back off to the
    CONTINUATION distribution (how many distinct contexts a word
    follows) instead of raw frequency:

    ``P(cur|prev) = max(c(prev,cur)−D, 0)/ctx(prev)
                    + γ(prev) · P_cont(cur)``

    with ``ctx(prev) = Σ_w c(prev, w)`` (exact context totals, not the
    unigram count — a document-final token has no successor), and
    ``γ(prev)`` the EXACT leftover mass of the TRUNCATED table:
    ``γ = 1 − Σ_{cur∈table(prev)} (c−D)/ctx`` — probabilities stay
    normalized under top-``bigram_size`` truncation because truncated
    pairs' whole mass routes to the backoff.  Documented deviations
    from textbook KN: ``P_cont(cur) = (N1+(·cur)+1)/(N1+(··)+V+1)`` is
    add-one smoothed (mirrors the unigram leg; keeps OOV positive), a
    prev outside the vocabulary backs off fully (``P = P_cont``), and a
    cur outside the vocabulary floors at ``P_cont = 1/(N1+(··)+V+1)``
    — the vocabulary table is the model's ONLY per-token artifact, so
    an OOV word carries no continuation count (the same truncation
    rule as the unigram leg's OOV mass).

    Returns ``(vocab, bigrams, meta)``: the unigram vocabulary table
    (for ``kn`` it carries four extra prev/cur-role columns: ``cont``
    distinct-left-context counts, ``ctx_total``, and the truncated
    table's per-prev ``t_sum``/``t_types``), the ``(prev, cur, cnt)``
    bigram table, and meta (the unigram fields plus ``lam``/``denom``/
    ``bigram_size_eff``; for kn also ``smoothing``, ``discount``,
    ``cont_denom``).  Fit cost (round 16): ONE explode → groupBy over
    positioned (prev-nullable, cur) pairs — the unigram fit reads off
    the pair table's ``cur`` marginal instead of a second corpus
    tokenize (bit-identical vocabulary by construction); kn adds two
    vocab-sized aggregations of the persisted pair table.
    """
    if not 0.0 <= lam < 1.0:
        raise ValueError("lam must be in [0, 1) — the unigram leg keeps "
                         "probabilities positive only with weight > 0")
    if smoothing not in ("interp", "kn"):
        raise ValueError(f"smoothing must be 'interp' or 'kn', got {smoothing!r}")
    if smoothing == "kn" and not 0.0 < discount < 1.0:
        raise ValueError(
            f"discount must be in (0, 1) — every table count is >= 1, so "
            f"D < 1 keeps the discounted leg non-negative; got {discount}"
        )
    # ONE corpus pass for BOTH fits (round 16): the unigram counts are a
    # marginal of the positioned pair table — every token occurs exactly
    # once as ``cur`` in the (prev-nullable, cur) explode (a document's
    # first token carries prev = NULL), so cnt(tok) = Σ_prev P[prev, tok]
    # exactly.  The old shape called fit_unigram_lm first: a SECOND full
    # tokenize + explode + token-row shuffle of the corpus for numbers
    # the pair aggregate already holds.  P is grouped (≤ distinct-pair
    # rows), so the unigram marginal, the top-V, and every kn statistic
    # below aggregate a reduced table — token rows shuffle once.
    src = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    tk = tokens_expr(text_col)
    staged = src.select(tk.alias("_tk"))
    n = F.size(F.col("_tk"))
    pos_arr = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.struct(
                F.when(i > 1, F.element_at(F.col("_tk"), i - 1)).alias("prev"),
                F.element_at(F.col("_tk"), i).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    with CacheScope() as scope:
        pall = scope.keep(
            staged.select(F.explode(pos_arr).alias("_p"))
            .select("_p.prev", "_p.cur")
            .groupBy("prev", "cur")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # the unigram fit off the pair marginal — counts, ordering, ties,
        # smoothing denominator all BIT-IDENTICAL to fit_unigram_lm (pinned
        # by tests/test_round16_opt.py)
        counts = pall.groupBy(F.col("cur").alias("tok")).agg(
            F.sum("cnt").alias("cnt")
        )
        tot = counts.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"),
            F.count(F.lit(1)).alias("d"),
        ).collect()[0]
        n_tok, d_tok = int(tot["n"]), int(tot["d"])
        v_eff = min(vocab_size, d_tok)
        u_denom = float(n_tok + v_eff + 1)
        vocab = (
            counts.orderBy(F.col("cnt").desc(), F.col("tok").asc())
            .limit(vocab_size)
            .withColumn("logp", F.log10((F.col("cnt") + 1) / F.lit(u_denom)))
            .localCheckpoint(eager=True)
        )
        meta: dict[str, Any] = {
            "n_tokens": n_tok,
            "vocab_size_eff": v_eff,
            "oov_logp": math.log10(1.0 / u_denom),
            "base": 10,
            "smoothing": "add_one",
        }
        # bigram table: NULL-prev groups are exactly the first-token rows,
        # so filtering them leaves the grouped (prev, cur, cnt) pair table
        pairs = pall.filter(F.col("prev").isNotNull())
        top = (
            pairs.orderBy(F.col("cnt").desc(), F.col("prev").asc(), F.col("cur").asc())
            .limit(bigram_size)
            .localCheckpoint(eager=True)
        )
        meta["lam"] = float(lam)
        meta["denom"] = float(meta["n_tokens"] + meta["vocab_size_eff"] + 1)
        meta["bigram_size_eff"] = top.count()
        if smoothing == "kn":
            # N1+(.cur): distinct left contexts per word (pairs are
            # already distinct by (prev, cur), so this is a row count)
            cont = pairs.groupBy("cur").agg(F.count(F.lit(1)).alias("cont"))
            # exact context totals per prev (vocab members only: OOV
            # prevs back off fully at scoring time)
            ctx = (
                pairs.join(
                    F.broadcast(vocab.select(F.col("tok").alias("prev"))),
                    "prev", "left_semi",
                )
                .groupBy("prev")
                .agg(F.sum("cnt").alias("ctx_total"))
            )
            # leftover-mass ingredients from the TRUNCATED table
            tstats = top.groupBy("prev").agg(
                F.sum("cnt").alias("t_sum"),
                F.count(F.lit(1)).alias("t_types"),
            )
            n_types = pairs.count()  # N1+(..)
            vocab = (
                vocab.join(
                    cont.select(F.col("cur").alias("tok"), "cont"),
                    "tok", "left",
                )
                .join(
                    ctx.select(F.col("prev").alias("tok"), "ctx_total"),
                    "tok", "left",
                )
                .join(
                    tstats.select(
                        F.col("prev").alias("tok"), "t_sum", "t_types"
                    ),
                    "tok", "left",
                )
                .localCheckpoint(eager=True)
            )
            meta["smoothing"] = "kn"
            meta["discount"] = float(discount)
            meta["cont_denom"] = float(n_types + meta["vocab_size_eff"] + 1)
    return vocab, top, meta


def bigram_lm_score(
    df: DataFrame,
    vocab: DataFrame,
    bigrams: DataFrame,
    meta: dict[str, Any],
    text_col: str = "text",
    pk: str = "doc_id",
    score_col: str = "lm_logprob",
) -> DataFrame:
    """Per-document mean log10 bigram token probability:
    ``(pk, score_col, lm_tokens)``; empty documents score NULL.  The
    probability formula follows ``meta["smoothing"]`` — interpolated
    (default) or Kneser-Ney (see :func:`fit_bigram_lm`).

    Plan shape: ONE explode to slim ``(pk, prev, cur)`` triples (prev
    NULL on each document's first token), then broadcast joins against
    the vocabulary (twice — as cur and as prev context) and the bigram
    table, then the per-doc aggregate with map-side combine.  Text
    never shuffles; both model tables broadcast.  The kn variant is the
    SAME plan — its extra per-prev statistics ride the vocabulary
    broadcast as columns, not extra joins.
    """
    lam = float(meta["lam"])
    denom = float(meta["denom"])
    kn = meta.get("smoothing") == "kn"
    tk = tokens_expr(text_col)
    staged = df.select(F.col(pk), tk.alias("_tk"))
    n = F.size(F.col("_tk"))
    pos_arr = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.struct(
                F.when(i > 1, F.element_at(F.col("_tk"), i - 1)).alias("prev"),
                F.element_at(F.col("_tk"), i).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    exploded = staged.select(
        F.col(pk), F.explode_outer(pos_arr).alias("_p")
    ).select(F.col(pk), F.col("_p.prev").alias("prev"), F.col("_p.cur").alias("cur"))
    if kn:
        cur_v = vocab.select(
            F.col("tok").alias("cur"),
            F.col("cnt").alias("_c_cur"),
            F.col("cont").alias("_cont"),
        )
        prev_v = vocab.select(
            F.col("tok").alias("prev"),
            F.col("ctx_total").alias("_ctx"),
            F.col("t_sum").alias("_tsum"),
            F.col("t_types").alias("_ttyp"),
        )
    else:
        cur_v = vocab.select(
            F.col("tok").alias("cur"), F.col("cnt").alias("_c_cur")
        )
        prev_v = vocab.select(
            F.col("tok").alias("prev"), F.col("cnt").alias("_c_prev")
        )
    big = bigrams.select("prev", "cur", F.col("cnt").alias("_c_pc"))
    joined = (
        exploded.join(F.broadcast(cur_v), "cur", "left")
        .join(F.broadcast(prev_v), "prev", "left")
        .join(F.broadcast(big), ["prev", "cur"], "left")
    )
    p_uni = (F.coalesce(F.col("_c_cur"), F.lit(0)) + 1) / F.lit(denom)
    if kn:
        d = float(meta["discount"])
        p_cont = (F.coalesce(F.col("_cont"), F.lit(0)) + 1) / F.lit(
            float(meta["cont_denom"])
        )
        ctx = F.col("_ctx").cast("double")
        gamma = 1.0 - (
            F.coalesce(F.col("_tsum"), F.lit(0))
            - F.lit(d) * F.coalesce(F.col("_ttyp"), F.lit(0))
        ) / ctx
        seen = F.greatest(
            F.coalesce(F.col("_c_pc"), F.lit(0)) - F.lit(d), F.lit(0.0)
        ) / ctx
        p_next = F.when(ctx.isNotNull(), seen + gamma * p_cont).otherwise(
            p_cont
        )
    else:
        p_bi = F.coalesce(F.col("_c_pc") / F.col("_c_prev"), F.lit(0.0))
        p_next = F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni
    p = F.when(F.col("cur").isNotNull(), F.when(
        F.col("prev").isNull(), p_uni
    ).otherwise(p_next))
    return joined.groupBy(pk).agg(
        F.avg(F.log10(p)).alias(score_col),
        F.count(F.col("cur")).alias("lm_tokens"),
    )


def bigram_lm_score_col(
    vocab: "DataFrame | dict[str, int]",
    bigrams: "DataFrame | dict[tuple[str, str], int]",
    meta: dict[str, Any],
    text_col: str = "text",
) -> Column:
    """Map-only bigram scoring: the same mean log10 INTERPOLATED token
    probability as :func:`bigram_lm_score`, as ONE Arrow-batched
    pandas-UDF column — the stream-safe form (verdict r7 #6:
    ``stream_curate(lm=(vocab, bigrams, meta, floor))`` scores bigrams
    through this instead of raising), and the batch escape hatch for
    an existing one-scan projection.

    Both model tables ride the UDF closure (≤ vocab_size + bigram_size
    entries, the same driver-sized bound as the batch broadcasts).
    Arithmetic mirrors :func:`bigram_lm_score` term by term: first
    token scores unigram-only; a bigram whose context is outside the
    vocabulary contributes p_bi = 0 exactly like the batch join's
    NULL-division coalesce.  Empty documents score NULL.
    """
    import math
    import re as _re

    import pandas as pd
    from pyspark.sql import types as T

    kn = meta.get("smoothing") == "kn"
    if isinstance(vocab, DataFrame):
        vrows = vocab.collect()
        vt = {r["tok"]: int(r["cnt"]) for r in vrows}
        if kn:
            # prev/cur-role statistics ride the same table (fit_bigram_lm)
            kt = {
                r["tok"]: (
                    int(r["cont"]) if r["cont"] is not None else 0,
                    int(r["ctx_total"]) if r["ctx_total"] is not None else None,
                    int(r["t_sum"]) if r["t_sum"] is not None else 0,
                    int(r["t_types"]) if r["t_types"] is not None else 0,
                )
                for r in vrows
            }
    else:
        vt = {str(k): int(v) for k, v in vocab.items()}
        if kn:
            raise ValueError(
                "smoothing='kn' needs the fitted vocabulary DataFrame "
                "(it carries the continuation/context statistics)"
            )
    if isinstance(bigrams, DataFrame):
        bt = {(r["prev"], r["cur"]): int(r["cnt"]) for r in bigrams.collect()}
    else:
        bt = {tuple(k): int(v) for k, v in bigrams.items()}
    lam = float(meta["lam"])
    denom = float(meta["denom"])
    if kn:
        kd = float(meta["discount"])
        cont_denom = float(meta["cont_denom"])
    ws = _re.compile(r"\s+", _re.ASCII)

    def _score(texts):
        out = []
        vget, bget = vt.get, bt.get
        kget = kt.get if kn else None
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = [w for w in ws.split(t.lower()) if w]
            if not toks:
                out.append(None)
                continue
            s = 0.0
            prev = None
            for i, w in enumerate(toks):
                p_uni = (vget(w, 0) + 1) / denom
                if i == 0:
                    p = p_uni
                elif kn:
                    kc = kget(w)
                    p_cont = ((kc[0] if kc else 0) + 1) / cont_denom
                    kp = kget(prev)
                    ctx = kp[1] if kp else None
                    if ctx:
                        pc = bget((prev, w), 0)
                        gamma = 1.0 - (kp[2] - kd * kp[3]) / ctx
                        p = max(pc - kd, 0.0) / ctx + gamma * p_cont
                    else:
                        p = p_cont
                else:
                    cp = vget(prev)
                    pc = bget((prev, w))
                    p_bi = (pc / cp) if (pc is not None and cp) else 0.0
                    p = lam * p_bi + (1.0 - lam) * p_uni
                s += math.log10(p)
                prev = w
            out.append(s / len(toks))
        return pd.Series(out, dtype="float64")

    return F.pandas_udf(_score, T.DoubleType())(
        F.col(text_col) if isinstance(text_col, str) else text_col
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail bucketing — perplexity-tercile corpus split
# ---------------------------------------------------------------------------

LM_BUCKET_LABELS = ("head", "middle", "tail")

# Largest group a single NTILE window task is allowed to sort: the exact
# path holds one GROUP per task (a window partition is not AQE-splittable),
# so past this many rows per group `method="auto"` switches to the
# quantile path (verdict r8 #1 — by=None put the whole corpus into one
# task, by="lang" put corpus/|langs| there).  2M slim (pk, by, double)
# rows sort comfortably inside one task; a 100 TB corpus routes approx.
LM_BUCKET_NTILE_MAX_GROUP_ROWS = 2_000_000


def lm_bucket(
    df: DataFrame,
    vocab: DataFrame,
    meta: dict[str, Any],
    text_col: str = "text",
    pk: str = "doc_id",
    by: str | None = None,
    n_buckets: int = 3,
    method: str = "auto",
    max_group_rows_hint: int | None = None,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Assign every document to a perplexity bucket — CCNet's
    head/middle/tail corpus split (Wenzek et al. 2020 §4.3: Common Crawl
    is released in LM-perplexity terciles per language; training recipes
    pick their mix by bucket).  Returns ``(pk[, by], lm_logprob,
    bucket)`` with bucket ∈ head/middle/tail for ``n_buckets=3`` (or
    ``b1..bN`` beyond 3); BETTER scores (higher mean logprob = lower
    perplexity) land in earlier buckets.  Documents that score NULL
    (empty after tokenization) get a NULL bucket.

    ``by`` optionally buckets within groups (CCNet buckets per
    language; pass ``"lang"``/``"source"``).

    ``method="auto"`` (default) — counts the largest group (one cheap
    pre-scoring aggregate on ``df``; a plain count when ``by`` is None)
    and picks ``"ntile"`` at or under
    ``LM_BUCKET_NTILE_MAX_GROUP_ROWS`` rows per group, ``"quantile"``
    past it — the same count-then-route discipline as
    ``dedup._gated_semi_join``.  The exact split stays the resolved
    default everywhere it is safe; a monster group can no longer
    serialize the corpus sort into one window task by default.

    ``method="ntile"`` — EXACT equal-count split via NTILE over
    (score DESC, pk ASC): deterministic, tie-stable, and exactly
    mirrorable in ANSI SQL (the oracle row).  The window partitions by
    ``by`` — each GROUP sorts inside one task (a window partition is
    not AQE-splittable), which is exactly what auto guards against.

    ``method="quantile"`` — approximate threshold split: per-group
    ``percentile_approx`` thresholds (one tiny aggregate, broadcast
    back) then a map-only comparison.  Bucket POPULATIONS are then only
    approximately equal; boundaries are data-dependent doubles, so this
    path is benchmarked and pytest-sanity-checked rather than
    hash-oracled.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if method not in ("auto", "ntile", "quantile"):
        raise ValueError(f"unknown lm_bucket method {method!r}")
    if method == "auto":
        # group sizes are input-row counts (scoring is 1:1), so the gate
        # never pays the scoring UDF; NULL-scoring docs only ever shrink
        # a group, keeping the routing conservative.  NOTE the count
        # replays df's upstream lineage once (review r9) — in a long
        # composition (curate → dsir → bucket) either persist df first
        # or pass ``max_group_rows_hint`` (any upper bound works: the
        # hint only has to be honest, the split stays exact either way)
        n_max = (
            int(max_group_rows_hint)
            if max_group_rows_hint is not None
            else (
                df.groupBy(by).count().agg(F.max("count")).collect()[0][0]
                if by
                else df.count()
            )
            or 0
        )
        method = (
            "ntile" if n_max <= LM_BUCKET_NTILE_MAX_GROUP_ROWS else "quantile"
        )
    keep = [pk] + ([by] if by else [])
    # carry= threads the group column through the scoring aggregate —
    # previously a second read of df + a corpus-sized pk join re-attached
    # it (round 10: one upstream evaluation, zero extra joins)
    scores = lm_score(
        df.select(*keep, text_col), vocab, meta, text_col=text_col, pk=pk,
        carry=[by] if by else None, exploded=exploded,
    )
    scored = scores.select(
        *keep, F.round("lm_logprob", 4).alias("lm_logprob")
    )
    return _bucket_scores(scored, pk=pk, by=by, n_buckets=n_buckets, method=method)


def _bucket_scores(
    scored: DataFrame,
    pk: str,
    by: str | None,
    n_buckets: int,
    method: str,
) -> DataFrame:
    """The split step shared by :func:`lm_bucket` and
    :func:`lm_bucket_by`: ``scored`` is ``(pk[, by], lm_logprob)`` with
    the score already rounded; ``method`` must be resolved (ntile or
    quantile, not auto)."""
    from pyspark.sql import Window

    labels = (
        list(LM_BUCKET_LABELS)
        if n_buckets == 3
        else [f"b{i + 1}" for i in range(n_buckets)]
    )
    label_arr = F.lit(labels)
    if method == "ntile":
        w = Window.partitionBy(*( [by] if by else [] )).orderBy(
            F.col("lm_logprob").desc(), F.col(pk).asc()
        )
        nt = F.ntile(n_buckets).over(w)
        # NULL scores are excluded from the ranked set (they would
        # otherwise pollute tercile sizes) and re-attach with NULL bucket
        ranked = scored.filter(F.col("lm_logprob").isNotNull()).withColumn(
            "bucket", F.element_at(label_arr, nt)
        )
        nulls = scored.filter(F.col("lm_logprob").isNull()).withColumn(
            "bucket", F.lit(None).cast("string")
        )
        return ranked.unionByName(nulls)
    # quantile: thresholds at (1/N .. (N-1)/N) score quantiles DESCENDING
    ps = [i / n_buckets for i in range(1, n_buckets)]
    nn = scored.filter(F.col("lm_logprob").isNotNull())
    th = (
        nn.groupBy(*([by] if by else []))
        .agg(
            F.percentile_approx(
                "lm_logprob", [1.0 - p for p in ps], 10_000
            ).alias("_ths")
        )
    )
    joined = (
        scored.join(F.broadcast(th), on=by, how="left")
        if by
        else scored.crossJoin(F.broadcast(th))
    )
    # _ths descending: bucket = 1 + count of thresholds the score is BELOW
    idx = (
        F.lit(1)
        + F.size(
            F.filter(F.col("_ths"), lambda t: F.col("lm_logprob") < t)
        )
    )
    return joined.withColumn(
        "bucket",
        F.when(F.col("lm_logprob").isNotNull(), F.element_at(label_arr, idx)),
    ).drop("_ths")
