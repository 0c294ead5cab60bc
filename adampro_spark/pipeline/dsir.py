"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

Select raw-corpus documents whose hashed n-gram distribution looks like
a small TARGET corpus (e.g. wiki+books): fit smoothed bucket
probabilities on both corpora, weight every raw document by the
log-likelihood ratio of its hashed features, then resample with the
Gumbel top-k trick — weighted sampling WITHOUT replacement expressed as
one distributed top-k, the only form that works at 100 TB (no
sequential draws, no driver-side reservoir).

No reference counterpart (the reference engine has no data-selection
surface); this implements the public method directly, in the repo's
portable-arithmetic style so every stage has an exact DuckDB mirror:

* features  — per-token 31-poly hashes (text.poly_hash) and bigram
  window folds ((a*31 + h) mod P), each mapped to ``hash % n_buckets``;
  counts keep MULTIPLICITY (a bag, not a set — the paper's bag-of-
  hashed-ngrams model);
* fit       — one bounded groupBy per corpus (≤ n_buckets rows each),
  add-one smoothing on both sides, a full log-ratio table small enough
  to broadcast at any corpus size;
* weights   — explode to slim (pk, bucket) pairs, broadcast-join the
  ratio table, per-document sum with map-side combine; document text is
  pruned out before the explode and never shuffles;
* resample  — key = ln(10)·logweight + Gumbel(u), u a deterministic
  unit hash of (salt, pk) (mix._unit_hash), Gumbel = -ln(-ln(u));
  ``orderBy(key).limit(k)`` plans as TakeOrderedAndProject, so the
  cross-partition state is exactly k rows.

Plan-shape note: token-hash arrays are STAGED into a column before any
window lambda reads them (the mix._grams_from_token_hashes lesson —
an expression argument gets inlined into every window's lambda by
CollapseProject, re-hashing the document per window).
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adampro_spark.caching import CacheScope
from adampro_spark.pipeline.mix import _token_hashes, _unit_hash
from adampro_spark.pipeline.text import HASH_P

DEFAULT_BUCKETS = 8192


def _doc_features(th: Column, n_buckets: int, bigrams: bool) -> Column:
    """Hashed feature-bucket array (WITH multiplicity) from a staged
    token-hash column: unigram buckets, plus bigram window-fold buckets
    when ``bigrams``.  ``th`` must be a plain column reference — see the
    module docstring."""
    b = F.lit(n_buckets)
    uni = F.transform(th, lambda h: h % b)
    if not bigrams:
        return uni
    k = F.size(th)
    bi = F.when(
        k >= 2,
        F.transform(
            F.sequence(F.lit(1), k - 1),
            lambda i: F.aggregate(
                F.slice(th, i, 2),
                F.lit(0).cast("long"),
                lambda acc, h: (acc * 31 + h) % F.lit(HASH_P),
            )
            % b,
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.concat(uni, bi)


def _exploded_features(
    df: DataFrame,
    text_col: str,
    pk: str | None,
    n_buckets: int,
    bigrams: bool,
) -> DataFrame:
    """Slim (pk?, bucket) pairs: stage token hashes, then explode the
    feature buckets.  With ``pk`` uses explode_outer so empty documents
    keep a (pk, NULL) row; without it (fit path) plain explode."""
    cols = ([F.col(pk)] if pk else []) + [
        _token_hashes(text_col).alias("_th")
    ]
    staged = df.select(*cols)
    feats = _doc_features(F.col("_th"), n_buckets, bigrams)
    if pk:
        return staged.select(
            F.col(pk), F.explode_outer(feats).alias("bucket")
        )
    return staged.select(F.explode(feats).alias("bucket"))


def fit_dsir(
    raw: DataFrame,
    target: "DataFrame | Column",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
) -> tuple[DataFrame, dict[str, Any]]:
    """Fit the hashed-ngram importance model.

    Returns ``(buckets, meta)``: ``buckets`` is an eagerly-materialized
    DataFrame ``(bucket, log_ratio)`` with one row per bucket observed
    in EITHER corpus, where ``log_ratio = log10 p_target(bucket) -
    log10 p_raw(bucket)`` under add-one smoothing
    ``p(b) = (c_b + 1) / (n + n_buckets)``; ``meta`` carries the totals
    and ``default_log_ratio`` — the ratio of a bucket unseen in both
    corpora (smoothing makes it a constant), applied by the scorers to
    buckets absent from the table.

    ``target`` is either its own DataFrame, or (round 15) a boolean
    Column over ``raw`` marking the target slice — the common "target
    is a subset of the raw corpus" case then fits BOTH sides from ONE
    feature pass (``groupBy(bucket).agg(count, count-if-target)``)
    instead of exploding the raw corpus twice.  Counts are identical
    by construction.

    The fit is two bounded aggregations (one with a Column target):
    each corpus collapses to at most ``n_buckets`` count rows
    regardless of size, so the returned table is always broadcastable.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")

    def counts(df: DataFrame) -> DataFrame:
        return (
            _exploded_features(df, text_col, None, n_buckets, bigrams)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    with CacheScope() as scope:
        if isinstance(target, Column):
            # one feature pass, two conditional counts: the target flag is
            # evaluated per document and rides the slim (bucket, flag) rows
            raw_c = tgt_c = scope.keep(
                raw.select(
                    _token_hashes(text_col).alias("_th"), target.alias("_t")
                )
                .select(
                    F.explode(
                        _doc_features(F.col("_th"), n_buckets, bigrams)
                    ).alias("bucket"),
                    F.col("_t"),
                )
                .groupBy("bucket")
                .agg(
                    F.count(F.lit(1)).alias("_rc"),
                    F.coalesce(
                        F.sum(F.col("_t").cast("long")), F.lit(0)
                    ).alias("_tc"),
                )
            )
        else:
            raw_c = scope.keep(counts(raw).withColumnRenamed("cnt", "_rc"))
            tgt_c = scope.keep(counts(target).withColumnRenamed("cnt", "_tc"))
        if raw_c is tgt_c:
            tot = raw_c.agg(
                F.coalesce(F.sum("_rc"), F.lit(0)).alias("nr"),
                F.coalesce(F.sum("_tc"), F.lit(0)).alias("nt"),
            ).collect()[0]
            n_raw, n_tgt = int(tot["nr"]), int(tot["nt"])
            # target ⊆ raw: every target bucket is a raw bucket, so the
            # single grouped table IS the full-outer join (a zero-count
            # target side joins as 0 exactly like the missing-row path)
            joined = raw_c
        else:
            n_raw = int(
                raw_c.agg(F.coalesce(F.sum("_rc"), F.lit(0))).collect()[0][0]
            )
            n_tgt = int(
                tgt_c.agg(F.coalesce(F.sum("_tc"), F.lit(0))).collect()[0][0]
            )
            joined = raw_c.join(tgt_c, "bucket", "full_outer")
        dr = float(n_raw + n_buckets)
        dt = float(n_tgt + n_buckets)
        buckets = joined.select(
            "bucket",
            (
                F.log10((F.coalesce(F.col("_tc"), F.lit(0)) + 1) / F.lit(dt))
                - F.log10(
                    (F.coalesce(F.col("_rc"), F.lit(0)) + 1) / F.lit(dr)
                )
            ).alias("log_ratio"),
        ).localCheckpoint(eager=True)  # ≤ 2·n_buckets rows
    meta = {
        "n_raw": n_raw,
        "n_target": n_tgt,
        "n_buckets": n_buckets,
        "bigrams": bigrams,
        "default_log_ratio": math.log10(1.0 / dt) - math.log10(1.0 / dr),
        "base": 10,
        "smoothing": "add_one",
    }
    return buckets, meta


def dsir_weights(
    df: DataFrame,
    buckets: DataFrame,
    meta: dict[str, Any],
    text_col: str = "text",
    pk: str = "doc_id",
) -> DataFrame:
    """Per-document log importance weight: ``(pk, dsir_logweight,
    dsir_feats)`` — the sum of ``log_ratio`` over the document's feature
    bag (buckets missing from the table score ``default_log_ratio``).
    Documents with no tokens weigh 0.0 with ``dsir_feats = 0``.

    Plan shape: slim (pk, bucket) explode, broadcast ratio join,
    map-side-combined per-document sum — text never shuffles.
    """
    feats = _exploded_features(
        df, text_col, pk, int(meta["n_buckets"]), bool(meta["bigrams"])
    )
    joined = feats.join(
        F.broadcast(buckets.select("bucket", "log_ratio")),
        "bucket",
        "left",
    )
    lw = F.when(
        F.col("bucket").isNotNull(),
        F.coalesce(
            F.col("log_ratio"), F.lit(float(meta["default_log_ratio"]))
        ),
    )
    return joined.groupBy(pk).agg(
        F.coalesce(F.sum(lw), F.lit(0.0)).alias("dsir_logweight"),
        F.count(F.col("bucket")).alias("dsir_feats"),
    )


def dsir_weight_col(
    buckets: "DataFrame | dict[int, float]",
    meta: dict[str, Any],
    text_col: str = "text",
) -> Column:
    """Map-only scoring: the same log importance weight as
    :func:`dsir_weights`, as ONE Arrow-batched pandas-UDF column — no
    explode, no join, no aggregate.  This is the stream-safe form (use
    it as a ``stream_curate``/``curate`` ``extra_gates`` column, e.g.
    ``{"_dsir_ok": dsir_weight_col(b, m) >= floor}``) and the batch
    escape hatch for scoring inside an existing one-scan projection.

    The ratio table rides the UDF closure (≤ 2·n_buckets entries).
    Tokenization and hashing mirror the column path exactly: lowercase,
    ``\\s+`` split (ASCII mode — parity with the JVM ``\\s``), 31-poly
    codepoint fold, bigram window fold, ``% n_buckets``.  Empty and
    NULL documents weigh 0.0, as in :func:`dsir_weights`.
    """
    import re as _re

    import pandas as pd
    from pyspark.sql import types as T

    if isinstance(buckets, DataFrame):
        table = {
            int(r["bucket"]): float(r["log_ratio"]) for r in buckets.collect()
        }
    else:
        table = {int(k): float(v) for k, v in buckets.items()}
    default = float(meta["default_log_ratio"])
    n_buckets = int(meta["n_buckets"])
    bigrams = bool(meta["bigrams"])
    ws = _re.compile(r"\s+", _re.ASCII)

    def _poly(s):
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % HASH_P
        return h

    # no type hints: under `from __future__ import annotations` they are
    # strings and pandas_udf's hint inference rejects them
    def _score(texts):
        out = []
        get = table.get
        for t in texts:
            if t is None:
                out.append(0.0)
                continue
            th = [_poly(w) for w in ws.split(t.lower()) if w]
            total = sum(get(h % n_buckets, default) for h in th)
            if bigrams:
                total += sum(
                    get(((th[i] * 31 + th[i + 1]) % HASH_P) % n_buckets,
                        default)
                    for i in range(len(th) - 1)
                )
            out.append(total)
        return pd.Series(out, dtype="float64")

    return F.pandas_udf(_score, T.DoubleType())(
        F.col(text_col) if isinstance(text_col, str) else text_col
    )


# Largest k the exact Gumbel top-k path handles: the k-row selection is
# merged on the driver (TakeOrderedAndProject) and broadcast back, so
# past this `mode="auto"` switches to the threshold path — the same
# count-then-route discipline as lm_bucket/_gated_semi_join.
DSIR_EXACT_MAX_K = 2_000_000


def dsir_resample(
    df: DataFrame,
    buckets: DataFrame,
    meta: dict[str, Any],
    k: int,
    text_col: str = "text",
    pk: str = "doc_id",
    seed: int = 42,
    mode: str = "auto",
    relative_error: float = 0.001,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Weighted sample of ``k`` documents WITHOUT replacement,
    probability ∝ exp(ln(10)·dsir_logweight), via the Gumbel top-k
    trick: ``key = ln(10)·logweight - ln(-ln(u))`` with ``u`` the
    deterministic unit hash of ``('dsir|' + seed, pk)`` — reruns,
    repartitionings and engines agree on the sample.

    Returns the selected input rows (all original columns) plus
    ``dsir_logweight``, ordered by nothing in particular (the selection
    is the contract, not the order).

    ``mode`` (the lm_bucket pattern: an exact small-k path and an
    approximate scale path, AUTO-ROUTED by default):

    * ``"auto"`` (default) — ``"exact"`` for ``k ≤ DSIR_EXACT_MAX_K``
      (the driver-merge/broadcast bound), ``"threshold"`` past it, so
      a corpus-scale selection can no longer converge k rows on the
      driver by default.  The routing needs no job (k is a literal).
    * ``"exact"`` — exactly ``k`` rows.  ``orderBy(key).limit(k)``
      plans as TakeOrderedAndProject: every executor keeps its local
      top-k and the driver merges k-sized heaps.  Right whenever k
      rows fit on the driver (selection lists, eval sets, ≤ millions).
    * ``"threshold"`` — for corpus-scale k (select 100M of 10B docs):
      one ``approxQuantile`` pass (Greenwald-Khanna, driver receives a
      single number) finds the key cutoff at rank ~k, then a map-only
      ``filter(key >= cutoff)`` — nothing k-sized ever converges on one
      node.  The size guarantee is Greenwald-Khanna's RANK bound:
      kept rows = ``k ± relative_error·n`` where n is the CORPUS size,
      not ``k·(1 ± relative_error)`` — at k = 100M of n = 10B the
      default 0.001 allows ±10M (±10% of k), so choose
      ``relative_error`` relative to ``k/n`` when the size matters
      (e.g. ``0.1·k/n`` for a ±10%-of-k band).  Membership is still
      exactly "everything above the cutoff", so reruns agree row for
      row.  The slim keyed frame is checkpointed once — the weights
      pipeline is not re-executed per action.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if mode not in ("auto", "exact", "threshold"):
        raise ValueError(
            f"mode must be 'auto', 'exact' or 'threshold', got {mode!r}"
        )
    if mode == "auto":
        mode = "exact" if int(k) <= DSIR_EXACT_MAX_K else "threshold"
    # ``weights`` (round 15): callers that already computed
    # dsir_weights(df, ...) — e.g. to emit the weights themselves —
    # pass it here so the feature explode + ratio join doesn't run a
    # second time over the corpus; the result is identical because the
    # resample key is a deterministic function of (pk, dsir_logweight).
    w = (
        weights
        if weights is not None
        else dsir_weights(df, buckets, meta, text_col=text_col, pk=pk)
    )
    u = F.greatest(
        _unit_hash(F.col(pk), f"dsir|{seed}"), F.lit(1e-12)
    )  # clamp: u = 0 would send the Gumbel to -inf
    gumbel = -F.log(-F.log(u))
    key = F.col("dsir_logweight") * F.lit(math.log(10.0)) + gumbel
    keyed = w.select(pk, "dsir_logweight", key.alias("_dsir_key"))
    if mode == "threshold":
        # three actions consume keyed (count, quantile sketch, the final
        # join); checkpoint the slim (pk, weight, key) frame once so the
        # text explode -> ratio join -> aggregate never re-executes
        keyed = keyed.localCheckpoint(eager=True)
        n = keyed.count()
        if k >= n:
            return df.join(keyed.drop("_dsir_key"), pk, "inner")
        # the continuous Gumbel term makes key ties measure-zero, so the
        # quantile cutoff is a clean selector
        q = 1.0 - float(k) / float(n)
        cutoff = keyed.approxQuantile(
            "_dsir_key", [q], float(relative_error)
        )[0]
        sel = keyed.filter(F.col("_dsir_key") >= F.lit(cutoff)).drop(
            "_dsir_key"
        )
        return df.join(sel, pk, "inner")
    sel = (
        keyed.orderBy(F.col("_dsir_key").desc(), F.col(pk).asc())
        .limit(int(k))
        .drop("_dsir_key")
    )
    # k-sized side: broadcast the selection back onto the full rows
    return df.join(F.broadcast(sel), pk, "inner")
