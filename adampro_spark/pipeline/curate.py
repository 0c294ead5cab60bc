"""End-to-end corpus curation: the composition a training-data pipeline
actually runs — language gate → quality gate → near-dup removal — as one
operator with a per-stage attrition report.

No reference counterpart (the reference stops at retrieval); this is the
north-star composition of the verified building blocks: ``langid_expr`` /
``text_stats``'s quality arithmetic (codegen'd map-only flags, ONE scan
for every gate), the banded ``minhash_dup_pairs`` candidate generator and
``deduplicate``'s component resolution.  At 100 TB: the gate pass is one
map-only job over the text column (all flags computed together — adding a
gate costs zero extra scans), the gate counts come from the same job as a
map-side-combined aggregate, and dedup only ever sees the survivors.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adampro_spark.pipeline.dedup import (
    dedup_drops,
    deduplicate,
    exact_dedup,
    minhash_dup_pairs,
    simhash_pairs,
)
from adampro_spark.pipeline.text import (
    langid_expr, repetition_gate_flag, tokens_expr,
)


def gate_flags(
    text_col: str = "text",
    langs: Sequence[str] | None = ("en",),
    min_tokens: int = 20,
    min_quality: float = 0.3,
    max_chars: int | None = None,
    toks: Column | None = None,
    langid_col: Column | None = None,
    tokenizer: str = "whitespace",
) -> dict[str, Column]:
    """The curation gates as PURE COLUMN EXPRESSIONS — one dict of
    boolean flags (``_lang_ok/_len_ok/_cap_ok/_q_ok``) computed in a
    single map-only pass.  Because they are stateless expressions they
    apply unchanged to a STREAMING DataFrame (`readStream → withColumns →
    filter` — the gate pass of a live ingest pipeline); :func:`curate`
    composes them with dedup + the attrition report for batch corpora.

    ``toks``: a materialized token-array column — callers that stage
    tokens (curate, stream_curate) pass it so the language/length/
    quality flags score ONE tokenization instead of embedding it in
    every flag expression (measured: the gate pass 1.26 s → staged
    ~0.5 s at sf0.1).

    ``langid_col``: a language-code column that REPLACES the stopword
    heuristic in the ``langs`` gate — pass
    ``langid.trained_langid_col(model, meta)`` for the trained NB model
    (round 9); any stateless expression works, so the gate streams
    unchanged.

    ``tokenizer="script"`` (round 12): space-free-script characters
    (zh/ja/th) count as their own tokens AND as alphanumeric mass in
    the quality ratio — without it a Chinese document is one "token"
    of 100% "symbols" and every gate here mis-fires.  Callers passing
    a pre-staged ``toks`` must stage it with the SAME tokenizer
    (curate threads this through).
    """
    from adampro_spark.pipeline.text import alnum_strip_class, resolve_tokenizer

    toks = resolve_tokenizer(text_col, tokenizer) if toks is None else toks
    n_chars = F.length(F.col(text_col)).cast("long")
    n_tokens = F.size(toks).cast("long")
    alnum = F.length(
        F.regexp_replace(F.col(text_col), alnum_strip_class(tokenizer), "")
    )
    alnum_ratio = F.when(n_chars > 0, alnum / n_chars).otherwise(F.lit(0.0))
    quality = alnum_ratio * F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    lang_pred = (
        langid_col if langid_col is not None
        else langid_expr(text_col, toks=toks)
    )
    return {
        "_lang_ok": (
            lang_pred.isin(list(langs))
            if langs is not None
            else F.lit(True)
        ),
        "_len_ok": n_tokens >= F.lit(int(min_tokens)),
        "_cap_ok": (
            n_chars <= F.lit(int(max_chars))
            if max_chars is not None
            else F.lit(True)
        ),
        "_q_ok": quality >= F.lit(float(min_quality)),
    }


# Internal staging columns curate/stream_curate inject and later drop.
# An input column with one of these names (or prefixes) would be silently
# clobbered and REMOVED from the output (ADVICE r7) — refuse instead.
_RESERVED_GATE_FLAGS = (
    "_lang_ok", "_len_ok", "_cap_ok", "_q_ok", "_rep_ok", "_lm_ok",
    "_mlq_ok",
)
_RESERVED_PREFIXES = ("_ap_", "_rep_")


def _check_reserved_columns(df: DataFrame) -> None:
    clashes = [
        c
        for c in df.columns
        if c.startswith(_RESERVED_PREFIXES) or c in _RESERVED_GATE_FLAGS
    ]
    if clashes:
        raise ValueError(
            f"input columns {clashes} collide with curate's reserved "
            f"internal names (prefixes {_RESERVED_PREFIXES}, gate flags "
            f"{_RESERVED_GATE_FLAGS}); rename them before curating"
        )


GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# The complete Gopher A1.1 repetition table (Rae et al. 2021, Table A1):
# signal -> maximum allowed fraction.  Plug into
# ``curate(repetition_ceilings=GOPHER_REPETITION_CEILINGS)`` (or
# stream_curate) for the paper's full repetition-removal rule set.
GOPHER_REPETITION_CEILINGS: "dict[str, float]" = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def gopher_gate_flags(
    text_col: str = "text",
    toks: Column | None = None,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_words: int = 2,
    tokenizer: str = "whitespace",
    lang_col: Column | None = None,
) -> dict[str, Column]:
    """The MassiveText/Gopher quality-filtering rule set (Rae et al.
    2021, appendix A1.1 — the public heuristics behind most modern
    web-corpus pipelines) as PURE COLUMN EXPRESSIONS, directly pluggable
    into :func:`curate` via ``extra_gates`` (one combined scan, per-rule
    attrition counts for free):

    * ``_g_words``      — word count within [min_words, max_words];
    * ``_g_word_len``   — mean word length within [3, 10];
    * ``_g_symbols``    — '#' + '…'/'...' symbol-to-word ratio ≤ 0.1;
    * ``_g_bullets``    — ≤90% of lines start with a bullet AND ≤30%
                          end with an ellipsis;
    * ``_g_alpha``      — ≥80% of words contain an alphabetic character;
    * ``_g_required``   — ≥2 distinct words from the 8-word required set
                          (the "contains common English words" rule).

    ``toks``: a materialized token array (see gate_flags) — strongly
    recommended inside curate, which stages one anyway.  The two line
    metrics split the text once each (single-consumer expressions).

    Usage::

        curate(df, extra_gates=gopher_gate_flags(toks=F.col("_ap_gtoks")))

    ``tokenizer="script"`` (round 12, verdict r11 #2): the Gopher rules
    are English-targeted, and the whitespace tokenization makes them
    DEGENERATE on space-free scripts — a Chinese document is ONE
    "word", so ``_g_words`` fails on count, ``_g_word_len`` fails on a
    mean length of hundreds, ``_g_alpha``/``_g_required`` fail outright
    — exactly the corpora a multilingual langid invites in.  In script
    mode: tokens come from :func:`~adampro_spark.pipeline.text.
    script_tokens_expr` (each zh/ja/th character is its own word, so
    the count/symbol/bullet rules regain meaning), a space-free-script
    character counts as alphabetic in ``_g_alpha``, and the two rules
    with no script analogue — ``_g_word_len`` (character "words" are
    length 1 by construction) and ``_g_required`` (English word list) —
    pass through as True for documents where space-free scripts
    DOMINATE (≥ half the non-whitespace characters,
    ``space_free_dominant_expr`` — one ``when()`` over the existing
    exprs) while Latin documents in the same corpus keep the full rule
    set.  All still pure codegen, DuckDB-mirrored.

    ``lang_col`` (round 13, verdict r12 #2): a language-code column that
    routes the ``_g_required`` "contains common words" rule onto the
    detected language — English keeps Gopher's canonical 8-word set,
    every other known code checks its own common-word list
    (:data:`~adampro_spark.pipeline.text.STOPWORDS`), unknown codes
    fall back to the English set (the historical behavior).  Without it
    a French document fails ``_g_required`` spuriously — it contains no
    English function words by construction.  One literal map lookup,
    still pure codegen; composes with the script-dominance pass-through.
    """
    from adampro_spark.pipeline.text import (
        resolve_tokenizer,
        space_free_class,
        space_free_dominant_expr,
    )

    tk = resolve_tokenizer(text_col, tokenizer) if toks is None else toks
    script_mode = tokenizer == "script"
    dom = space_free_dominant_expr(text_col) if script_mode else F.lit(False)
    n_words = F.size(tk)
    tok_chars = F.aggregate(
        F.transform(tk, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    mean_len = F.when(n_words > 0, tok_chars / n_words).otherwise(F.lit(0.0))
    symbols = F.regexp_count(F.col(text_col), F.lit("#")) + F.regexp_count(
        F.col(text_col), F.lit(r"\.\.\.|…")
    )
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda ln: F.length(ln) > 0
    )
    bullet_frac = F.when(
        F.size(lines) > 0,
        F.size(
            F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•‣▪]"))
        ) / F.size(lines),
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        F.size(lines) > 0,
        F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$")))
        / F.size(lines),
    ).otherwise(F.lit(0.0))
    alpha_pat = f"[a-z]|{space_free_class()}" if script_mode else "[a-z]"
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(tk, lambda x: x.rlike(alpha_pat))) / n_words,
    ).otherwise(F.lit(0.0))
    if lang_col is None:
        req_set: Column = F.lit(list(GOPHER_REQUIRED_WORDS))
    else:
        from adampro_spark.pipeline.text import STOPWORDS

        pairs: list = []
        for code in sorted(STOPWORDS):
            words = (
                GOPHER_REQUIRED_WORDS if code == "en" else STOPWORDS[code]
            )
            pairs += [F.lit(code), F.array(*[F.lit(x) for x in words])]
        req_map = F.create_map(*pairs)
        req_set = F.coalesce(
            F.element_at(req_map, lang_col),
            F.lit(list(GOPHER_REQUIRED_WORDS)),
        )
    required = F.size(F.array_intersect(F.array_distinct(tk), req_set))
    word_len_ok = (mean_len >= F.lit(float(min_mean_word_len))) & (
        mean_len <= F.lit(float(max_mean_word_len))
    )
    required_ok = required >= F.lit(int(min_required_words))
    if script_mode:
        word_len_ok = F.when(dom, F.lit(True)).otherwise(word_len_ok)
        required_ok = F.when(dom, F.lit(True)).otherwise(required_ok)
    return {
        "_g_words": (n_words >= F.lit(int(min_words)))
        & (n_words <= F.lit(int(max_words))),
        "_g_word_len": word_len_ok,
        "_g_symbols": F.when(n_words > 0, symbols / n_words).otherwise(
            F.lit(0.0)
        ) <= F.lit(float(max_symbol_ratio)),
        "_g_bullets": (bullet_frac <= F.lit(float(max_bullet_line_frac)))
        & (ellipsis_frac <= F.lit(float(max_ellipsis_line_frac))),
        "_g_alpha": alpha_frac >= F.lit(float(min_alpha_word_frac)),
        "_g_required": required_ok,
    }


def curate(
    df: DataFrame,
    text_col: str = "text",
    pk: str = "doc_id",
    langs: Sequence[str] | None = ("en",),
    langid_col: Column | None = None,
    min_tokens: int = 20,
    min_quality: float = 0.3,
    max_chars: int | None = None,
    max_dup_line_frac: float | None = None,
    max_top_2gram_char_frac: float | None = None,
    repetition_ceilings: "Mapping[str, float] | None" = None,
    redact: Sequence[str] | bool | None = None,
    lm: "tuple[Any, ...] | None" = None,  # (vocab, meta, floor) or
    # (vocab, bigrams, meta, floor) — see the docstring
    line_dedup_min_docs: int | None = None,
    span_dedup_min_docs: int | None = None,
    span_n: int = 50,
    dedup: str | None = "minhash",
    dedup_threshold: float | None = None,
    dedup_keep_by: str | None = None,
    dedup_keep: str = "max",
    stage_timings: dict[str, float] | None = None,
    extra_gates: Mapping[str, Column] | None = None,
    quality_weights: Sequence[float] | None = None,
    quality_junk_threshold: float = 0.5,
    report_by: str | None = None,
    tokenizer: str = "whitespace",
    **dedup_kw: Any,
) -> tuple[DataFrame, dict[str, Any]]:
    """Filter + deduplicate a document corpus; returns ``(survivors,
    report)`` where the report counts each gate's attrition.

    ``pk`` values MUST be unique in the input (ADVICE r15): the dedup
    survivor machinery resolves drop-lists per pk, and the report's
    ``n_output``/``n_dup_dropped`` are computed as ``n_pre_dedup −
    |drop-list|`` — with duplicate pks the anti-join removes every row
    carrying a dropped pk while the slim list counts it once, so both
    the survivors and the counts would silently diverge.  The report
    counts each gate's attrition:

    ``n_input, n_lang_fail, n_short, n_too_long, n_low_quality,
    n_after_gates, n_dup_dropped, n_output`` (a doc failing several gates
    counts in each — the gate columns are independent diagnostics; the
    kept set requires ALL gates).

    Gates (all computed in one map-only pass, mirroring text_stats):
      * ``langs`` — langid_expr heuristic ∈ langs (None disables);
      * ``min_tokens`` — whitespace-token floor;
      * ``max_chars`` — length ceiling (None disables);
      * ``min_quality`` — the text_stats quality score floor
        (alnum_ratio damped by the short-doc prior).

    ``dedup`` — "minhash" (banded near-dup, ``dedup_threshold`` Jaccard,
    default 0.8), "simhash" (pigeonhole Hamming pairs, ``max_hamming``
    via kw — passing ``dedup_threshold`` with simhash raises, it has no
    Jaccard knob), "exact" (whitespace-normalized text-hash groups — no
    pair generation or component resolution at all: groups are already
    closed under exact equality, so the dropped set comes straight from
    :func:`exact_dedup` and survivors are one anti-join on pk; the
    dropped side is only the duplicates, so AQE broadcasts it in the
    common low-dup-rate case), or None; survivors keep each duplicate
    group's min-pk member (:func:`deduplicate`).

    ``dedup_keep_by`` (round 12) — a column name: the near-dup group
    survivor becomes the member with the max (``dedup_keep="min"``
    flips) value of that column, ties min pk — keep the fullest /
    highest-quality copy (``deduplicate(keep_by=)``).  Near-dup modes
    only: exact groups are byte-identical after normalization, so
    member choice is immaterial there and passing it raises.

    ``max_dup_line_frac`` / ``max_top_2gram_char_frac`` (round 7) —
    Gopher-style repetition ceilings (text.with_repetition): documents
    whose duplicate-line fraction or top-bigram character coverage
    exceeds the ceiling fail a ``_rep_ok`` gate computed in the SAME
    one-scan pass; the report gains ``n_repetitive``.  ``None`` (default)
    disables each.

    ``repetition_ceilings`` (round 8) — the general form: a mapping of
    ANY :func:`~adampro_spark.pipeline.text.with_repetition` signal name
    to its ceiling, e.g. the full Gopher A1.1 repetition table
    ``GOPHER_REPETITION_CEILINGS`` (13 signals; extended signals switch
    the staging to ``with_repetition(extended=True)`` automatically).
    Merges with the two legacy knobs; unknown signal names raise.

    ``redact`` (round 7) — PII scrubbing BEFORE the gates: ``True`` for
    every category in scrub.PII_PATTERNS or a sequence of category
    names; the surviving corpus carries the redacted text and the report
    gains ``n_pii_docs`` (documents with ≥1 detected match).  Rides the
    same projection — zero extra scans.

    ``line_dedup_min_docs`` — when set, cross-document boilerplate LINE
    removal (:func:`~adampro_spark.pipeline.dedup.line_dedup`) runs
    FIRST, before redaction and the gates — the C4 ordering, so token
    floors and quality scores judge the text that would actually train;
    the report gains ``n_boiler_lines`` (total lines removed), counted
    by the SAME one-scan gate aggregate (the hotness join itself is the
    stage's only extra cost; its timing lands in ``gates_sec``).

    ``span_dedup_min_docs`` / ``span_n`` (round 8) — when set,
    exact-substring dedup (:func:`~adampro_spark.pipeline.dedup
    .span_dedup`, Lee et al. 2022) cuts every token covered by a word
    ``span_n``-gram shared by ≥ ``span_dedup_min_docs`` documents.  It
    runs AFTER the line/paragraph boilerplate pass and BEFORE redaction
    and the gates, so token floors and quality scores judge the text
    that would actually train; the report gains
    ``n_span_tokens_removed``, counted by the same one-scan gate
    aggregate.

    ``lm`` — a ``(vocab, meta, min_logprob)`` triple from
    :func:`~adampro_spark.pipeline.lm.fit_unigram_lm`, or a
    ``(vocab, bigrams, meta, min_logprob)`` 4-tuple from
    :func:`~adampro_spark.pipeline.lm.fit_bigram_lm` for the
    interpolated bigram scorer: gate survivors whose mean token
    log-probability falls below the floor are dropped BEFORE dedup (the
    CCNet perplexity-filter composition); the report gains
    ``n_lm_fail``.  Runs as one broadcast-join + semi-join stage — a
    join-bearing stage that cannot ride the one-scan gate pass.

    ``extra_gates`` — extra boolean flag expressions merged into the
    SAME one-scan gate pass (name → Column; name must start with ``_``
    by convention, e.g. ``{"_ml_ok": quality_score_expr(w) < 0.5}`` to
    plug in the learned classifier): the kept set requires them, and the
    report gains a ``n_fail<name>`` attrition count per gate — all at
    zero additional scans.

    ``quality_weights`` (round 10, verdict r9 #4) — a LEARNED quality
    model's weight vector (:func:`~adampro_spark.pipeline.quality
    .train_quality_model` / the bundled ``QUALITY_SEED_WEIGHTS``): adds
    a ``_mlq_ok`` gate ``quality_score_expr(w) <
    quality_junk_threshold`` (scores ≥ the threshold are junk under the
    1.0-=-junk labeling) riding the same one-scan pass; the report
    gains ``n_fail_mlq_ok``.  Sugar over ``extra_gates`` — passing an
    explicit ``_mlq_ok`` extra gate alongside raises the usual clash.

    ``stage_timings`` — pass a dict to receive wall-clock seconds per
    stage (``gates_sec`` / ``pairs_sec`` / ``resolution_sec``); splitting
    pairs from resolution forces the pair set through an eager
    localCheckpoint (one extra materialization, bench/diagnostic use).

    ``report_by`` (round 11, verdict r10 #3) — a group column: the SAME
    one-pass gate aggregate groups by it instead of globally, the global
    report is derived driver-side by summing the (collected) per-group
    rows, and the report gains two keys at ZERO extra scans:

      * ``report["by_group"]`` — a driver-built DataFrame with
        :func:`curate_report_by`'s schema (``by, n, n_lang_fail,
        n_short, n_too_long, n_low_quality, [n_repetitive,]
        [n_fail<extra>…,] n_pass[, n_pii_docs, n_boiler_lines,
        n_span_tokens_removed]``) — evaluating it runs NO job over the
        corpus (the rows are already on the driver);
      * ``report["max_group_pass"]`` — the largest per-group ``n_pass``,
        an honest per-group size bound for downstream routing
        (ccnet_pipeline feeds it to ``lm_bucket``'s auto gate).

    The per-group rows are COLLECTED (like the global aggregate row
    already is), so ``report_by`` is for modest-cardinality grouping —
    languages, sources, crawls — not per-document keys.

    ``tokenizer`` (round 12, verdict r11 #2) — ``"whitespace"``
    (default) or ``"script"``: script mode stages script-aware tokens
    (zh/ja/th characters as their own tokens,
    :func:`~adampro_spark.pipeline.text.script_tokens_expr`) into
    ``_ap_gtoks`` and extends the quality alnum mass with those
    scripts, so token floors / quality / repetition signals stop
    mis-gating space-free-script corpora; Latin documents are unchanged
    by construction.  Pair with
    ``extra_gates=gopher_gate_flags(toks=F.col("_ap_gtoks"),
    tokenizer="script")`` for the script-routed Gopher rules.
    """
    import time

    from adampro_spark.pipeline.dedup import _spread

    _check_reserved_columns(df)
    # _spread first (round 15): the gate/repetition flags (and any langid
    # column the caller staged) are per-row expression work — a
    # single-row-group input would evaluate all of it on one core; at
    # cluster scale this is a no-op (see pipeline/text._spread)
    df = _spread(df)
    # knob compatibility up front (review r12): these used to raise only
    # AFTER the whole gate pipeline had run — minutes of cluster work
    # before a parameter error on a big corpus
    if dedup_keep_by is not None and dedup not in ("minhash", "simhash"):
        raise ValueError(
            "dedup_keep_by applies to near-dup modes (minhash/simhash) "
            "only — exact-duplicate groups are identical text, member "
            "choice is immaterial"
        )
    if dedup_keep != "max" and dedup_keep_by is None:
        raise ValueError(
            "dedup_keep has no effect without dedup_keep_by — pass the "
            "score column to select survivors by"
        )
    if dedup_threshold is not None:
        if dedup is None:
            raise ValueError("dedup_threshold given but dedup is disabled")
        if dedup == "exact":
            raise ValueError(
                "dedup_threshold does not apply to dedup='exact' — exact "
                "groups have no similarity knob"
            )
        if dedup == "simhash":
            # r5 advice: silently ignoring the Jaccard knob here sent
            # callers tuning a parameter with no effect
            raise ValueError(
                "dedup_threshold does not apply to dedup='simhash' — "
                "tune max_hamming= instead"
            )

    boiler_col = None
    if line_dedup_min_docs is not None:
        from adampro_spark.pipeline.dedup import line_dedup

        df = line_dedup(
            df, text_col=text_col, pk=pk, min_docs=int(line_dedup_min_docs)
        ).withColumnRenamed("n_lines_removed", "_ap_boiler_n")
        # the report count rides the one-scan gate aggregate below — a
        # separate agg here would evaluate the whole line-dedup plan
        # (hotness shuffle + rebuild) a second time
        boiler_col = F.coalesce(F.sum("_ap_boiler_n"), F.lit(0)).alias(
            "boiler_lines"
        )

    span_col = None
    if span_dedup_min_docs is not None:
        from adampro_spark.pipeline.dedup import span_dedup

        # exact-substring pass AFTER line boilerplate, BEFORE redaction
        # and the gates (the Lee et al. 2022 composition: cut duplicated
        # >= span_n-token spans so token floors and quality judge the
        # text that would actually train); its report count rides the
        # same one-scan gate aggregate as the line counter
        df = span_dedup(
            df, text_col=text_col, pk=pk, n=int(span_n),
            min_docs=int(span_dedup_min_docs),
        ).withColumnRenamed("n_tokens_removed", "_ap_span_n")
        span_col = F.coalesce(F.sum("_ap_span_n"), F.lit(0)).alias(
            "span_tokens"
        )

    pii_docs_col = None
    if redact:
        from adampro_spark.pipeline.scrub import (
            _cats, pii_total_expr, redact_expr,
        )

        cats = _cats(None if redact is True else list(redact))
        # count on the ORIGINAL text, rewrite in the same projection
        df = df.withColumn("_ap_pii_n", pii_total_expr(text_col, cats)).withColumn(
            text_col, redact_expr(text_col, cats)
        )
        pii_docs_col = F.sum((F.col("_ap_pii_n") > 0).cast("long")).alias(
            "pii_docs"
        )

    # stage the token array once: langid's five per-language filters plus
    # the length/quality flags would otherwise each re-tokenize the text.
    # tokenizer="script" stages script-aware tokens (zh/ja/th characters
    # as their own tokens) into the SAME column, so every downstream
    # consumer — gates, repetition signals, user extra_gates built on
    # _ap_gtoks — agrees on one tokenization (verdict r11 #2).
    from adampro_spark.pipeline.text import resolve_tokenizer as _resolve_tok

    df = df.withColumn("_ap_gtoks", _resolve_tok(text_col, tokenizer))
    flags = dict(
        gate_flags(
            text_col, langs=langs, min_tokens=min_tokens,
            min_quality=min_quality, max_chars=max_chars,
            toks=F.col("_ap_gtoks"), langid_col=langid_col,
            tokenizer=tokenizer,
        )
    )
    rep_internals: list[str] = []
    pre_rep = df  # pre-staging handle: the kept path re-stages from here
    rep_extended = False
    ceilings: dict[str, float] = dict(repetition_ceilings or {})
    if max_dup_line_frac is not None:
        ceilings.setdefault("dup_line_frac", float(max_dup_line_frac))
    if max_top_2gram_char_frac is not None:
        ceilings.setdefault(
            "top_2gram_char_frac", float(max_top_2gram_char_frac)
        )
    if ceilings:
        from adampro_spark.pipeline.text import with_repetition

        basic = {
            "dup_line_frac", "dup_line_char_frac",
            "top_2gram_char_frac", "dup_5gram_frac",
        }
        rep_extended = bool(set(ceilings) - basic)
        df, rep, rep_internals = with_repetition(
            df, text_col, toks=F.col("_ap_gtoks"), extended=rep_extended,
        )
        unknown = sorted(set(ceilings) - set(rep))
        if unknown:
            raise ValueError(
                f"unknown repetition signals {unknown}; available: "
                f"{sorted(rep)}"
            )
        # the barrier inside repetition_gate_flag: without it, filtering
        # on this flag substitutes the staged gram projections into each
        # other's lambdas — an O(T^3) interpreted plan (see
        # text.pushdown_barrier)
        flags["_rep_ok"] = repetition_gate_flag(rep, ceilings)
    extras = dict(extra_gates or {})
    if quality_weights is not None:
        from adampro_spark.pipeline.quality import quality_score_expr

        if "_mlq_ok" in extras:
            raise ValueError(
                "quality_weights given but extra_gates already defines "
                "_mlq_ok — pass one or the other"
            )
        extras["_mlq_ok"] = quality_score_expr(
            list(quality_weights), text_col
        ) < F.lit(float(quality_junk_threshold))
    clash = set(extras) & set(flags)
    if clash:
        raise ValueError(f"extra_gates clash with built-in gates: {sorted(clash)}")
    flags.update(extras)
    flagged = df
    for name, expr in flags.items():
        flagged = flagged.withColumn(name, expr)

    all_ok = None
    for name in flags:
        all_ok = F.col(name) if all_ok is None else (all_ok & F.col(name))

    t0 = time.perf_counter()
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("_lang_ok")).cast("long")).alias("lang_fail"),
        F.sum((~F.col("_len_ok")).cast("long")).alias("short"),
        F.sum((~F.col("_cap_ok")).cast("long")).alias("too_long"),
        F.sum((~F.col("_q_ok")).cast("long")).alias("low_q"),
        F.sum(all_ok.cast("long")).alias("kept"),
    ] + (
        [F.sum((~F.col("_rep_ok")).cast("long")).alias("rep_fail")]
        if "_rep_ok" in flags
        else []
    ) + ([pii_docs_col] if pii_docs_col is not None else []) + (
        [boiler_col] if boiler_col is not None else []
    ) + ([span_col] if span_col is not None else []) + [
        # extra gates ride the SAME one-pass aggregate — adding a gate
        # (e.g. a learned quality score) costs zero extra scans
        F.sum((~F.col(name)).cast("long")).alias(f"x_{name}")
        for name in extras
    ]
    by_group_df = None
    max_group_pass = None
    if report_by is None:
        agg = flagged.agg(*aggs).collect()[0]
    else:
        # SAME one-pass aggregate, grouped: the shuffle carries
        # ≤ |groups| × counters (map-side combined), and the global
        # report falls out by summing driver-side — the per-group
        # attrition report costs zero extra scans (verdict r10 #3)
        per_group = flagged.groupBy(report_by).agg(*aggs)
        g_rows = per_group.collect()
        cnames = [c for c in per_group.columns if c != report_by]
        agg = {c: sum(int(r[c] or 0) for r in g_rows) for c in cnames}
        by_group_df, max_group_pass = _by_group_frame(
            df.sparkSession, flagged.schema[report_by].dataType,
            report_by, g_rows, flags, extras,
            has_pii=pii_docs_col is not None,
            has_boiler=boiler_col is not None,
            has_span=span_col is not None,
        )
    if stage_timings is not None:
        stage_timings["gates_sec"] = round(time.perf_counter() - t0, 3)

    # kept path: the CHEAP gate conjuncts filter FIRST, below the
    # repetition staging, so rows failing length/lang/extra gates never
    # build the gram arrays (a single filter above the barrier'd flag
    # project would evaluate the staging for every row — the ND project
    # blocks pushdown for ALL conjuncts, cheap ones included); the
    # repetition gate is then re-staged over the survivors only.  Same
    # final set as one conjunction (commutative; NULL flags drop the
    # row either way), evaluated over strictly fewer rows.
    cheap_ok = None
    for name, expr in flags.items():
        if name == "_rep_ok":
            continue
        cheap_ok = expr if cheap_ok is None else (cheap_ok & expr)
    kept = pre_rep if cheap_ok is None else pre_rep.filter(cheap_ok)
    if "_rep_ok" in flags:
        kept, rep_k, internals_k = with_repetition(
            kept, text_col, toks=F.col("_ap_gtoks"), extended=rep_extended,
        )
        # the pinned gate must be a PROJECT FIELD, not a raw filter
        # condition: PushPredicateThroughNonJoin pushes even an ND
        # condition through deterministic projects (its determinism
        # guard is on the project's fields), so filtering on the
        # expression directly would inline the staging after all
        kept = (
            kept.withColumn("_rep_ok", repetition_gate_flag(rep_k, ceilings))
            .filter(F.col("_rep_ok"))
            .drop("_rep_ok", *internals_k)
        )
    kept = kept.drop("_ap_gtoks")
    if pii_docs_col is not None:
        kept = kept.drop("_ap_pii_n")
    if boiler_col is not None:
        kept = kept.drop("_ap_boiler_n")
    if span_col is not None:
        kept = kept.drop("_ap_span_n")

    n_lm_fail = None
    if lm is not None:
        # LM scoring needs a join (broadcast vocab + per-doc aggregate),
        # so it cannot ride the one-scan gate pass; it runs on the GATE
        # SURVIVORS only — the CCNet composition order, and the cheap one
        # (scores are never computed for docs the gates already dropped).
        from adampro_spark.pipeline.lm import bigram_lm_score, lm_score

        if len(lm) == 4:  # (vocab, bigrams, meta, floor): interpolated bigram
            lm_vocab, lm_bigrams, lm_meta, lm_floor = lm
            scores = bigram_lm_score(
                kept, lm_vocab, lm_bigrams, lm_meta, text_col=text_col, pk=pk
            )
        elif len(lm) == 3:
            lm_vocab, lm_meta, lm_floor = lm
            scores = lm_score(kept, lm_vocab, lm_meta, text_col=text_col, pk=pk)
        else:
            raise ValueError(
                "lm must be (vocab, meta, min_logprob) or "
                f"(vocab, bigrams, meta, min_logprob) — got a {len(lm)}-tuple"
            )
        t_lm = time.perf_counter()
        keep_ids = (
            scores.filter(F.col("lm_logprob") >= float(lm_floor))
            .select(pk)
            # pk-only table; eager so the count and the semi-join below
            # don't score the corpus twice
            .localCheckpoint(eager=True)
        )
        n_lm_fail = int(agg["kept"]) - keep_ids.count()
        kept = kept.join(keep_ids, pk, "left_semi")
        if stage_timings is not None:
            stage_timings["lm_sec"] = round(time.perf_counter() - t_lm, 3)

    n_pre_dedup = int(agg["kept"]) - (n_lm_fail or 0)

    # Both dedup paths resolve a SLIM drop-list, checkpoint it, and count
    # THAT instead of ``out.count()`` (round 15): the old shape re-ran the
    # whole gate/repetition lineage a second time just to learn how many
    # rows survived — n_output ≡ n_pre_dedup − |drops| because every drop
    # id comes from ``kept`` (the pair/group generators run over it) and
    # appears exactly once.  At corpus scale that is one full pass saved;
    # the survivors themselves stay a lazy anti-join against the
    # checkpointed drop-list.
    if dedup is None:
        out = kept
        n_out = n_pre_dedup
    elif dedup == "exact":
        t1 = time.perf_counter()
        # dedup_kw reaches exact_dedup too — e.g. normalize="ccnet" for
        # the paper's case/accent/digit/punct-folded match (Wenzek 2020)
        groups = exact_dedup(kept, text_col=text_col, pk=pk, **dedup_kw)
        dropped = groups.select(
            F.explode("dup_ids").alias(pk)
        ).localCheckpoint(eager=True)
        if stage_timings is not None:
            stage_timings["pairs_sec"] = round(time.perf_counter() - t1, 3)
        t2 = time.perf_counter()
        out = kept.join(dropped, pk, "left_anti")
        n_out = n_pre_dedup - dropped.count()
        if stage_timings is not None:
            stage_timings["resolution_sec"] = round(time.perf_counter() - t2, 3)
    else:
        t1 = time.perf_counter()
        # both generators return the pair set checkpointed, their
        # internal caches already released
        if dedup == "minhash":
            pairs = minhash_dup_pairs(
                kept, text_col=text_col, pk=pk,
                threshold=0.8 if dedup_threshold is None else dedup_threshold,
                **dedup_kw,
            )
        elif dedup == "simhash":
            pairs = simhash_pairs(kept, text_col=text_col, pk=pk, **dedup_kw)
        else:
            raise ValueError(f"unknown curate dedup {dedup!r}")
        if stage_timings is not None:
            stage_timings["pairs_sec"] = round(time.perf_counter() - t1, 3)
        t2 = time.perf_counter()
        dropped = dedup_drops(
            kept, pairs, pk=pk, keep_by=dedup_keep_by, keep=dedup_keep
        )
        if dedup_keep_by is not None:
            # the keep_by drop-list joins kept's score column — checkpoint
            # it so the count and the anti-join don't each re-run kept
            dropped = dropped.localCheckpoint(eager=True)
        out = kept.join(dropped, pk, "left_anti")
        n_out = n_pre_dedup - dropped.count()
        if stage_timings is not None:
            stage_timings["resolution_sec"] = round(time.perf_counter() - t2, 3)

    report = {
        "n_input": int(agg["n"]),
        "n_lang_fail": int(agg["lang_fail"]),
        "n_short": int(agg["short"]),
        "n_too_long": int(agg["too_long"]),
        "n_low_quality": int(agg["low_q"]),
        "n_after_gates": int(agg["kept"]),
        "n_dup_dropped": n_pre_dedup - n_out,
        "n_output": n_out,
    }
    if n_lm_fail is not None:
        report["n_lm_fail"] = n_lm_fail
    if boiler_col is not None:
        report["n_boiler_lines"] = int(agg["boiler_lines"])
    if span_col is not None:
        report["n_span_tokens_removed"] = int(agg["span_tokens"])
    if "_rep_ok" in flags:
        report["n_repetitive"] = int(agg["rep_fail"])
    if pii_docs_col is not None:
        report["n_pii_docs"] = int(agg["pii_docs"])
    for name in extras:
        report[f"n_fail{name}"] = int(agg[f"x_{name}"])
    if by_group_df is not None:
        report["by_group"] = by_group_df
        report["max_group_pass"] = max_group_pass
    return out, report


def _by_group_frame(
    spark, by_dt, report_by, g_rows, flags, extras,
    has_pii=False, has_boiler=False, has_span=False,
):
    """Reshape curate's collected per-group aggregate rows into a
    driver-built DataFrame with :func:`curate_report_by`'s column
    naming/order (base-gate fails → n_repetitive → n_fail<extra> →
    n_pass, optional doc counters last).  Returns ``(df,
    max_group_pass)``."""
    from pyspark.sql import types as T

    cols = [
        ("n", "n"), ("lang_fail", "n_lang_fail"), ("short", "n_short"),
        ("too_long", "n_too_long"), ("low_q", "n_low_quality"),
    ]
    if "_rep_ok" in flags:
        cols.append(("rep_fail", "n_repetitive"))
    cols += [(f"x_{name}", f"n_fail{name}") for name in extras]
    cols.append(("kept", "n_pass"))
    if has_pii:
        cols.append(("pii_docs", "n_pii_docs"))
    if has_boiler:
        cols.append(("boiler_lines", "n_boiler_lines"))
    if has_span:
        cols.append(("span_tokens", "n_span_tokens_removed"))
    schema = T.StructType(
        [T.StructField(report_by, by_dt)]
        + [T.StructField(out, T.LongType(), False) for _, out in cols]
    )
    rows = [
        tuple([r[report_by]] + [int(r[src] or 0) for src, _ in cols])
        for r in g_rows
    ]
    max_pass = max((int(r["kept"] or 0) for r in g_rows), default=0)
    return spark.createDataFrame(rows, schema), max_pass


def curate_report_by(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    langs: Sequence[str] | None = ("en",),
    langid_col: Column | None = None,
    min_tokens: int = 20,
    min_quality: float = 0.3,
    max_chars: int | None = None,
    extra_gates: Mapping[str, Column] | None = None,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Per-GROUP gate attrition — the report a production pipeline
    tracks per crawl/source/domain to see WHERE the corpus is losing
    documents: ``(by, n, n_lang_fail, n_short, n_too_long,
    n_low_quality, n_fail<extra>…, n_pass)``, one row per group.

    Same gate expressions as :func:`curate` (one staged tokenization,
    one map-only flag projection), aggregated by the group column with
    map-side combine — the only shuffle carries ≤ |groups| × counters.
    A doc failing several gates counts in each (independent
    diagnostics, like curate's global report).
    """
    from adampro_spark.pipeline.text import resolve_tokenizer as _resolve_tok

    staged = df.withColumn("_ap_gtoks", _resolve_tok(text_col, tokenizer))
    flags = dict(
        gate_flags(
            text_col, langs=langs, min_tokens=min_tokens,
            min_quality=min_quality, max_chars=max_chars,
            toks=F.col("_ap_gtoks"), langid_col=langid_col,
            tokenizer=tokenizer,
        )
    )
    extras = dict(extra_gates or {})
    clash = set(extras) & set(flags)
    if clash:
        raise ValueError(f"extra_gates clash with built-in gates: {sorted(clash)}")
    flags.update(extras)
    flagged = staged
    for name, expr in flags.items():
        flagged = flagged.withColumn(name, expr)
    all_ok = None
    for name in flags:
        all_ok = F.col(name) if all_ok is None else (all_ok & F.col(name))
    fail_names = {
        "_lang_ok": "n_lang_fail",
        "_len_ok": "n_short",
        "_cap_ok": "n_too_long",
        "_q_ok": "n_low_quality",
    }
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum((~F.col(flag)).cast("long")).alias(fail_names.get(flag, f"n_fail{flag}"))
        for flag in flags
    ] + [F.sum(all_ok.cast("long")).alias("n_pass")]
    return flagged.groupBy(by).agg(*aggs)


def curate_failures(
    df: DataFrame,
    text_col: str = "text",
    pk: str = "doc_id",
    langs: Sequence[str] | None = ("en",),
    langid_col: Column | None = None,
    min_tokens: int = 20,
    min_quality: float = 0.3,
    max_chars: int | None = None,
    extra_gates: Mapping[str, Column] | None = None,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Per-DOCUMENT gate diagnostics — the row-level companion of
    :func:`curate`'s aggregate attrition report: ``(pk, failed_gates)``
    for every document that fails AT LEAST one gate, where
    ``failed_gates`` is the sorted array of failing gate names
    (``lang_ok``/``len_ok``/``cap_ok``/``q_ok`` plus any
    ``extra_gates``, leading underscore stripped).  Debugging a
    pipeline means sampling exactly this table and reading the text of
    what died and why.

    Covers the four base gates plus any stateless ``extra_gates``
    (URL, compression, trained-langid, DSIR floors…).  The repetition
    and LM gates need curate's staged projections / scoring pass and do
    not ride here — diagnose those via curate's ``n_repetitive`` /
    LM-floor report counts.

    Same one-scan flag projection as curate — the only extra work is
    the array fold; at 100 TB this is a map-only pass whose OUTPUT is
    the failing minority (sample or limit it before collecting).
    """
    _check_reserved_columns(df)
    from adampro_spark.pipeline.text import resolve_tokenizer as _resolve_tok

    staged = df.withColumn("_ap_gtoks", _resolve_tok(text_col, tokenizer))
    flags = dict(
        gate_flags(
            text_col, langs=langs, min_tokens=min_tokens,
            min_quality=min_quality, max_chars=max_chars,
            toks=F.col("_ap_gtoks"), langid_col=langid_col,
            tokenizer=tokenizer,
        )
    )
    extras = dict(extra_gates or {})
    clash = set(extras) & set(flags)
    if clash:
        raise ValueError(
            f"extra_gates clash with built-in gates: {sorted(clash)}"
        )
    flags.update(extras)
    # sort by the STRIPPED name — the output array's documented order
    # (review r9.2: '_' sorts before letters, so sorting pre-strip put
    # built-ins ahead of unprefixed extra gates)
    names = sorted(flags, key=lambda n: (n.lstrip("_"), n))
    failed = F.filter(
        F.array(*[
            F.when(~F.coalesce(flags[n], F.lit(False)),
                   F.lit(n.lstrip("_"))).otherwise(F.lit(None))
            for n in names
        ]),
        lambda x: x.isNotNull(),
    )
    return (
        staged.select(F.col(pk), failed.alias("failed_gates"))
        .filter(F.size("failed_gates") > 0)
    )
