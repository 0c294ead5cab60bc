"""Trained char-n-gram NB langid (pipeline/langid.py): accuracy on
planted multilingual docs, superiority over the stopword heuristic,
exact parity with a driver-side mirror, und/NULL handling."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from adampro_spark.pipeline.langid import (
    SEED_TEXTS,
    _grams,
    _norm,
    fit_langid,
    langid_scores_col,
    trained_langid_col,
)

# Held-out sentences (NOT in the seeds), one per language.
HELDOUT = {
    "en": "the weather tomorrow should be sunny with a light wind from the west",
    "de": "das wetter morgen soll sonnig werden mit leichtem wind aus westen",
    "fr": "le temps demain devrait être ensoleillé avec un vent léger",
    "es": "el tiempo de mañana será soleado con un viento ligero del oeste",
    "it": "il tempo domani dovrebbe essere soleggiato con un vento leggero",
    "pt": "o tempo amanhã deve ser ensolarado com um vento leve do oeste",
    "nl": "het weer morgen wordt zonnig met een lichte wind uit het westen",
    "sv": "vädret i morgon blir soligt med en lätt vind från väster",
    "da": "vejret i morgen bliver solrigt med en let vind fra vest",
    "fi": "huomenna sää on aurinkoinen ja lännestä puhaltaa kevyt tuuli",
    "pl": "jutro pogoda będzie słoneczna z lekkim wiatrem z zachodu",
    "cs": "počasí zítra má být slunečné s lehkým větrem od západu",
    "zh": "明天的天气应该是晴朗的有来自西边的微风",
    # round 10 (verdict r9 #5): the next language tier
    "ru": "завтра погода должна быть солнечной с лёгким ветром с запада",
    "ja": "明日の天気は西からの軽い風とともに晴れるはずです",
    "ko": "내일 날씨는 서쪽에서 부는 가벼운 바람과 함께 맑을 것입니다",
    "ar": "الطقس غدا سيكون مشمسا مع رياح خفيفة من الغرب",
    "tr": "yarın hava batıdan hafif bir rüzgarla güneşli olacak",
    "el": "ο καιρός αύριο θα είναι ηλιόλουστος με ελαφρύ άνεμο από τα δυτικά",
    "hu": "holnap az idő napos lesz enyhe nyugati széllel",
    "ro": "vremea de mâine va fi însorită cu vânt ușor dinspre vest",
}

# Near-boundary junk for the gap-floor calibration: no-evidence bytes,
# script-ambiguous Latin, keyboard mash — everything the floor must
# send to 'und'.  Prose-like CODE is the documented exception (its
# trigrams are genuinely English-adjacent); see JUNK_CODE below.
JUNK_REJECT = [
    "aGVsbG8gd29ybGQgdGhpcyBpcyBiYXNlNjQgZW5jb2RlZCB0ZXh0IGZvcmV2ZXI=",
    "0x4f 0x2a 0xff 0x00 0x9b 0xc3 0xd4 0x11 0x7e 0x88",
    "privet kak dela segodnya pogoda ochen horoshaya poydem gulyat",
    "asdf qwer zxcv tyui ghjk bnml oiuy lkjh mnbv rewq",
    "§§§ ¶¶¶ ××× ÷÷÷ ±±± µµµ ¤¤¤ ©©© ®®®",
    "x1 y2 z3 q9 w8 e7 r6 t5 u4 i3 o2 p1 aa bb cc dd",
    "SELECT doc_id, count(*) FROM documents GROUP BY 1 ORDER BY 2 DESC",
]
JUNK_CODE = [
    "def main(argv): return [x**2 for x in range(10) if x % 2 == 0]",
    "for (int i = 0; i < n; i++) { sum += arr[i] * arr[i]; } return sum;",
]


@pytest.fixture(scope="module")
def fitted():
    return fit_langid()


def test_heldout_sentences_all_correct(spark, fitted):
    model, meta = fitted
    rows = [(i, lang, txt) for i, (lang, txt) in enumerate(HELDOUT.items())]
    df = spark.createDataFrame(rows, "i long, want string, text string")
    got = {
        r["want"]: r["lang"]
        for r in df.select(
            "want", trained_langid_col(model, meta).alias("lang")
        ).collect()
    }
    assert got == {lang: lang for lang in HELDOUT}, got


def test_beats_stopword_heuristic(spark, fitted):
    """The verdict-r8 motivation: the heuristic covers 5 stopword lists;
    the trained model must match it on those and win on the rest."""
    from adampro_spark.pipeline.text import langid_expr

    model, meta = fitted
    rows = [(i, lang, txt) for i, (lang, txt) in enumerate(HELDOUT.items())]
    df = spark.createDataFrame(rows, "i long, want string, text string")
    out = df.select(
        "want",
        trained_langid_col(model, meta).alias("nb"),
        langid_expr("text").alias("heur"),
    ).collect()
    nb_ok = sum(r["nb"] == r["want"] for r in out)
    heur_ok = sum(r["heur"] == r["want"] for r in out)
    assert nb_ok == len(HELDOUT)
    assert nb_ok > heur_ok  # strictly more languages covered


def test_scores_match_python_mirror(spark, fitted):
    """The UDF's (lang, logp) must equal an independent driver-side
    recomputation — the same contract the DuckDB oracle checks."""
    model, meta = fitted
    texts = list(HELDOUT.values())[:6]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r["i"]: (r["s"]["lang"], r["s"]["logp"])
        for r in df.select(
            "i", langid_scores_col(model, meta).alias("s")
        ).collect()
    }
    for i, t in enumerate(texts):
        grams = Counter(_grams(_norm(t), meta["orders"]))
        total = sum(grams.values())
        scores = {
            lang: sum(
                c * model[lang].get(g, meta["floors"][lang])
                for g, c in grams.items()
            )
            for lang in meta["langs"]
        }
        best = max(sorted(scores), key=lambda l: scores[l])
        assert got[i][0] == best
        assert got[i][1] == pytest.approx(
            round(scores[best] / total, 4), abs=1e-9
        )


def test_und_and_null_handling(spark, fitted):
    model, meta = fitted
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   \n  "), (4, HELDOUT["en"])],
        "i long, text string",
    )
    got = {
        r["i"]: (r["s"]["lang"], r["s"]["logp"])
        for r in df.select(
            "i", langid_scores_col(model, meta).alias("s")
        ).collect()
    }
    assert got[1] == ("und", None)
    assert got[2] == ("und", None)
    assert got[3] == ("und", None)
    assert got[4][0] == "en" and got[4][1] is not None


def test_fit_from_dataframe_and_validation(spark):
    df = spark.createDataFrame(
        [("aa", SEED_TEXTS["en"]), ("bb", SEED_TEXTS["fi"]),
         ("aa", "more english text about trains and rivers")],
        "lang string, text string",
    )
    model, meta = fit_langid(df)
    assert meta["langs"] == ["aa", "bb"]
    # concatenation happened: the aa profile has grams from both rows
    assert " tr" in model["aa"]
    with pytest.raises(ValueError, match="two languages"):
        fit_langid({"xx": "only one"})


def test_model_entries_quantized_for_engine_parity(fitted):
    model, meta = fitted
    for lang in meta["langs"]:
        for v in list(model[lang].values())[:50]:
            assert v == round(v, 6)
        assert meta["floors"][lang] == round(meta["floors"][lang], 6)
        # floors are worse than any seen gram's probability
        assert meta["floors"][lang] <= min(model[lang].values()) + 1e-9


def test_curate_composes_with_trained_langid(spark, fitted):
    """The trained column drops into curate as an extra gate — mixed
    corpus keeps only the target language."""
    from adampro_spark.pipeline.curate import curate

    model, meta = fitted
    rows = [
        (i, (txt + " ") * 4) for i, txt in enumerate(HELDOUT.values())
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, rep = curate(
        df, langs=None, min_tokens=3, min_quality=0.0, dedup=None,
        extra_gates={
            "_nblang_ok": trained_langid_col(model, meta).isin("en", "de")
        },
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert kept == {0, 1}  # en, de rows
    assert rep["n_fail_nblang_ok"] == len(HELDOUT) - 2


def test_langid_col_replaces_heuristic_in_curate_and_stream(spark, fitted):
    """gate_flags(langid_col=...) swaps the trained model into the langs
    gate; batch curate and stream_curate (batch mode) agree."""
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.streaming.ingest import stream_curate

    model, meta = fitted
    rows = [(i, (txt + " ") * 3) for i, txt in enumerate(HELDOUT.values())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col = trained_langid_col(model, meta)
    out, rep = curate(
        df, langs=("fi", "pl"), langid_col=col,
        min_tokens=3, min_quality=0.0, dedup=None,
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    want = {i for i, lang in enumerate(HELDOUT) if lang in ("fi", "pl")}
    assert kept == want
    assert rep["n_lang_fail"] == len(HELDOUT) - 2

    s_out = stream_curate(
        df, langs=("fi", "pl"), langid_col=trained_langid_col(model, meta),
        min_tokens=3, min_quality=0.0, dedup=None,
    )
    assert {r["doc_id"] for r in s_out.select("doc_id").collect()} == want


def test_gap_floor_calibration(spark, fitted):
    """verdict r9 #5: the confidence floor is a TESTED reject threshold.
    At LANGID_GAP_FLOOR every held-out sentence keeps its language,
    while no-evidence junk (base64, hex, symbol soup, keyboard mash)
    and script-ambiguous text (transliteration, SQL) come back 'und'.
    Prose-like code is the documented exception — its trigrams are
    genuinely English-adjacent; the compression/symbol gates own it."""
    from adampro_spark.pipeline.langid import LANGID_GAP_FLOOR

    model, meta = fitted
    rows = (
        [(f"held:{lang}", t) for lang, t in HELDOUT.items()]
        + [(f"junk:{i}", t) for i, t in enumerate(JUNK_REJECT)]
        + [(f"code:{i}", t) for i, t in enumerate(JUNK_CODE)]
    )
    df = spark.createDataFrame(rows, "tag string, text string")
    got = {
        r["tag"]: r["lang"]
        for r in df.select(
            "tag",
            trained_langid_col(
                model, meta, min_gap=LANGID_GAP_FLOOR
            ).alias("lang"),
        ).collect()
    }
    for lang in HELDOUT:
        assert got[f"held:{lang}"] == lang, (lang, got[f"held:{lang}"])
    for i in range(len(JUNK_REJECT)):
        assert got[f"junk:{i}"] == "und", (i, got[f"junk:{i}"])
    # pin the documented limitation so a silent behavior change surfaces
    for i in range(len(JUNK_CODE)):
        assert got[f"code:{i}"] != "und", (i, got[f"code:{i}"])


def test_min_gap_floor_is_single_udf_evaluation(spark, fitted):
    """The when(gap >= floor, lang) form reads two struct fields; the
    plan must still contain exactly ONE ArrowEvalPython stage (equal
    deterministic PythonUDF expressions are deduplicated)."""
    from adampro_spark.pipeline.langid import LANGID_GAP_FLOOR

    model, meta = fitted
    df = spark.createDataFrame([(1, "some text here")], "i long, text string")
    out = df.select(
        trained_langid_col(model, meta, min_gap=LANGID_GAP_FLOOR).alias("lang")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_curate_language_gate_rejects_low_confidence(spark, fitted):
    """curate(langs=..., langid_col=trained_langid_col(min_gap=...)):
    low-confidence docs fail the language gate instead of riding a
    meaningless argmax."""
    from adampro_spark.pipeline.curate import curate
    from adampro_spark.pipeline.langid import LANGID_GAP_FLOOR

    model, meta = fitted
    pad = " the river was calm and the bridge was old"  # pad past min_tokens
    rows = (
        [(i, (HELDOUT["en"] + " ") * 3) for i in range(5)]
        + [(100 + i, (t + " ") * 3) for i, t in enumerate(JUNK_REJECT[:4])]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out, report = curate(
        df,
        langs=("en",),
        langid_col=trained_langid_col(model, meta, min_gap=LANGID_GAP_FLOOR),
        min_tokens=5,
        min_quality=0.0,
        dedup=None,
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert kept == {0, 1, 2, 3, 4}, kept
    assert report["n_lang_fail"] == 4


def test_single_language_model_gap_is_unopposed(spark):
    """review r10: a caller-supplied one-language model must not crash
    the gap computation — the argmax is unopposed, gap = +inf, and a
    min_gap floor passes it."""
    from adampro_spark.pipeline.langid import (
        LANGID_GAP_FLOOR,
        SEED_TEXTS,
        _grams,
        _norm,
    )
    import math as _math
    from collections import Counter as _Counter

    # hand-build the degenerate model fit_langid refuses
    counts = _Counter(_grams(_norm(SEED_TEXTS["en"]), (2, 3)))
    V = len(counts)
    n_l = sum(counts.values())
    model = {
        "en": {g: round(_math.log10((c + 1) / (n_l + V)), 6)
               for g, c in counts.items()}
    }
    meta = {
        "orders": (2, 3), "langs": ["en"],
        "floors": {"en": round(_math.log10(1.0 / (n_l + V)), 6)}, "V": V,
    }
    df = spark.createDataFrame([(1, HELDOUT["en"])], "i long, text string")
    got = df.select(
        langid_scores_col(model, meta).alias("s"),
        trained_langid_col(model, meta, min_gap=LANGID_GAP_FLOOR).alias("g"),
    ).first()
    assert got["s"]["lang"] == "en" and got["s"]["gap"] == float("inf")
    assert got["g"] == "en"


def test_ccnet_langid_min_gap_drops_low_confidence(spark, fitted):
    """round 10: ccnet_pipeline(langid_min_gap=...) removes documents
    the identifier is not confident about before the gates."""
    from adampro_spark.pipeline.ccnet import ccnet_pipeline
    from adampro_spark.pipeline.langid import LANGID_GAP_FLOOR

    model, meta = fitted
    rows = [(i, (HELDOUT["en"] + " ") * 3) for i in range(6)]
    rows += [(100 + i, (t + " ") * 6) for i, t in enumerate(JUNK_REJECT[:3])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = {}
    out = ccnet_pipeline(
        df, per_language_lm=True, vocab_size=32,
        langid_model=model, langid_meta=meta,
        langid_min_gap=LANGID_GAP_FLOOR,
        curate_kw=dict(langs=None, min_tokens=3, min_quality=0.0, dedup=None),
        report_out=rep,
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert ids <= set(range(6)) and len(ids) >= 1
    assert not (ids & {100, 101, 102})


# ---------------------------------------------------------------------------
# round 11 (verdict r10 #7): short-fragment tier + Unicode-script prefilter
# ---------------------------------------------------------------------------

_SCRIPT_LANGS = ("ar", "el", "ja", "ko", "ru", "zh")


def _fragments(lang: str, text: str) -> list[str]:
    """Deterministic 5-15 char fragments: word-joined windows for spaced
    scripts, raw char slices for zh/ja (no word boundaries)."""
    if lang in ("zh", "ja"):
        return [text[i : i + 8] for i in range(0, max(len(text) - 7, 1), 8)]
    words, frs, i = text.split(), [], 0
    while i < len(words):
        fr, j = words[i], i + 1
        while len(fr) < 5 and j < len(words):
            fr += " " + words[j]
            j += 1
        if 5 <= len(fr) <= 15:
            frs.append(fr)
        i = j if j > i + 1 else i + 1
    return frs


# Per-language accuracy floors on the deterministic held-out fragments,
# pinned at the measured round-11 values: script-resolved languages are
# exact by construction (the prefilter reads the script, not the thin
# gram evidence); Latin languages are genuinely ambiguous at 5-15 chars
# and the floor catches regressions, not perfection.
_FRAGMENT_FLOORS = {
    "ar": 1.0, "el": 1.0, "ja": 1.0, "ko": 1.0, "ru": 1.0, "zh": 1.0,
    "cs": 0.85, "da": 0.70, "de": 0.57, "en": 0.75, "es": 0.71,
    "fi": 0.71, "fr": 1.0, "hu": 0.50, "it": 0.375, "nl": 0.375,
    "pl": 0.42, "pt": 0.75, "ro": 0.66, "sv": 0.50, "tr": 0.66,
}


def test_short_fragment_tier_accuracy(spark, fitted):
    """Tweet-length fragments (5-15 chars): every language must clear its
    pinned accuracy floor, and the six script-distinct languages must be
    EXACT — the prefilter identifies them from >= 4 script chars where
    2-3 n-grams would be hopeless evidence."""
    model, meta = fitted
    rows = [
        (lang, k, fr)
        for lang, t in HELDOUT.items()
        for k, fr in enumerate(_fragments(lang, t))
    ]
    assert all(any(lang == l for l, _, _ in rows) for lang in HELDOUT)
    df = spark.createDataFrame(rows, "want string, k int, text string")
    out = df.select(
        "want", trained_langid_col(model, meta).alias("lang")
    ).collect()
    from collections import Counter

    tot, ok = Counter(), Counter()
    for r in out:
        tot[r["want"]] += 1
        ok[r["want"]] += r["lang"] == r["want"]
    for lang in HELDOUT:
        acc = ok[lang] / tot[lang]
        assert acc >= _FRAGMENT_FLOORS[lang], (lang, ok[lang], tot[lang])
    for lang in _SCRIPT_LANGS:
        assert ok[lang] == tot[lang], (lang, ok[lang], tot[lang])


def test_script_prefilter_resolves_and_matches_scorer(spark, fitted):
    """The prefilter must fire for full single-script sentences, stay
    NULL for Latin/ambiguous text, and NEVER disagree with the NB scorer
    on text where both have an opinion (the label is the same language
    through either path — the driver rows rely on this)."""
    from adampro_spark.pipeline.langid import script_prefilter_col

    model, meta = fitted
    rows = [(lang, t) for lang, t in HELDOUT.items()]
    rows += [("junk", j) for j in JUNK_REJECT]
    df = spark.createDataFrame(rows, "want string, text string")
    out = df.select(
        "want",
        script_prefilter_col(model, meta).alias("pre"),
        trained_langid_col(model, meta, script_prefilter=False).alias("nb"),
    ).collect()
    for r in out:
        if r["want"] in _SCRIPT_LANGS:
            assert r["pre"] == r["want"], (r["want"], r["pre"])
        else:
            assert r["pre"] is None, (r["want"], r["pre"])
        if r["pre"] is not None:
            assert r["pre"] == r["nb"], (r["want"], r["pre"], r["nb"])


def test_script_prefilter_ownership_rules(spark, fitted):
    """(a) An all-Latin model compiles NO prefilter (None).  (b) Two
    model languages sharing a script disable that script's shortcut —
    planted 'uk' Cyrillic seed alongside Russian: Cyrillic text must
    fall through to the scorer (pre NULL), while hangul (still
    single-owner) keeps its shortcut."""
    from adampro_spark.pipeline.langid import script_prefilter_col

    latin_model, latin_meta = fit_langid(
        {k: SEED_TEXTS[k] for k in ("en", "de", "fr")}
    )
    assert script_prefilter_col(latin_model, latin_meta) is None

    fake_uk = "погода завтра буде сонячною з легким вітром із заходу " * 3
    model2, meta2 = fit_langid(
        {"ru": SEED_TEXTS["ru"], "uk": fake_uk, "ko": SEED_TEXTS["ko"]}
    )
    df = spark.createDataFrame(
        [("ru", HELDOUT["ru"]), ("ko", HELDOUT["ko"])], "want string, text string"
    )
    got = {
        r["want"]: r["pre"]
        for r in df.select(
            "want", script_prefilter_col(model2, meta2).alias("pre")
        ).collect()
    }
    assert got["ru"] is None  # shared script -> no shortcut
    assert got["ko"] == "ko"  # single owner -> shortcut survives


def test_prefilter_plan_is_codegen_plus_one_udf(spark, fitted):
    """Plan shape: the default trained_langid_col compiles the script
    counters as regexp_count expressions (JVM side) and still exactly
    ONE ArrowEvalPython stage — whose input is the NULL-masked text, so
    prefiltered rows skip the gram counting + matmul."""
    model, meta = fitted
    df = spark.createDataFrame([(1, "text")], "i long, text string")
    out = df.select(trained_langid_col(model, meta).alias("lang"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    # regexp_count compiles to size(regexp_extract_all(...)) in the plan
    assert "regexp_extract_all" in plan or "regexp_count" in plan, plan
