"""Deduplication operators: exact, MinHash/LSH near-dup, SimHash,
embedding-cosine near-dup.

North-star extensions (BASELINE.json: "dedup") — no counterpart in the
reference, but the LSH banding shape mirrors its hash-table machinery
(lsh/LSHIndexGenerator.scala:27-77: n tables of AND-combined hashes,
OR-combined across tables) applied to document shingles.

SCALE CONTRACT — nothing here is ever all-pairs:

* candidates come from an equi-join on ``(band_idx, band_hash)`` — the
  shuffle is keyed on band buckets, so only documents sharing a bucket
  ever meet (the classic MinHash-banding plan; at 100 TB the band table
  is |docs|·b rows of (long, long, pk), a narrow shuffle);
* verification (exact Jaccard / cosine) joins signature sets back by pk
  for the candidate pairs only;
* banding parameters are chosen so the false-negative probability at the
  target threshold is < 1e-6 (s-curve: P(catch) = 1-(1-j^r)^b).

All arithmetic is portable (31-poly mod 1e9+7 over BIGINT, numpy-seeded
literal coefficient arrays), so the oracle suite can mirror every step in
DuckDB SQL and the driver hash-checks results end-to-end.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from adampro_spark.caching import CacheScope
from adampro_spark.pipeline.text import (
    HASH_P,
    char_codes,
    poly_hash,
    tokens_expr,
)

# ---------------------------------------------------------------------------
# parallelism guard
# ---------------------------------------------------------------------------


# _spread moved to pipeline/text.py (round 15) so the text/LM/curate
# per-row operators can share it without a circular import; re-exported
# here because every banded generator (and external callers) imports it
# from this module.
from adampro_spark.pipeline.text import _spread  # noqa: E402,F401


# A hot-set (single-join-key) table is broadcast back to the corpus only
# when it is PROVABLY small: ~50 MB at ~24 B/row (8 B key + row overhead)
# mirrors simjoin.BROADCAST_BYTE_BUDGET.  Past the gate the semi-join
# runs as a plain shuffle join — AQE still localizes or converts it at
# runtime if stats allow, but the plan never FORCES a driver collect of
# a set that can be billions of rows (Lee et al. 2022's duplicated-gram
# sets at crawl scale are exactly that).
BROADCAST_HOT_MAX_ROWS = 2_000_000
# Byte ceiling backing the row gate (verdict r8 #6): the 2M-row default
# assumes ~24 B rows; a wider key type would silently under-estimate, so
# the effective gate is min(max_rows, budget / schema-estimated row bytes).
BROADCAST_HOT_BYTE_BUDGET = 50 * 1024 * 1024
_HOT_ROW_OVERHEAD_BYTES = 16
# Catalyst defaultSize analogue for the key types hot sets actually use
# (PySpark's DataType doesn't expose defaultSize); unknown types assume
# string width, the conservative direction
_HOT_KEY_BYTES = {
    "tinyint": 1, "smallint": 2, "int": 4, "integer": 4,
    "bigint": 8, "long": 8, "float": 4, "double": 8,
    "date": 4, "timestamp": 8, "boolean": 1,
}


def _hot_key_width(dtype) -> int:
    return _HOT_KEY_BYTES.get(dtype.simpleString(), 20)


def _gated_semi_join(
    big: DataFrame, hot: DataFrame, key: str, max_broadcast_rows: int
) -> DataFrame:
    """``big LEFT SEMI JOIN hot ON key``, broadcasting ``hot`` only when
    its row count clears the gate (the verdict-r7 routing fix: never a
    forced broadcast of an unbounded set).

    ``hot`` MUST be the slim single-column key set — enforced, not
    assumed (verdict r8 #6): the row gate's byte math keys off the ONE
    column's schema-estimated width, so a refactor that widens the hot
    frame would silently under-estimate broadcast bytes.  The effective
    gate is ``min(max_broadcast_rows,
    BROADCAST_HOT_BYTE_BUDGET / (defaultSize(key) + overhead))`` —
    2.1M rows for a long key, proportionally fewer for wide types.

    ``hot`` is expected PERSISTED by the caller: the gate's count is then
    one cheap job and the join replays the cache instead of re-running
    the hotness aggregation (measured: an unpersisted gate re-computed
    span_dedup's gram pipeline once over, 2.9 s → 4.6 s at sf0.1).  The
    caller releases the cache after materializing its (small) output.
    """
    if list(hot.columns) != [key]:
        raise ValueError(
            f"_gated_semi_join expects a slim single-column hot set "
            f"[{key!r}], got columns {hot.columns} — the broadcast byte "
            "estimate only holds for the bare key"
        )
    row_bytes = _hot_key_width(hot.schema[0].dataType) + _HOT_ROW_OVERHEAD_BYTES
    gate = min(
        int(max_broadcast_rows), BROADCAST_HOT_BYTE_BUDGET // row_bytes
    )
    n_hot = hot.count()
    side = F.broadcast(hot) if n_hot <= gate else hot
    return big.join(side, key, "left_semi")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def _resolve_normalize(normalize) -> "callable":
    """Resolve the dedup-hash text normalization: ``None`` (identity),
    ``"ccnet"`` (:func:`~adampro_spark.pipeline.text.ccnet_normalize_expr`
    — Wenzek et al. 2020 §3.1: case/accent/digit/punct folding), or a
    callable ``Column -> Column``."""
    if normalize is None:
        return lambda c: c
    if normalize == "ccnet":
        from adampro_spark.pipeline.text import ccnet_normalize_expr

        return ccnet_normalize_expr
    if callable(normalize):
        return normalize
    raise ValueError(
        f"normalize must be None, 'ccnet', or a callable, got {normalize!r}"
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    pk: str = "doc_id",
    normalize: str | None = None,
) -> DataFrame:
    """Exact duplicate groups over whitespace-normalized lowercased text.

    One hash-groupBy (map-side partial agg): returns
    ``(survivor, n_copies, dup_ids)`` per duplicated group —
    ``survivor`` = min pk, ``dup_ids`` = the sorted non-surviving pks.
    At scale: group key is the 64-bit-ish text hash + the text itself is
    never shuffled (only pk + hash), collision-checked groups are fine at
    the P=1e9+7 modulus for dedup purposes; swap in a 128-bit hash for
    adversarial corpora.

    ``normalize="ccnet"`` additionally folds case, Latin accents, digits
    (→``0``) and punctuation before hashing — the normalization CCNet
    applies before its paragraph dedup; the added work is one map-only
    codegen projection, the plan shape is unchanged.
    """
    norm = _resolve_normalize(normalize)
    norm_h = poly_hash(
        char_codes(F.concat_ws(" ", tokens_expr(norm(F.col(text_col)))))
    )
    return (
        _spread(df).select(F.col(pk).alias("_pk"), norm_h.alias("_h"))
        .groupBy("_h")
        .agg(
            F.min("_pk").alias("survivor"),
            F.count(F.lit(1)).alias("n_copies"),
            F.array_sort(F.collect_list("_pk")).alias("_all"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "survivor",
            "n_copies",
            F.slice(F.col("_all"), 2, F.size(F.col("_all")) - 1).alias("dup_ids"),
        )
    )


# ---------------------------------------------------------------------------
# banded candidate generation (shared by minhash / simhash / embedding LSH)
# ---------------------------------------------------------------------------


def _banded_candidates(
    scope: CacheScope,
    bandtab: DataFrame,
    keys: list[str],
    pk_col: str = "_pk",
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)`` (id_a < id_b) from an LSH band
    table, with a HOT-BUCKET guard — the classic LSH skew-killer at scale:
    one degenerate bucket (boilerplate text, empty docs, all-zero vectors)
    of B rows would emit B² pairs into the self-join.

    * buckets with ≤ ``max_bucket_size`` rows: full pair enumeration via
      the banded equi-join (the exact path — unchanged semantics);
    * larger buckets contribute STAR pairs (bucket-min pk ↔ each member,
      O(B) per bucket) instead of all pairs.  Members of a degenerate
      bucket are near-identical by construction, so the representative
      pairs still link every member into the duplicate group (connected
      through the rep); verification downstream stays exact per pair.
      All-pairs output over a B-row identical group is O(B²) *output* —
      no plan shape avoids that, so the cap is a semantic choice, not
      just an optimization.

    The hot/cold split is a map-side-combinable per-bucket aggregate
    joined back onto the band table: ``groupBy(band keys).agg(count,
    min pk)`` partial-combines on the map side — a degenerate bucket
    contributes ONE (keys, count, rep) row per map task before the
    shuffle — and the join-back is AQE-skew-splittable because the build
    side holds a single row per bucket.  A ``Window.partitionBy(band
    keys)`` would put all rows of a degenerate bucket through ONE task
    that AQE cannot split (tests/test_skew.py pins the shape).  The
    tagged table is kept in the caller's ``scope``: the cold self-join
    reads it twice and the star branch once, and without the barrier
    each consumer would re-run the upstream band-hash UDF.
    """
    stats = bandtab.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_bn"), F.min(pk_col).alias("_rep")
    )
    tagged = scope.keep(
        bandtab.join(stats, on=list(keys)).select(*keys, pk_col, "_bn", "_rep")
    )
    cold = tagged.filter(F.col("_bn") <= max_bucket_size).select(*keys, pk_col)
    pairs = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            on=[F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
            + [F.col(f"a.{pk_col}") < F.col(f"b.{pk_col}")],
        )
        .select(
            F.col(f"a.{pk_col}").alias("id_a"), F.col(f"b.{pk_col}").alias("id_b")
        )
    )
    stars = (
        tagged.filter(
            (F.col("_bn") > max_bucket_size) & (F.col(pk_col) != F.col("_rep"))
        )
        .select(F.col("_rep").alias("id_a"), F.col(pk_col).alias("id_b"))
    )
    return pairs.unionByName(stars).distinct()


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_coeffs(nhashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Seeded (a, b) coefficient vectors for h_i(x) = (a_i·x + b_i) mod P."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, HASH_P - 1, size=nhashes).tolist()
    b = rng.randint(0, HASH_P - 1, size=nhashes).tolist()
    return [int(x) for x in a], [int(x) for x in b]


def minhash_signature(
    shingles: Column, nhashes: int = 128, seed: int = 42
) -> Column:
    """array<long> MinHash signature: per hash function, the min of
    (a·shingle + b) mod P over the document's shingle hashes.

    SINGLE-PASS aggregate over the shingle array (accumulator = the
    running per-hash minima), so the shingle expression appears exactly
    once in the plan.  The per-hash formulation (nhashes × array_min
    passes) looks equivalent but is a Catalyst trap: CollapseProject
    inlines the shingle-hash expression into every one of the nhashes
    lambda bodies, exploding the tree ~100× (observed: a 500-row build
    going from <1 s to minutes).  n_hashes × n_shingles multiply-adds per
    row either way; no UDF, no shuffle.
    """
    a, b = minhash_coeffs(nhashes, seed)
    ab = F.arrays_zip(
        F.lit(a).alias("a"), F.lit(b).alias("b")
    )  # foldable literal → constant-folded once
    init = F.array_repeat(F.lit(HASH_P + 1).cast("long"), nhashes)
    return F.aggregate(
        shingles,
        init,
        lambda acc, h: F.zip_with(
            acc, ab, lambda m, c: F.least(m, (c["a"] * h + c["b"]) % HASH_P)
        ),
    )


def minhash_bands(sig: Column, bands: int, rows: int) -> Column:
    """array<long> of band hashes: fold each r-row slice of the signature
    (LSH AND-within-band / OR-across-bands, LSHIndexGenerator.scala:33-36)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.aggregate(
            F.slice(sig, j * rows + 1, rows),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 31 + x) % HASH_P,
        ),
    )


def lsh_params(
    threshold: float,
    num_perm: int = 128,
    fp_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick the (bands, rows) banding of ``num_perm`` MinHash
    permutations that best matches a Jaccard ``threshold`` — the
    standard S-curve optimization (Leskovec/Rajaraman/Ullman, "Mining
    of Massive Datasets" §3.4; the same procedure the public
    `datasketch` library ships): a candidate pair of similarity s
    collides with probability ``1 - (1 - s^rows)^bands``, so minimize
    ``fp_weight · ∫₀ᵗ P(s) ds + (1-fp_weight) · ∫ₜ¹ (1-P(s)) ds``
    over all factorizations ``bands · rows <= num_perm``.

    Pure driver-side arithmetic (a few hundred trapezoid evaluations);
    returns ``(bands, rows)`` for :func:`minhash_dup_pairs` /
    :func:`dedup_against` — or pass ``bands="auto"`` there and this
    runs implicitly.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_perm < 2:
        raise ValueError(f"num_perm must be >= 2, got {num_perm}")
    if not (0.0 <= fp_weight <= 1.0):
        raise ValueError(f"fp_weight must be in [0, 1], got {fp_weight}")
    steps = 200

    def _err(b: int, r: int) -> float:
        # trapezoid integration of the collision curve on each side
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** r) ** b
            if s <= threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        return fp_weight * fp + (1.0 - fp_weight) * fn

    best: tuple[float, int, int] | None = None
    for r in range(1, num_perm + 1):
        b = num_perm // r
        if b < 1:
            break
        e = _err(b, r)
        if best is None or e < best[0]:
            best = (e, b, r)
    assert best is not None
    return best[1], best[2]


def minhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    pk: str = "doc_id",
    threshold: float = 0.7,
    shingle_n: int = 8,
    bands: "int | str" = 32,
    rows: int = 4,
    seed: int = 42,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Near-duplicate pairs ``(id_a, id_b, jaccard)`` with exact shingle-set
    Jaccard ≥ threshold, id_a < id_b — returned materialized (eager
    localCheckpoint), with the shingle/signature caches released.

    Plan shape (the only scale-safe one):
      1. one map stage: pk → distinct shingle hashes + signature + bands;
      2. explode bands → equi-join on (band_idx, band_hash), pk_a < pk_b,
         distinct — candidates only ever meet inside a bucket, and
         degenerate buckets (identical boilerplate, empty docs — every
         empty text gets the sentinel shingle set ``[0]`` and thus
         identical bands) are capped by the hot-bucket guard
         (``_banded_candidates``: star pairs above ``max_bucket_size``);
      3. semi-join the shingle sets back by pk (twice) and verify exact
         Jaccard = |∩| / |∪|.

    P(miss) at j = 0.7 with 32×4 is (1-0.7⁴)³² ≈ 1.5e-4 and falls to
    ~1e-6 at j = 0.8; verified exhaustively in the oracle suite at sf0.01.

    ``bands="auto"`` resolves the banding from the threshold via
    :func:`lsh_params` over a ``bands·rows`` permutation budget of 128 —
    the S-curve fit, instead of hand-picked (32, 4).
    """
    with CacheScope() as scope:
        return _minhash_pairs(
            scope, df, text_col, pk, threshold, shingle_n, bands, rows, seed,
            max_bucket_size,
        ).localCheckpoint(eager=True)


def _minhash_pairs(
    scope: CacheScope,
    df: DataFrame,
    text_col: str,
    pk: str,
    threshold: float,
    shingle_n: int,
    bands: "int | str",
    rows: int,
    seed: int,
    max_bucket_size: int,
) -> DataFrame:
    """The lazy pair query behind :func:`minhash_dup_pairs`; its caches
    live in ``scope``."""
    if bands == "auto":
        bands, rows = lsh_params(float(threshold), num_perm=128)
    base = scope.keep(_minhash_base(df, text_col, pk, shingle_n, bands, rows, seed))
    bandtab = base.select(
        "_pk", F.posexplode(F.col("_bands")).alias("_band_idx", "_band_hash")
    )
    cand = _banded_candidates(
        scope, bandtab, ["_band_idx", "_band_hash"],
        max_bucket_size=max_bucket_size,
    )

    sets = base.select("_pk", "_sh")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter / union
    return (
        cand.join(sets.select(F.col("_pk").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("_pk").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _minhash_base(
    df: DataFrame,
    text_col: str,
    pk: str,
    shingle_n: int,
    bands: int,
    rows: int,
    seed: int,
) -> DataFrame:
    """The ``(_pk, _sh, _bands)`` shingle/signature table behind every
    MinHash consumer (self-join pairs, asymmetric dedup_against); each
    consumer keeps it in its scope.
    """
    # Shingling + signature + banding as ONE Arrow-batched pandas UDF pass
    # over the text (one python worker round-trip, one persist barrier):
    #
    # * shingle hashing has BIT-IDENTICAL arithmetic to
    #   text.shingle_hashes / the DuckDB oracle: the rolling 31-poly mod
    #   1e9+7 over codepoints, vectorized as a sliding-window matvec (no
    #   intermediate exceeds 2^63: max_codepoint·Σ31^j ≈ 3e16).  The
    #   per-character expression form evaluates ~2.4k interpreted lambda
    #   calls per row (measured 90 s at 5.7k docs); this is one matvec.
    # * signature + banding is a bands·rows × n_shingles modular matmul —
    #   like the LSH projection matmul (index/lsh.py), the one shape where
    #   an expression tree is absurd.  Signatures/bands only gate
    #   CANDIDATE generation; the oracle-checked output is the
    #   exact-Jaccard verification below, so the banding needs
    #   self-consistency, not cross-engine parity.
    n_ = shingle_n
    # weights reduced mod P keep the sliding-window matvec overflow-free
    # for ANY shingle_n: each term is < 0x110000 · (P-1) ≈ 1.1e15, so the
    # int64 row sum is safe up to ~8000 terms (the raw 31^j weights would
    # themselves overflow int64 at n ≥ 13); (sw @ (w mod P)) mod P equals
    # the step-wise (h·31 + c) mod P fold exactly.
    assert shingle_n <= 4096, "shingle_n beyond the overflow-safe matvec bound"
    a_co, b_co = minhash_coeffs(bands * rows, seed)

    def _shingles_and_bands(texts):
        import pandas as pd

        w = np.array(
            [pow(31, j, HASH_P) for j in range(n_ - 1, -1, -1)], dtype=np.int64
        )
        A = np.asarray(a_co, dtype=np.int64)[:, None]
        B = np.asarray(b_co, dtype=np.int64)[:, None]
        sh_out, band_out = [], []
        for t in texts:
            # NULL text gets the same [0] sentinel shingle set as empty
            # text — the expression-based family (exact/simhash) already
            # maps NULL that way via concat_ws (review r6: None.encode
            # crashed the whole job)
            if t is None:
                t = ""
            # utf-32-le frombuffer == [ord(c) for c in t], measured ~7x
            # faster — this per-char loop is the UDF's hottest line
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            if len(codes) == 0:
                sh = np.array([0], dtype=np.int64)
            elif len(codes) <= n_:
                h = np.int64(0)
                for c in codes:
                    h = (h * 31 + c) % HASH_P
                sh = np.array([h], dtype=np.int64)
            else:
                sw = np.lib.stride_tricks.sliding_window_view(codes, n_)
                sh = np.unique((sw @ w) % HASH_P)
            sig = ((A * sh[None, :] + B) % HASH_P).min(axis=1)
            S = sig.reshape(bands, rows)
            acc = np.zeros(bands, dtype=np.int64)
            for j in range(rows):  # fold across the r signature rows only
                acc = (acc * 31 + S[:, j]) % HASH_P
            sh_out.append(sh)
            band_out.append(acc)
        return pd.DataFrame({"sh": sh_out, "bands": band_out})

    from pyspark.sql import types as T

    sb_udf = F.pandas_udf(
        _shingles_and_bands,
        T.StructType(
            [
                T.StructField("sh", T.ArrayType(T.LongType())),
                T.StructField("bands", T.ArrayType(T.LongType())),
            ]
        ),
    )

    # callers keep this as a PERSIST BARRIER after the one map pass: the
    # shingle sets feed the verify join and the band hashes feed
    # candidate generation — at 100 TB the shingle/signature table is a
    # persisted artifact anyway (build once, reuse for every dedup run);
    # the scoped persist is the operator-local equivalent.
    return (
        _spread(df)
        .select(F.col(pk).alias("_pk"), sb_udf(F.col(text_col)).alias("_sb"))
        .select("_pk", F.col("_sb.sh").alias("_sh"), F.col("_sb.bands").alias("_bands"))
    )


# ---------------------------------------------------------------------------
# duplicate-group resolution (pairs -> connected components -> survivors)
# ---------------------------------------------------------------------------

# dup_groups propagates this many rounds before escaping to star alternation:
# covers every measured banded near-dup graph (dense clusters, diameter
# 2-3 → 2-4 rounds) at propagation's cheaper per-round cost
ESCAPE_ROUNDS = 4


#: analyzed-plan line budget under which a pair table counts as "already
#: materialized flat" for dup_groups' edge-cache gate: a
#: localCheckpoint is 1 line, a cached projection a handful; every pair
#: GENERATOR lineage (bands, windows, UDFs, joins) is tens of lines.
FLAT_PAIR_PLAN_LINES = 8


def dup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    reliable: bool = False,
    _stats: dict | None = None,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate GROUPS: connected
    components over the pair graph, labeled by each component's min pk
    (the survivor).  Returns ``(id, survivor)`` for every id that appears
    in a pair; ``id == survivor`` marks the row to keep, everything else
    drops — the action step after any of the pair generators above.

    Min-label propagation runs first: every node starts labeled with its
    own id; each round joins labels across edges both ways and keeps the
    min, stopping when no label changed.  Rounds = graph diameter, the
    cheapest per round and the right tool for the dense low-diameter
    clusters near-dup banding produces (2-4 rounds in practice).  A graph
    still unconverged after ``ESCAPE_ROUNDS`` rounds (an adversarial
    high-diameter chain) switches to large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): each round REWIRES edges toward the component minimum, so
    components collapse in O(log² n) rounds regardless of diameter
    (measured on a 64-chain: 7 rounds vs propagation's 63), at ~2 extra
    jobs per round.

    Every round is an eager checkpoint, so the plan stays O(1) and the
    graph is never collected.  ``reliable=True`` swaps the per-round
    ``localCheckpoint`` for a reliable ``checkpoint`` (requires
    ``setCheckpointDir``): rounds survive executor loss — the right
    setting for long-running cluster jobs.  ``_stats`` (tests/bench)
    receives ``{"rounds": …, "algorithm": "propagate" | "auto->star"}``.
    """
    # symmetrize with ONE read of `pairs`: exploding both orientations
    # from a single scan yields the same edge set as a two-branch union
    # at half the pair-table reads
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
    )
    # Each round's plan references `labels` TWICE (the neighbor join and
    # the own-label join), so without truncation the LOGICAL plan doubles
    # per round — 2^rounds subtrees; a 14-round chain OOMed the driver
    # just stringifying the plan, and an uncached lineage also recomputes
    # prior rounds.  localCheckpoint(eager) per round MATERIALIZES the
    # round (one job, like a persist+count) and cuts the lineage to the
    # checkpointed blocks, keeping the plan O(1) and the work O(rounds).
    # (Unreliable-checkpoint caveat: executor loss fails the job; a
    # cluster deployment that needs fault tolerance passes
    # ``reliable=True`` after ``spark.sparkContext.setCheckpointDir``.)
    if reliable:
        sc = pairs.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "dup_groups(reliable=True) needs "
                "spark.sparkContext.setCheckpointDir(...) first"
            )
        ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    # The edge list is CHECKPOINTED when `pairs` carries a deep lineage:
    # a persist caches the data but every round would still re-analyze
    # the whole pair-generator plan (band UDFs, windows, joins).  A pair
    # table that is already flat (every generator returns an eager
    # checkpoint, so its analyzed plan is a bare LogicalRDD) has no such
    # lineage, and a checkpoint would be a net new job per call — the
    # edge list is kept in the block instead, materialized by the fused
    # first round's aggregate inside a job it runs anyway.
    try:
        pair_depth = len(
            pairs._jdf.queryExecution().analyzed().treeString().splitlines()
        )
    except Exception:
        pair_depth = 1 << 30
    with CacheScope() as scope:
        if not reliable and pair_depth <= FLAT_PAIR_PLAN_LINES:
            edges = scope.keep(edges)
        else:
            edges = ckpt(edges)
        # FUSED first round: propagation's round 1 from self-labels is
        # exactly min(own id, min neighbor id), one map-side-combinable
        # aggregate over the symmetric edge list — no label join, no
        # separate node-id distinct, one fewer checkpoint round trip.
        labels = ckpt(
            edges.groupBy(F.col("src").alias("id")).agg(
                F.least(F.col("src"), F.min("dst")).alias("survivor")
            )
        )
        rounds = 1  # the fused init IS propagation round 1
        for _ in range(min(ESCAPE_ROUNDS, max_iterations)):
            rounds += 1
            # candidate labels: own label + min neighbor label
            neighbor = (
                edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("survivor").alias("n_survivor"))
            )
            updated = ckpt(
                labels.join(neighbor, "id", "left").select(
                    "id",
                    F.least(
                        F.col("survivor"), F.coalesce("n_survivor", "survivor")
                    ).alias("survivor"),
                    (
                        F.coalesce("n_survivor", "survivor") < F.col("survivor")
                    ).alias("_chg"),
                )
            )
            changed = updated.filter(F.col("_chg")).limit(1).count()
            labels = updated.drop("_chg")
            if changed == 0:
                if _stats is not None:
                    _stats.update({"rounds": rounds, "algorithm": "propagate"})
                return labels
        # high-diameter graph: propagation would need diameter rounds —
        # star alternation finishes in O(log²) rounds regardless of shape.
        # Its result re-reads the edge list, so it is checkpointed before
        # the block releases the edges.
        out = ckpt(_star_components(edges, ckpt, max_iterations, _stats))
        if _stats is not None:
            _stats["rounds"] += rounds
            _stats["algorithm"] = "auto->star"
        return out


def _star_components(
    sym_edges: DataFrame, ckpt, max_iterations: int, _stats: dict | None
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC 2014,
    Algorithm "Alternating") over a SYMMETRIC deduped edge list.

    Edges are kept in canonical (a, b) orientation with a > b.  Per
    round:
      * large-star — per node u over its full neighborhood, connect every
        strictly LARGER neighbor v to m = min(Γ(u) ∪ {u}): emits (v, m);
      * small-star — per node a over its SMALLER neighbors b, with
        m = min(b): emits (b, m) for b ≠ m plus (a, m).
    Both preserve connectivity and the component minimum; the fixed point
    is a union of stars rooted at each component's min, so the labels are
    read straight off the final edge list (no label join at all).
    Convergence is detected by edge-set equality (count, then a one-sided
    exceptAll only when counts match).  Each round shuffles only the slim
    (long, long) edge list — grouped and joined on node id — and is
    checkpointed eagerly like the propagation rounds.
    """
    e = ckpt(
        sym_edges.filter(F.col("src") > F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )
    n_prev = e.count()
    rounds = 0
    converged = n_prev == 0
    for _ in range(max_iterations):
        if converged:
            break
        rounds += 1
        # large-star over the symmetric view
        s = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = s.groupBy("u").agg(F.min("v").alias("_mn"))
        mins = mins.select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
        e1 = (
            s.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star on the canonical orientation
        m2 = e1.groupBy("a").agg(F.min("b").alias("m"))
        leaves = (
            e1.join(m2, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        e2 = ckpt(leaves.unionByName(m2.select("a", F.col("m").alias("b"))).distinct())
        n_new = e2.count()
        if n_new == n_prev and e2.exceptAll(e).limit(1).count() == 0:
            e = e2
            converged = True
            break
        e, n_prev = e2, n_new
    if not converged:
        raise RuntimeError(
            f"star components did not converge in {max_iterations} rounds "
            f"(O(log²) expected — this indicates a bug or an absurd cap)"
        )
    if _stats is not None:
        _stats.update({"rounds": rounds, "algorithm": "star"})
    # stars: every non-root node carries exactly one (node, root) edge;
    # roots (and nodes whose only pairs were self-pairs) map to themselves
    nodes = sym_edges.select(F.col("src").alias("id")).distinct()
    roots = e.groupBy(F.col("a").alias("id")).agg(F.min("b").alias("_sv"))
    return nodes.join(roots, "id", "left").select(
        "id", F.coalesce("_sv", "id").alias("survivor")
    )


def deduplicate(
    df: DataFrame,
    pairs: DataFrame,
    pk: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep_by: str | None = None,
    keep: str = "max",
) -> DataFrame:
    """Drop every near-duplicate except its group survivor: ``df`` minus
    the non-survivor members of :func:`dup_groups` — one broadcast-or-
    shuffle anti-join against a drop-list that is at most the duplicate
    count, never the corpus.

    Default survivor: the min-pk member.  ``keep_by`` (round 12) makes
    the survivor the member with the LARGEST value of that ``df`` column
    (``keep="min"`` flips to smallest), ties broken by min pk — the
    production dedup policy: keep the fullest/highest-quality copy of
    each near-dup family (``keep_by="n_chars"``, a quality score, a
    recency timestamp), not whichever crawled first.  NULL scores never
    win unless the whole group is NULL.  Cost: the component table
    (duplicate members only) joins the score column and runs two slim
    per-component aggregates — the corpus itself is still touched only
    by the final anti-join.
    """
    drops = dedup_drops(df, pairs, pk=pk, id_a=id_a, id_b=id_b,
                        keep_by=keep_by, keep=keep)
    return df.join(drops, pk, "left_anti")


def dedup_drops(
    df: DataFrame,
    pairs: DataFrame,
    pk: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep_by: str | None = None,
    keep: str = "max",
) -> DataFrame:
    """The SLIM drop-list behind :func:`deduplicate` — ``(pk)`` of every
    near-duplicate group member except its survivor (round 15, factored
    out): each id appears at most once and only ids from ``pairs`` can
    appear, so ``count(drops)`` equals the rows ``deduplicate`` removes —
    callers that need both the survivors and the removed-count can count
    this slim table instead of re-running the corpus lineage under
    ``deduplicate(...).count()``.  ``df`` is only touched on the
    ``keep_by`` path (one slim score join), never scanned otherwise."""
    groups = dup_groups(pairs, id_a, id_b)
    if keep_by is None:
        return groups.filter(F.col("id") != F.col("survivor")).select(
            F.col("id").alias(pk)
        )
    if keep not in ("max", "min"):
        raise ValueError(f"keep must be 'max' or 'min', got {keep!r}")
    scored = groups.join(
        df.select(F.col(pk).alias("id"), F.col(keep_by).alias("_ap_q")),
        "id",
        "left",
    )
    agg = F.max("_ap_q") if keep == "max" else F.min("_ap_q")
    best = scored.groupBy("survivor").agg(agg.alias("_ap_best"))
    keepers = (
        scored.join(best, "survivor")
        # eqNullSafe: an all-NULL group keeps its min-pk member (best is
        # NULL there); groups with a real best never match NULL scores
        .filter(F.col("_ap_q").eqNullSafe(F.col("_ap_best")))
        .groupBy("survivor")
        .agg(F.min("id").alias("_ap_keep"))
    )
    return (
        scored.join(keepers, "survivor")
        .filter(F.col("id") != F.col("_ap_keep"))
        .select(F.col("id").alias(pk))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 30  # token hashes are < 2^30 (mod 1e9+7), so 30 usable bits


def simhash_expr(text: str | Column, nbits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint over token hashes: bit b of the result is set
    iff Σ_tokens (2·bit_b(h(token)) − 1) > 0.

    Token hashes are Knuth-mixed before bit extraction (round 9):
    ``h' = ⌊h·2654435761 / 2^15⌋ mod 2^30`` — the raw 31-poly hashes of
    a STRUCTURED vocabulary ("tok0".."tok1999", URL shards, template
    slugs) share bit patterns, and the per-bit ±1 sums inherit the bias:
    measured mean pairwise hamming between UNRELATED 30-token docs was
    8.2/30 with raw hashes (min 0 — full fingerprint collisions!) vs
    14.1/30 mixed (ideal 15), while a 1-token-of-30 edit still moves
    only ~3.6 bits — so hamming ≤ 3 keeps near-dup recall but stops
    matching unrelated structured docs.  The mix is exact 64-bit
    integer arithmetic: the operands are bounded by HASH_P ≈ 1e9+7, so
    the product tops out near (1e9+6)·2654435761 ≈ 2.66e18 < 2^62 —
    inside int64 in both engines but with only one spare bit, so a
    wider hash modulus or multiplier would overflow (ADVICE r9).
    Mirrored verbatim in the DuckDB oracle.

    Bit extraction uses floor-division by 2^b (portable to DuckDB; all
    values < 2^30 so double-precision division is exact).
    """
    toks = tokens_expr(text)
    # shiftright(·,15) IS the ⌊/2^15⌋: long/long division in Spark is
    # DOUBLE division, inexact past 2^53 — the ~2.66e18 (< 2^62) product needs
    # integer ops end to end (DuckDB mirrors with `// 32768`)
    th = F.transform(
        toks,
        lambda t: F.shiftright(
            poly_hash(char_codes(t)) * F.lit(2654435761), 15
        )
        % F.lit(1 << SIMHASH_BITS),
    )
    bit = lambda h, b: F.floor(h / F.pow(F.lit(2.0), b)).cast("long") % 2  # noqa: E731
    # SINGLE PASS over the token hashes with a per-bit counter array as
    # the accumulator — the per-bit formulation (nbits independent sums)
    # would inline the token-hash expression nbits times (CollapseProject;
    # see minhash_signature) and re-tokenize the text 30× per row.
    bitseq = F.sequence(F.lit(0), F.lit(nbits - 1))
    sums = F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), nbits),
        lambda acc, h: F.zip_with(acc, bitseq, lambda s, b: s + bit(h, b) * 2 - 1),
    )
    return F.aggregate(
        F.zip_with(
            sums,
            bitseq,
            lambda s, b: F.when(s > 0, F.floor(F.pow(F.lit(2.0), b)).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _simhash_block_keys(nbits: int, max_hamming: int):
    """Manku-style multi-block bucketing keys for Hamming candidate
    generation (Manku, Jain & Das Sarma, WWW 2007 §3): split the
    ``nbits`` fingerprint into ``m`` near-equal blocks; any pair within
    Hamming distance ``k`` agrees on at least ``m − k`` WHOLE blocks,
    so keying C(m, m−k) tables — one per (m−k)-block subset, key =
    those blocks' bits packed together — finds EVERY qualifying pair by
    plain equi-join (pigeonhole, exact).

    Versus single-chunk keys (one table per chunk, the previous
    scheme): a 6-bit chunk has 64 possible values, so every bucket
    holds ~n/64 rows BY CONSTRUCTION and a hot-bucket cap silently
    truncates all of them past ~64·cap corpus rows (ADVICE r8) — the
    multi-block key spans about half the fingerprint (15 bits at
    nbits=30, k=3), shrinking expected buckets by 2⁹ at the cost of
    C(2k, k) (=20) exploded rows per doc instead of k+2.  Exploded
    rows are slim (pk, table, key); fingerprints never ride them.

    m = 2k for 1 ≤ k ≤ 3 (half-fingerprint keys, ≤20 tables), k+2
    beyond (2-block keys, (k+2)(k+1)/2 tables); k=0 degenerates to one
    table keyed on the whole fingerprint.

    Returns ``(key_array_expr, n_tables, min_key_bits)`` where
    ``key_array_expr`` maps the fingerprint column ``_s`` to the array
    of packed per-table keys (``posexplode`` → (table_idx, key)) and
    ``min_key_bits`` is the narrowest table key's width (for expected-
    bucket-size math).
    """
    import itertools

    k = int(max_hamming)
    if k < 0:
        raise ValueError("max_hamming must be >= 0")
    m = 1 if k == 0 else (2 * k if k <= 3 else k + 2)
    m = min(m, nbits)
    if m <= k:
        raise ValueError(
            f"max_hamming={k} too large for a {nbits}-bit fingerprint "
            "(needs at least max_hamming+1 non-empty blocks)"
        )
    take = m - k if k else 1
    widths = [nbits // m + (1 if j < nbits % m else 0) for j in range(m)]
    offsets = [sum(widths[:j]) for j in range(m)]
    keys = []
    combos = list(itertools.combinations(range(m), take))
    for combo in combos:
        key = F.lit(0).cast("long")
        for b in combo:
            block = F.shiftright(F.col("_s"), offsets[b]).bitwiseAND(
                F.lit((1 << widths[b]) - 1)
            )
            key = F.shiftleft(key, widths[b]) + block
        keys.append(key)
    min_key_bits = min(sum(widths[b] for b in combo) for combo in combos)
    return F.array(*keys), len(combos), min_key_bits


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    pk: str = "doc_id",
    max_hamming: int = 3,
    nbits: int = SIMHASH_BITS,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on Manku-style multi-block keys
    (:func:`_simhash_block_keys` — every pair with hamming ≤
    ``max_hamming`` shares at least one table's full key, so the
    equi-join finds ALL of them; no all-pairs), verify exact
    popcount(xor) ≤ max_hamming.  Degenerate buckets (rare with
    half-fingerprint keys) are capped by the hot-bucket guard
    (``_banded_candidates``); the fingerprints ride the candidate join as
    pk-keyed lookups, not join payload.  Returned materialized, like
    :func:`fingerprint_pairs`.
    """
    return fingerprint_pairs(
        df.withColumn("_ap_fp", simhash_expr(text_col, nbits)),
        "_ap_fp",
        pk=pk,
        max_hamming=max_hamming,
        nbits=nbits,
        max_bucket_size=max_bucket_size,
    )


def _nonneg_fp_guard(fp_col: str) -> Column:
    """The fingerprint column, assert-folded (the house
    ``_session_cap_guard`` pattern): NULL-pass coalesce keeps it pure
    codegen on the happy path; a negative fingerprint (bit 63 set —
    arithmetic shifts in the Manku block keys would sign-extend into
    silently-missed pairs) raises loudly naming the convention."""
    return F.coalesce(
        F.assert_true(
            F.col(fp_col) >= 0,
            F.concat(
                F.lit("fingerprint column '"),
                F.lit(fp_col),
                F.lit("' holds a NEGATIVE value "),
                F.col(fp_col).cast("string"),
                F.lit(
                    " (bit 63 set?) — Manku block keys need NONNEGATIVE"
                    " fingerprints; use the 63-bit hash convention"
                    " (dhash_bits/audio_envelope_bits) or mask to 63 bits"
                ),
            ),
        ).cast("long"),
        F.col(fp_col),
    )


def fingerprint_pairs(
    df: DataFrame,
    fp_col: str,
    pk: str = "doc_id",
    max_hamming: int = 3,
    nbits: int = SIMHASH_BITS,
    max_bucket_size: int = 1024,
    group_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, hamming)`` over ANY precomputed
    NONNEGATIVE integer fingerprint column — the Manku multi-block
    Hamming core behind :func:`simhash_pairs`, shared by image dHash
    (:func:`~adampro_spark.pipeline.multimodal.image_dhash`, 63 bits),
    audio/video signatures, or externally-computed hashes.  Candidates
    via the exhaustive-by-pigeonhole block keys, exact popcount(xor)
    verification, hot-bucket star guard — fingerprints never ride the
    exploded key rows.

    NULL fingerprints (undecodable media blobs) are dropped up front:
    such rows never pair, so they pass through any downstream
    ``deduplicate``.  NEGATIVE fingerprints raise: the Manku block keys
    use arithmetic shifts, so a bit-63-set hash would sign-extend into
    wrong keys — MISSED pairs, not an error — use 63-bit hash
    conventions (``nbits`` ≤ 63).

    ``group_cols``: extra partitioning columns prepended to the bucket
    key so candidates NEVER cross groups — one call over a multi-family
    fingerprint table (e.g. curate_media's modality tag) yields exactly
    the union of the per-group pair sets (the hot-bucket cap applies
    per group-bucket) while the explode/shuffle/join runs ONCE.

    The pair set is returned materialized (eager localCheckpoint), with
    the fingerprint and tagged-band caches released."""
    with CacheScope() as scope:
        return _fingerprint_pairs(
            scope, df, fp_col, pk, max_hamming, nbits, max_bucket_size,
            group_cols,
        ).localCheckpoint(eager=True)


def _fingerprint_pairs(
    scope: CacheScope,
    df: DataFrame,
    fp_col: str,
    pk: str,
    max_hamming: int,
    nbits: int,
    max_bucket_size: int,
    group_cols: "Sequence[str]",
) -> DataFrame:
    """The lazy pair query behind :func:`fingerprint_pairs`; its caches
    live in ``scope``."""
    key_arr, _, _ = _simhash_block_keys(nbits, max_hamming)
    gcols = list(group_cols)
    # no _spread here (round 15): the fingerprints are PRECOMPUTED, so the
    # map-side work before the first shuffle (a posexplode of slim block
    # keys) is trivial at any partition count, and every heavy stage —
    # bucket stats, candidate self-join, verify joins — sits behind a
    # shuffle whose parallelism comes from spark.sql.shuffle.partitions /
    # AQE, not from the input split.  The probe itself was the cost: a
    # df.rdd partition check forces a full plan of the (often deep)
    # caller lineage, measured ~1-2 s per call in the curate compositions.
    sim = (
        df.filter(F.col(fp_col).isNotNull())
        .select(
            F.col(pk).alias("_pk"), _nonneg_fp_guard(fp_col).alias("_s"), *gcols
        )
    )
    # barrier: stop CollapseProject inlining the fingerprint expression
    # into every block-key expression (see minhash_signature)
    sim = scope.keep(sim)
    chunked = sim.select(
        "_pk", *gcols, F.posexplode(key_arr).alias("_ci", "_cv")
    )
    cand = _banded_candidates(
        scope, chunked, gcols + ["_ci", "_cv"], max_bucket_size=max_bucket_size
    )
    ham = F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b")))
    return (
        cand.join(sim.select(F.col("_pk").alias("id_a"), F.col("_s").alias("s_a")), "id_a")
        .join(sim.select(F.col("_pk").alias("id_b"), F.col("_s").alias("s_b")), "id_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (sign-LSH banding)
# ---------------------------------------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def embedding_dup_pairs(
    df: DataFrame,
    vector_col: str = "embedding",
    pk: str = "vec_id",
    threshold: float = 0.99,
    bands: int | None = None,
    rows: int | None = None,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Embedding near-dup pairs ``(id_a, id_b, cos_sim)`` with exact cosine
    similarity ≥ threshold, id_a < id_b — returned materialized (eager
    localCheckpoint), with the vector/band caches released.

    Candidates via sign-LSH (random-hyperplane) banding: bit = sign(v·h),
    band hash folds r bits, equi-join on (band_idx, band_hash).
    Verification computes exact cosine on the candidate pairs only.

    ``bands``/``rows`` default to THRESHOLD-ADAPTIVE values: per-bit
    agreement at the threshold is p = 1 − acos(t)/π; rows is chosen so a
    true pair matches a band with ~50% probability (p^rows ≈ 0.5 — the
    selectivity knee: more rows would need exponentially more bands,
    fewer rows let random pairs flood the buckets, since an orthogonal
    pair agrees per bit with prob 0.5 → random collisions/band = 2^-rows)
    and bands so the miss probability at the threshold is < 1e-4.  At
    t = 0.99 this yields rows=15, bands=14: candidate volume drops ~150×
    vs a fixed 16×8 while exact duplicates still always collide.

    Scale shape (mirrors ``minhash_dup_pairs``): the band table carries
    ``(pk, band_idx, band_hash)`` ONLY — vectors never ride the ×bands
    explode or the self-join shuffle; they join back by pk for the
    candidate pairs.  Degenerate buckets (e.g. all-zero or boilerplate
    embeddings hashing identically) are capped by the hot-bucket guard.
    """
    with CacheScope() as scope:
        return _embedding_pairs(
            scope, df, vector_col, pk, threshold, bands, rows, seed, dim,
            max_bucket_size,
        ).localCheckpoint(eager=True)


def _embedding_pairs(
    scope: CacheScope,
    df: DataFrame,
    vector_col: str,
    pk: str,
    threshold: float,
    bands: int | None,
    rows: int | None,
    seed: int,
    dim: int | None,
    max_bucket_size: int,
) -> DataFrame:
    """The lazy pair query behind :func:`embedding_dup_pairs`; its caches
    live in ``scope``."""
    import math

    if bands is None or rows is None:
        p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        p = min(max(p, 1e-6), 1.0 - 1e-9)
        if rows is None:
            rows = min(24, max(4, round(math.log(0.5) / math.log(p))))
        if bands is None:
            miss_per_band = 1.0 - p**rows
            bands = min(
                64, max(4, math.ceil(math.log(1e-4) / math.log(miss_per_band)))
            )
    if dim is None:
        first = df.select(vector_col).filter(
            F.col(vector_col).isNotNull()
        ).first()
        if first is None:
            # empty corpus (or all-NULL vectors): no pairs by definition
            # — return an empty result instead of a TypeError (review r6)
            spark = df.sparkSession
            pk_t = df.schema[pk].dataType.simpleString()
            return spark.createDataFrame(
                [], f"id_a {pk_t}, id_b {pk_t}, cos_sim double"
            )
        dim = len(first[0])
    # NULL vectors cannot collide with anything — drop them before the
    # banding UDF (np.asarray(None) crashed the worker)
    df = df.filter(F.col(vector_col).isNotNull())
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal(size=(bands * rows, dim))

    v = F.col(vector_col).cast("array<double>")
    norm = F.sqrt(_dot(v, v))

    # hyperplane-sign band hashes as one Arrow-batched pandas UDF (a
    # (bands·rows × dim) matmul per batch — the LSH-projection shape,
    # index/lsh.py): bands gate CANDIDATES only, the oracle-checked output
    # is the exact-cosine verification, so self-consistency suffices.
    def _band_hashes(cols):
        import pandas as pd

        P = planes  # (bands·rows × dim)
        V = np.array([np.asarray(v, dtype=np.float64) for v in cols])
        if not len(V):
            return pd.Series([])
        bits = (V @ P.T >= 0).astype(np.int64).reshape(len(V), bands, rows)
        weights = 1 << np.arange(rows - 1, -1, -1, dtype=np.int64)
        bh = bits @ weights  # (n × bands)
        return pd.Series(list(bh))

    from pyspark.sql import types as T

    band_udf = F.pandas_udf(_band_hashes, T.ArrayType(T.LongType()))

    # ONE kept (pk, vec, norm, bands) table — the _minhash_base
    # convention: without the barrier the band-hash UDF ran
    # TWICE (the bucket-stats aggregate and the join-back inside
    # banded_candidates each evaluate bandtab) and the vector+norm
    # projection re-scanned the corpus twice more for the two verify
    # joins — four corpus passes for one pair set.  At 100 TB the
    # banded signature table is a persisted artifact of the corpus
    # build anyway.
    hashed = scope.keep(
        _spread(df).select(
            F.col(pk).alias("_pk"),
            v.alias("_v"),
            norm.alias("_n"),
            band_udf(v).alias("_bands"),
        )
    )
    bandtab = hashed.select(
        "_pk", F.posexplode(F.col("_bands")).alias("_band_idx", "_band_hash")
    )
    cand = _banded_candidates(
        scope, bandtab, ["_band_idx", "_band_hash"],
        max_bucket_size=max_bucket_size,
    )

    # vectors join back by pk for candidate pairs only (narrow shuffle of
    # (pk, vec) for the candidate set — never ×bands duplicated)
    vecs = hashed.select("_pk", "_v", "_n")
    cos = F.when(
        (F.col("n_a") < 1e-12) | (F.col("n_b") < 1e-12), F.lit(0.0)
    ).otherwise(_dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")))
    return (
        cand.join(
            vecs.select(
                F.col("_pk").alias("id_a"), F.col("_v").alias("v_a"), F.col("_n").alias("n_a")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("_pk").alias("id_b"), F.col("_v").alias("v_b"), F.col("_n").alias("n_b")
            ),
            "id_b",
        )
        .withColumn("cos_sim", F.round(cos, 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# ---------------------------------------------------------------------------
# SemDeDup — cluster-bucketed SEMANTIC near-dup (Abbas et al. 2023)
# ---------------------------------------------------------------------------


def semantic_dup_pairs(
    df: DataFrame,
    vector_col: str = "embedding",
    pk: str = "vec_id",
    threshold: float = 0.9,
    n_clusters: int | None = None,
    centroids: "DataFrame | np.ndarray | None" = None,
    sample_size: int = 20_000,
    seed: int = 42,
    max_cluster_rows: int = 50_000,
) -> DataFrame:
    """Within-cluster cosine pairs ``(id_a, id_b, cos_sim)`` with
    round(cos, 4) ≥ threshold — the SemDeDup recipe: k-means the
    (L2-normalized) embeddings, then compare ONLY within each cluster.

    Sign-LSH banding (:func:`embedding_dup_pairs`) is the right tool at
    near-exact thresholds (≥ ~0.97), where a handful of hyperplane bits
    separates duplicates from noise; at SEMANTIC thresholds (0.7–0.95)
    the band agreement probability collapses and banded candidates
    approach all-pairs.  Cluster bucketing is the published scale path
    there: candidates are bounded by cluster populations, not by a
    threshold-dependent collision rate.  The price is the published
    semantics too — pairs SPLIT by the clustering are not reported
    (SemDeDup accepts this; callers needing exactness at high
    thresholds should use :func:`embedding_dup_pairs`).

    Scale shape:

    * **fit** — centroids from a driver-sized :func:`~adampro_spark.
      index._util.sample_matrix` + numpy k-means (the IVF build path,
      index/ivfpq.py), or caller-provided ``centroids`` (a small
      DataFrame of vectors, collected in the caller's row order, or an
      ndarray).  Default k = ⌈√n⌉ clamped to [2, 4096] — ~√n rows per
      cluster, so total pair work is ~n^1.5, not n².
    * **assign** — one Arrow-batched pandas UDF: normalized batch ×
      broadcast centroid matrix, argmax cosine (ties → lowest centroid
      index).  Map-only; the text-sized columns are pruned.
    * **pairs** — every cluster is hash-split into
      ⌈cluster/max_cluster_rows⌉ chunks and each chunk-block pair
      (bi ≤ bj) becomes one cogrouped ``applyInPandas`` task computing a
      (≤cap × ≤cap) matmul — bounded memory and no straggler even if
      one cluster holds half the corpus.  Cluster counts (≤ k rows)
      are the only driver collect.

    Zero-norm vectors cannot be L2-normalized and never pair (guard
    mirrors embedding_dup_pairs's near-zero-norm cos=0 convention).
    """
    v = F.col(vector_col).cast("array<double>")
    norm = F.sqrt(_dot(v, v))
    base = (
        df.filter(F.col(vector_col).isNotNull())
        .select(F.col(pk).alias("_pk"), v.alias("_v"), norm.alias("_n"))
        .filter(F.col("_n") > 1e-12)
    )

    # --- centroid matrix (driver-sized by contract: ≤ k rows) ---
    from adampro_spark.pipeline.cluster import (
        assign_clusters_udf,
        fit_centroids,
        resolve_centroids,
    )

    if centroids is None:
        try:
            Cn = fit_centroids(
                df, vector_col=vector_col, pk=pk, n_clusters=n_clusters,
                sample_size=sample_size, seed=seed,
            )
        except ValueError:  # empty / all-NULL / all-zero corpus
            spark = df.sparkSession
            pk_t = df.schema[pk].dataType.simpleString()
            return spark.createDataFrame(
                [], f"id_a {pk_t}, id_b {pk_t}, cos_sim double"
            )
    else:
        Cn = resolve_centroids(centroids, vector_col)

    # --- assignment: the SHARED argmax-cosine UDF (cluster.py) ---
    assign_udf = assign_clusters_udf(Cn)
    nv = F.transform(F.col("_v"), lambda x: x / F.col("_n"))
    rows = base.select(
        F.col("_pk"), nv.alias("_nv"), assign_udf(F.col("_v")).alias("_c")
    )
    pk_t = df.schema[pk].dataType.simpleString()
    with CacheScope() as scope:
        rows = scope.keep(_spread(rows))
        return _chunked_block_matches(
            rows, rows, threshold, max_cluster_rows, seed,
            out_a="id_a", out_b="id_b", a_type=pk_t, b_type=pk_t,
            symmetric=True,
        )


def _chunked_block_matches(
    left_rows: DataFrame,
    right_rows: DataFrame,
    threshold: float,
    max_cluster_rows: int,
    seed: int,
    out_a: str,
    out_b: str,
    a_type: str,
    b_type: str,
    symmetric: bool,
) -> DataFrame:
    """The chunk-block pair engine shared by :func:`semantic_dup_pairs`
    (symmetric: left IS right, each unordered pair reported once with
    ``out_a < out_b``) and :func:`semantic_dedup_against` (asymmetric:
    every left×right pair within a co-populated cluster).

    Inputs are ``(_pk, _nv, _c)`` tables the CALLER keeps; clusters
    are hash-split into ≤ ``max_cluster_rows`` chunks per side and every
    admitted (chunk, chunk) block runs as one bounded cogrouped matmul.
    Returns the eagerly-checkpointed ``(out_a, out_b, cos_sim)`` matches
    (``round(cos, 4) ≥ threshold``) — materialized while the caller's
    caches are still live, so the caller's block can release them.
    """
    import math

    spark = left_rows.sparkSession

    def _sizes(rows_df):
        return {
            r["_c"]: r["cnt"]
            for r in rows_df.groupBy("_c")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    l_sizes = _sizes(left_rows)
    m_left = {
        c: max(1, math.ceil(n / max_cluster_rows)) for c, n in l_sizes.items()
    }
    if symmetric:
        m_right = m_left
        blocks = [
            (c, bi, bj)
            for c, m in m_left.items()
            for bi in range(m)
            for bj in range(bi, m)
        ]
    else:
        r_sizes = _sizes(right_rows)
        m_right = {
            c: max(1, math.ceil(n / max_cluster_rows))
            for c, n in r_sizes.items()
        }
        blocks = [
            (c, bi, bj)
            for c in set(m_left) & set(m_right)  # co-populated clusters only
            for bi in range(m_left[c])
            for bj in range(m_right[c])
        ]
    schema = f"{out_a} {a_type}, {out_b} {b_type}, cos_sim double"
    if not blocks:
        return spark.createDataFrame([], schema)

    blocks_df = spark.createDataFrame(blocks, "_c int, _bi int, _bj int")

    def _side(rows_df, m_of, block_col):
        m_df = spark.createDataFrame(list(m_of.items()), "_c int, _m int")
        chunked = rows_df.join(F.broadcast(m_df), "_c").withColumn(
            "_chunk",
            F.pmod(F.xxhash64(F.col("_pk"), F.lit(seed + 13)), F.col("_m")).cast(
                "int"
            ),
        )
        # re-alias every column so the two cogroup sides carry DISTINCT
        # attribute ids (in the symmetric case they share chunked/
        # blocks_df lineage, which otherwise trips the ambiguous-self-
        # join analyzer check)
        return chunked.join(
            F.broadcast(blocks_df),
            on=[
                chunked["_c"] == blocks_df["_c"],
                chunked["_chunk"] == blocks_df[block_col],
            ],
        ).select(
            chunked["_pk"].alias("_pk"),
            chunked["_nv"].alias("_nv"),
            blocks_df["_c"].alias("_c"),
            blocks_df["_bi"].alias("_bi"),
            blocks_df["_bj"].alias("_bj"),
        )

    left = _side(left_rows, m_left, "_bi")
    right = _side(right_rows, m_right, "_bj")
    thr = float(threshold)
    sym = bool(symmetric)

    def _block_pairs(key, lpdf, rpdf):
        import pandas as pd

        cols = {out_a: [], out_b: [], "cos_sim": []}
        if len(lpdf) and len(rpdf):
            A = np.stack([np.asarray(x) for x in lpdf["_nv"]])
            B = np.stack([np.asarray(x) for x in rpdf["_nv"]])
            Sm = np.round(A @ B.T, 4)
            ia, jb = np.nonzero(Sm >= thr)
            ids_a = lpdf["_pk"].values[ia]
            ids_b = rpdf["_pk"].values[jb]
            sims = Sm[ia, jb]
            if sym and key[1] == key[2]:  # same chunk: upper triangle only
                keep = ids_a < ids_b
                ids_a, ids_b, sims = ids_a[keep], ids_b[keep], sims[keep]
            elif sym:  # cross chunk: orient each (unique) pair
                lo = np.where(ids_a < ids_b, ids_a, ids_b)
                hi = np.where(ids_a < ids_b, ids_b, ids_a)
                ids_a, ids_b = lo, hi
            cols = {out_a: ids_a, out_b: ids_b, "cos_sim": sims}
        return pd.DataFrame(cols)

    out = (
        left.groupBy("_c", "_bi", "_bj")
        .cogroup(right.groupBy("_c", "_bi", "_bj"))
        .applyInPandas(_block_pairs, schema)
    )
    # materialize while the caller's assignment tables are still cached
    return out.localCheckpoint(eager=True)


def semantic_dedup(
    df: DataFrame,
    vector_col: str = "embedding",
    pk: str = "vec_id",
    threshold: float = 0.9,
    keep_by: str | None = None,
    keep: str = "max",
    **kw,
) -> DataFrame:
    """SemDeDup survivors: :func:`semantic_dup_pairs` →
    :func:`deduplicate` (connected components over the pair graph, min-pk
    survivor per group, one anti-join).

    ``keep_by``/``keep`` (round 13, verdict r12 #5): quality-aware
    survivor selection, same semantics as ``deduplicate(keep_by=)`` —
    semantic near-dups are exactly where the copies DIFFER (truncation,
    boilerplate, resolution), so keep the best-scoring member of each
    family instead of whichever id is smallest."""
    pairs = semantic_dup_pairs(
        df, vector_col=vector_col, pk=pk, threshold=threshold, **kw
    )
    return deduplicate(df, pairs, pk=pk, keep_by=keep_by, keep=keep)


def embedding_dedup(
    df: DataFrame,
    vector_col: str = "embedding",
    pk: str = "vec_id",
    threshold: float = 0.99,
    keep_by: str | None = None,
    keep: str = "max",
    **kw,
) -> DataFrame:
    """Embedding-cosine near-dup survivors (round 13):
    :func:`embedding_dup_pairs` (sign-LSH banded candidates, exact
    cosine verify) → :func:`deduplicate` — the drop-step facade the
    minhash/simhash/semantic families already have, with the same
    quality-aware ``keep_by``/``keep`` survivor policy."""
    pairs = embedding_dup_pairs(
        df, vector_col=vector_col, pk=pk, threshold=threshold, **kw
    )
    return deduplicate(df, pairs, pk=pk, keep_by=keep_by, keep=keep)


# ---------------------------------------------------------------------------
# cross-document LINE dedup (C4 / RefinedWeb boilerplate removal)
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    pk: str = "doc_id",
    min_docs: int = 3,
    max_broadcast_rows: int = BROADCAST_HOT_MAX_ROWS,
    sep: str = "\n",
    normalize: str | None = None,
) -> DataFrame:
    """Remove BOILERPLATE LINES — lines occurring in ≥ ``min_docs``
    distinct documents (C4 removed any line repeated ≥ 3×; RefinedWeb
    and CCNet run the same pass) — and rebuild each document's text.

    ``sep`` picks the unit: the default ``"\\n"`` is C4's line; pass
    ``"\\n\\n"`` for RefinedWeb-style PARAGRAPH removal.  ``sep`` is a
    FIXED STRING, not a regex (ADVICE r8): it is regex-escaped for the
    split and used verbatim for the rejoin, so regex-significant
    separators like ``". "`` or ``"|"`` split literally and the
    split→rejoin round-trip stays byte-lossless for untouched
    documents.  The output counter column is named ``n_lines_removed``
    either way.

    ``normalize="ccnet"`` matches lines by their CCNet-normalized hash
    (case/accent/digit/punct folding — the paper's paragraph-dedup
    normalization) while the REBUILT text keeps each surviving line's
    original bytes, exactly like cc_net: normalization is for matching
    only, never applied to the output.

    Output = the input columns with ``text_col`` rebuilt (surviving
    lines re-joined with ``\\n``) plus ``n_lines_removed``.  Lines that
    are empty after trimming never count as boilerplate and are always
    kept (removing them would silently reflow paragraphs).

    Plan shape at 100 TB: the hotness pass explodes to slim ``(pk,
    line_hash)`` pairs — line TEXT never shuffles — and aggregates
    distinct-doc counts with map-side combine; the hot-hash table is
    SIZE-GATED (usually small — boilerplate is the repeated minority —
    so it broadcasts; past ``max_broadcast_rows`` the semi-join routes
    through a plain shuffle instead of OOMing the driver); each
    document collects just the POSITIONS of its hot lines (usually
    none), and the rebuild is a map-only index-aware ``filter`` over
    the original line array.  Hash collisions: the 31-poly/1e9+7 hash
    is the repo-standard portable hash; a collision could only remove
    an innocent line that hash-equals a boilerplate line (~n_hot/1e9
    per distinct line).
    """
    import re as _re

    from adampro_spark.pipeline.text import char_codes, poly_hash

    norm = _resolve_normalize(normalize)
    lines = F.split(F.col(text_col), _re.escape(str(sep)))
    # a line empty after trimming never counts as boilerplate (removing
    # it would silently reflow paragraphs); under normalization the same
    # guard applies to the NORMALIZED form — otherwise every punct-only
    # separator line ('***', '---', '...') normalizes to '' and they all
    # hash-equal into one phantom boilerplate group (review r11)
    candidate = lambda ln: (  # noqa: E731
        (F.length(F.trim(ln)) > 0)
        if normalize is None
        else ((F.length(F.trim(ln)) > 0) & (F.length(F.trim(norm(ln))) > 0))
    )
    lh = df.select(
        F.col(pk).alias("_pk"),
        F.posexplode(
            F.transform(lines, lambda ln: poly_hash(char_codes(norm(ln))))
        ).alias("_pos", "_lh"),
        lines.alias("_ls"),
    ).withColumn("_keepable", candidate(F.col("_ls")[F.col("_pos")]))
    # persist the SLIM (pk, pos, line_hash, keepable) explode across its
    # two consumers (the hotness aggregate and the semi-join back): both
    # re-split and re-hash the whole corpus otherwise — the
    # _cap_ref_buckets rule one level up.  The _ls line array is
    # projected away before the cache, so the cached rows are four slim
    # scalars per line; released once the per-doc drop list is an eager
    # checkpoint.  Interleaved A/B (5× each arm, sf0.1):
    # dedup_lines median 1.86 → 1.51 s, dedup_paragraphs 1.54 → 1.24 s.
    with CacheScope() as scope:
        lh = scope.keep(lh.select("_pk", "_pos", "_lh", "_keepable"))
        # hotness over distinct (doc, hash) of non-empty lines only; the
        # hot set is kept across (gate count, semi-join) and the small
        # per-doc drop list materializes eagerly — the operator is eager
        # from here on, like tfidf_keywords' fit boundary
        hot = scope.keep(
            lh.filter(F.col("_keepable"))
            .select("_pk", "_lh")
            .distinct()
            .groupBy("_lh")
            .agg(F.count(F.lit(1)).alias("_nd"))
            .filter(F.col("_nd") >= int(min_docs))
            .select("_lh")
        )
        drops = (
            _gated_semi_join(lh, hot, "_lh", max_broadcast_rows)
            .filter(F.col("_keepable"))
            .groupBy("_pk")
            .agg(F.collect_set("_pos").alias("_drops"))
            .localCheckpoint(eager=True)
        )
    joined = df.join(
        drops.select(F.col("_pk").alias(pk), "_drops"), pk, "left"
    )
    dr = F.coalesce(F.col("_drops"), F.array().cast("array<int>"))
    kept = F.filter(lines, lambda ln, i: ~F.array_contains(dr, i))
    rebuilt = F.when(
        F.col(text_col).isNotNull(), F.concat_ws(str(sep), kept)
    )  # NULL text stays NULL (concat_ws would coerce it to "")
    return (
        joined.withColumn("n_lines_removed", F.size(dr).cast("long"))
        .withColumn(text_col, rebuilt)
        .drop("_drops")
    )


# ---------------------------------------------------------------------------
# exact SUBSTRING (span) dedup — Lee et al. 2022 / RefinedWeb: cut token
# spans covered by word n-grams shared across documents
# ---------------------------------------------------------------------------


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    pk: str = "doc_id",
    n: int = 50,
    min_docs: int = 2,
    max_broadcast_rows: int = BROADCAST_HOT_MAX_ROWS,
) -> DataFrame:
    """Remove every token covered by a word ``n``-gram occurring in
    ≥ ``min_docs`` distinct documents — the exact-substring dedup pass
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", 50-token threshold) re-expressed over hashes
    instead of a suffix array: a span is duplicated across documents
    iff each of its n-token windows is, so shared-window coverage cuts
    exactly the maximal shared spans (plus the (n−1)-token shoulders of
    partial windows — the standard practical relaxation; a suffix
    array's exact boundaries don't fit a shuffle-based engine, full
    coverage of every ≥ n-token duplicate is guaranteed).

    Documents with nothing to cut keep their text BYTE-IDENTICAL; cut
    documents are rebuilt from the surviving CASE-PRESERVED whitespace
    tokens re-joined with single spaces (matching is case-insensitive —
    the dedup normalization — but the cut never rewrites what survives
    beyond whitespace).  Output adds ``n_tokens_removed``.  Docs shorter
    than ``n`` tokens have no windows and are never cut.

    Plan shape (the line_dedup recipe one level down): positioned gram
    hashes explode to slim ``(pk, start, gram)`` rows — text never
    shuffles; the hot-gram set (distinct-doc count ≥ min_docs) is
    SIZE-GATED before joining back: at crawl scale with min_docs=2 the
    duplicated-gram set is BILLIONS of rows (Lee et al.'s core
    finding), so past ``max_broadcast_rows`` the semi-join routes
    through a plain shuffle instead of a driver-OOMing broadcast;
    per-doc hot START positions collect into one small array; the cut
    is a map-only index-aware filter with an ``exists`` over that
    array.
    """
    from adampro_spark.pipeline.mix import _token_hashes

    if n < 2:
        raise ValueError("n must be >= 2")
    slim = df.select(F.col(pk).alias("_pk"), _token_hashes(text_col).alias("_th"))
    k = F.size(F.col("_th"))
    grams = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.aggregate(
                F.slice(F.col("_th"), i, n),
                F.lit(0).cast("long"),
                lambda acc, h: (acc * 31 + h) % F.lit(HASH_P),
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # persist the slim (pk, start, gram) explode across its two
    # consumers (hot-gram aggregate + semi-join back): the positioned
    # gram fold is the operator's dominant kernel — O(k·n) interpreted
    # HOF work per document — and without the barrier both passes
    # recompute it from the raw text (_cap_ref_buckets' rule).
    # Released once the per-doc starts are an eager checkpoint.
    # Interleaved A/B (6× each arm, sf0.1): dedup_spans median
    # 3.00 → 2.55 s.  At corpus scale the cached rows are three longs
    # per token window — the Lee et al. materialization tradeoff, far
    # smaller than their suffix array.
    with CacheScope() as scope:
        pos_grams = scope.keep(
            slim.select("_pk", F.posexplode(grams).alias("_s", "_g"))
        )  # _s: 0-based window start
        # hot set kept across (gate count, semi-join); eager per-doc starts
        hot = scope.keep(
            pos_grams.select("_pk", "_g")
            .distinct()
            .groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_nd"))
            .filter(F.col("_nd") >= int(min_docs))
            .select("_g")
        )
        starts = (
            _gated_semi_join(pos_grams, hot, "_g", max_broadcast_rows)
            .groupBy("_pk")
            .agg(F.collect_set("_s").alias("_starts"))
            .localCheckpoint(eager=True)
        )
    joined = df.join(
        starts.select(F.col("_pk").alias(pk), "_starts"), pk, "left"
    )
    # rebuild from CASE-PRESERVING whitespace tokens: matching hashes
    # are computed on the lowercased tokens (dedup normalization), but
    # positions align 1:1 with the raw split, so the cut must not
    # lowercase the surviving text (review finding: an earlier form
    # rebuilt via tokens_expr and case-folded every cut document)
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0
    )
    st = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    kept = F.filter(
        toks,
        lambda _t, i: ~F.exists(st, lambda s: (s <= i) & (i <= s + (n - 1))),
    )
    rebuilt = F.when(F.size(st) == 0, F.col(text_col)).otherwise(
        F.concat_ws(" ", kept)
    )
    return (
        joined.withColumn(
            "n_tokens_removed", (F.size(toks) - F.size(kept)).cast("long")
        )
        .withColumn(text_col, rebuilt)
        .drop("_starts")
    )


# ---------------------------------------------------------------------------
# asymmetric dedup — new batch vs an existing reference corpus
# ---------------------------------------------------------------------------


def _cap_ref_buckets(
    rows: DataFrame, bkeys: list, pk_col: str, max_bucket_size: int
) -> DataFrame:
    """Cap reference buckets in two stages (verdict-r7 #4): a bare
    row_number window funnels a WHOLE hot bucket through one task before
    filtering (spill + straggler on a 50%-hot bucket).  Stage 1
    aggregates bucket sizes (slim, map-side combined) and keeps only the
    OVERSIZED keys — usually an empty/tiny table, so the left join back
    is AQE-broadcast (the r9 A/B: joining the FULL sizes table instead
    cost ~15% on the bench row; an eager emptiness probe cost an extra
    job and measured slightly worse than this fully lazy shape).  Cold
    buckets ride the join unmodified (NULL ``_bn`` skips the thinning);
    hot buckets hash-thin to ~2× the cap before the row_number cap, so
    every window task ingests O(cap) rows, never O(bucket).  Results
    are identical wherever the cap doesn't fire (the oracle's regime).

    ``rows`` should be a SLIM (pk, bucket-key) frame — callers persist
    the slim explode rather than letting both the sizes pass and the
    candidate join re-read a fat signature cache (measured ~1 s of 3.3
    at sf0.1)."""
    from pyspark.sql import Window

    hot_keys = (
        rows.groupBy(*bkeys)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > int(max_bucket_size))
    )
    thinned = (
        rows.join(hot_keys, bkeys, "left")
        .filter(
            F.col("_bn").isNull()
            | (
                F.pmod(
                    F.xxhash64(pk_col),
                    F.ceil(F.col("_bn") / (2 * int(max_bucket_size))).cast(
                        "long"
                    ),
                )
                == 0
            )
        )
        .drop("_bn")
    )
    w = Window.partitionBy(*bkeys).orderBy(pk_col)
    return (
        thinned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(max_bucket_size))
        .drop("_rn")
    )


def dedup_against(
    new: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    pk: str = "doc_id",
    method: str = "minhash",
    threshold: float = 0.7,
    shingle_n: int = 8,
    bands: "int | str" = 32,
    rows: int = 4,
    seed: int = 42,
    max_bucket_size: int = 1024,
    max_hamming: int = 3,
    return_matches: bool = False,
) -> DataFrame:
    """Drop NEW documents duplicating the REFERENCE corpus — the
    continuous-ingestion pattern (each incremental crawl dedups against
    everything already accepted; :func:`minhash_dup_pairs` answers the
    symmetric within-corpus question, this answers the asymmetric one
    without ever self-joining the reference).

    ``method``: ``"exact"`` (whitespace-normalized text hash anti-join —
    one broadcast-or-shuffle join, nothing else), ``"minhash"``
    (exact shingle-Jaccard ≥ ``threshold`` against ANY reference doc,
    banded candidates exactly like the symmetric path — both corpora
    run the one-pass signature UDF, candidates come from a new-band ×
    ref-band equi-join), or ``"simhash"`` (Manku multi-block key
    equi-join — :func:`_simhash_block_keys` — cross-corpus only, verify
    exact popcount ≤ ``max_hamming`` — token-order-tolerant near-dup
    without shingle sets; matches carry ``hamming`` instead of
    ``jaccard``).  Reference band buckets larger than
    ``max_bucket_size`` are hash-thinned to ~2× the cap and then capped
    to the ``max_bucket_size`` lowest surviving pks (the hot-bucket
    argument: an oversized bucket is near-identical boilerplate, so any
    new doc matching the bucket matches its retained members; the
    two-stage form bounds every task at O(cap) — buckets at or under
    the cap are untouched).  For simhash the effective cap additionally
    scales with the expected bucket size ``n_ref/2^key_bits`` (ADVICE
    r8: a fixed cap would truncate EVERY fingerprint bucket once the
    reference outgrows ``2^key_bits·cap``, silently breaking the
    pigeonhole guarantee), so only ≥8×-expected hot spots are thinned.

    Returns the surviving new rows; with ``return_matches`` instead
    returns ``(new_pk, ref_pk, jaccard)`` match pairs (``jaccard`` is
    1.0 for exact matches).  Reruns are stable: survivors ∪ dropped =
    new, and dedup_against(survivors, ref) drops nothing.
    """
    if method == "exact":
        # COMPOSITE anti-join key (ADVICE r7): a single ~2^30 poly hash
        # false-drops ~1% of unique new docs at a 10M-doc reference and
        # ~10% at 100M (birthday collisions on the anti-join key).  Keying
        # on (31-poly mod 1e9+7, 37-poly mod 1e9+33, token count) makes
        # independent collisions multiply: P(false drop per pair) ~1e-18,
        # negligible at any documented ingestion scale — and every key
        # component stays DuckDB-mirrorable (no xxhash64).
        norm = F.concat_ws(" ", tokens_expr(text_col))
        codes = char_codes(norm)
        h1 = poly_hash(codes)
        h2 = F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 37 + x) % F.lit(1_000_000_033),
        )
        nt = F.size(tokens_expr(text_col)).cast("long")
        keys = ["_h1", "_h2", "_nt"]
        ref_h = ref.select(
            h1.alias("_h1"), h2.alias("_h2"), nt.alias("_nt")
        ).distinct()
        tagged = (
            new.withColumn("_h1", h1).withColumn("_h2", h2).withColumn("_nt", nt)
        )
        if return_matches:
            ref_tab = ref.select(
                F.col(pk).alias("ref_pk"),
                h1.alias("_h1"), h2.alias("_h2"), nt.alias("_nt"),
            )
            return (
                tagged.select(F.col(pk).alias("new_pk"), *keys)
                .join(ref_tab, keys)
                .select("new_pk", "ref_pk", F.lit(1.0).alias("jaccard"))
            )
        return tagged.join(ref_h, keys, "left_anti").drop(*keys)
    if method == "simhash":
        return fingerprint_against(
            new.withColumn("_ap_fp", simhash_expr(text_col, SIMHASH_BITS)),
            ref.withColumn("_ap_fp", simhash_expr(text_col, SIMHASH_BITS)),
            "_ap_fp",
            pk=pk,
            max_hamming=max_hamming,
            nbits=SIMHASH_BITS,
            max_bucket_size=max_bucket_size,
            return_matches=return_matches,
            _drop_fp=True,
        )
    if method != "minhash":
        raise ValueError(f"unknown dedup_against method {method!r}")
    return _minhash_against(
        new, ref, text_col, pk, threshold, shingle_n, bands, rows, seed,
        max_bucket_size, return_matches,
    )


def fingerprint_against(
    new: DataFrame,
    ref: DataFrame,
    fp_col: str,
    pk: str = "doc_id",
    max_hamming: int = 3,
    nbits: int = SIMHASH_BITS,
    max_bucket_size: int = 1024,
    return_matches: bool = False,
    _drop_fp: bool = False,
) -> DataFrame:
    """Asymmetric Hamming dedup over ANY precomputed NONNEGATIVE integer
    fingerprint columns (round 13): drop NEW rows within ``max_hamming``
    of any REFERENCE row — the continuous-ingestion pattern for the
    fingerprint families (text SimHash via :func:`dedup_against`
    ``method="simhash"``, which delegates here; image
    :func:`~adampro_spark.pipeline.multimodal.image_dhash` / audio /
    video hashes with ``nbits=63``).  Manku multi-block key equi-join
    (cross-corpus only — the reference never self-joins), exact
    popcount verify, and the expected-bucket-scaled reference cap
    (ADVICE r8).  ``return_matches=True`` yields
    ``(new_pk, ref_pk, hamming)`` instead of the surviving rows."""
    import math as _math

    key_arr, _, key_bits = _simhash_block_keys(nbits, max_hamming)
    # NULL fingerprints drop (undecodable-blob convention) and negative
    # ones raise — same front door as fingerprint_pairs (round 14)
    with CacheScope() as scope:
        ns, rs = (
            scope.keep(
                _spread(d)
                .filter(F.col(fp_col).isNotNull())
                .select(F.col(pk).alias("_pk"), _nonneg_fp_guard(fp_col).alias("_s"))
            )
            for d in (new, ref)
        )
        # Scale the ref-bucket cap with the EXPECTED bucket size
        # (ADVICE r8): fingerprint-key buckets hold ~n_ref/2^key_bits
        # rows by construction, so a fixed cap silently truncates
        # EVERY bucket once the reference outgrows 2^key_bits·cap —
        # collapsing the pigeonhole guarantee into systematic false
        # negatives.  Capping at max(cap, 8× expected) only ever
        # truncates buckets ≥8× their expected size — genuinely hot
        # boilerplate concentrations, the case the cap is for.  The
        # count is one cheap job on the persisted fingerprints.
        n_ref = rs.count()
        cap_eff = max(
            int(max_bucket_size),
            int(_math.ceil(8.0 * n_ref / float(1 << key_bits))),
        )
        nch = ns.select(
            F.col("_pk").alias("_npk"),
            F.posexplode(key_arr).alias("_ci", "_cv"),
        )
        rch = _cap_ref_buckets(
            rs.select(
                F.col("_pk").alias("_rpk"),
                F.posexplode(key_arr).alias("_ci", "_cv"),
            ),
            ["_ci", "_cv"], "_rpk", cap_eff,
        )
        ham = F.bit_count(F.col("s_n").bitwiseXOR(F.col("s_r")))
        matches = (
            nch.join(rch, ["_ci", "_cv"])
            .select("_npk", "_rpk")
            .distinct()
            .join(ns.select(F.col("_pk").alias("_npk"),
                            F.col("_s").alias("s_n")), "_npk")
            .join(rs.select(F.col("_pk").alias("_rpk"),
                            F.col("_s").alias("s_r")), "_rpk")
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= int(max_hamming))
            .localCheckpoint(eager=True)
        )
    if return_matches:
        return matches.select(
            F.col("_npk").alias("new_pk"),
            F.col("_rpk").alias("ref_pk"),
            "hamming",
        )
    dropped = matches.select(F.col("_npk").alias(pk)).distinct()
    out = new.join(dropped, pk, "left_anti")
    return out.drop(fp_col) if _drop_fp else out


def _minhash_against(
    new: DataFrame,
    ref: DataFrame,
    text_col: str,
    pk: str,
    threshold: float,
    shingle_n: int,
    bands,
    rows: int,
    seed: int,
    max_bucket_size: int,
    return_matches: bool,
) -> DataFrame:
    """The minhash leg of :func:`dedup_against` (factored round 13)."""
    from pyspark.sql import Window

    if bands == "auto":
        bands, rows = lsh_params(float(threshold), num_perm=128)
    with CacheScope() as scope:
        nb = scope.keep(_minhash_base(new, text_col, pk, shingle_n, bands, rows, seed))
        rb = scope.keep(_minhash_base(ref, text_col, pk, shingle_n, bands, rows, seed))
        new_bands = nb.select(
            F.col("_pk").alias("_npk"),
            F.posexplode(F.col("_bands")).alias("_band_idx", "_band_hash"),
        )
        # SLIM band cache: the signature cache rows are fat (the shingle
        # sets ride them for verification), and both the hot-bucket probe
        # and the candidate join only need (pk, band) — re-reading the
        # fat cache twice cost ~1 s of the r9 A/B's 3.3 s; the slim
        # explode is a few MB and both passes read it instead
        raw_ref_bands = scope.keep(
            rb.select(
                F.col("_pk").alias("_rpk"),
                F.posexplode(F.col("_bands")).alias("_band_idx", "_band_hash"),
            )
        )
        ref_bands = _cap_ref_buckets(
            raw_ref_bands, ["_band_idx", "_band_hash"], "_rpk",
            max_bucket_size,
        )
        cand = (
            new_bands.join(ref_bands, ["_band_idx", "_band_hash"])
            .select("_npk", "_rpk")
            .distinct()
        )
        inter = F.size(F.array_intersect(F.col("sh_n"), F.col("sh_r")))
        union = F.size(F.col("sh_n")) + F.size(F.col("sh_r")) - inter
        matches = (
            cand.join(
                nb.select(F.col("_pk").alias("_npk"), F.col("_sh").alias("sh_n")),
                "_npk",
            )
            .join(
                rb.select(F.col("_pk").alias("_rpk"), F.col("_sh").alias("sh_r")),
                "_rpk",
            )
            .withColumn("jaccard", F.round(inter / union, 4))
            .filter(F.col("jaccard") >= threshold)
        )
        # materialize the (small) match set before the block releases
        # both signature caches
        matches = matches.localCheckpoint(eager=True)
    if return_matches:
        return matches.select(
            F.col("_npk").alias("new_pk"),
            F.col("_rpk").alias("ref_pk"),
            "jaccard",
        )
    dropped = matches.select(F.col("_npk").alias(pk)).distinct()
    return new.join(dropped, pk, "left_anti")


def semantic_dedup_against(
    new: DataFrame,
    ref: DataFrame,
    vector_col: str = "embedding",
    pk: str = "vec_id",
    threshold: float = 0.9,
    n_clusters: int | None = None,
    centroids: "DataFrame | np.ndarray | None" = None,
    sample_size: int = 20_000,
    seed: int = 42,
    max_cluster_rows: int = 50_000,
    return_matches: bool = False,
) -> DataFrame:
    """The embedding-space counterpart of :func:`dedup_against`: drop NEW
    rows whose cosine similarity to ANY reference row (within the same
    cluster) reaches ``threshold``.  Centroids fit on the REFERENCE
    corpus (or caller-provided), both sides assign through the shared
    argmax-cosine UDF, and candidates are cross-corpus only — the
    reference is never self-joined.  Cluster populations are hash-split
    into ≤ ``max_cluster_rows`` chunks per side and every (new-chunk ×
    ref-chunk) block is one bounded cogrouped matmul task.

    Returns surviving new rows, or ``(new_pk, ref_pk, cos_sim)`` match
    pairs with ``return_matches``.  SemDeDup's clustering caveat
    applies: a near-duplicate split across clusters is not reported.
    """
    from adampro_spark.pipeline.cluster import (
        assign_clusters_udf,
        fit_centroids,
        resolve_centroids,
    )

    if centroids is None:
        try:
            Cn = fit_centroids(
                ref, vector_col=vector_col, pk=pk, n_clusters=n_clusters,
                sample_size=sample_size, seed=seed,
            )
        except ValueError:  # unusable reference: nothing can match
            if return_matches:
                n_t = new.schema[pk].dataType.simpleString()
                r_t = ref.schema[pk].dataType.simpleString()
                return new.sparkSession.createDataFrame(
                    [], f"new_pk {n_t}, ref_pk {r_t}, cos_sim double"
                )
            return new
    else:
        Cn = resolve_centroids(centroids, vector_col)
    assign_udf = assign_clusters_udf(Cn)

    def _prep(df: DataFrame) -> DataFrame:
        v = F.col(vector_col).cast("array<double>")
        norm = F.sqrt(_dot(v, v))
        base = (
            df.filter(F.col(vector_col).isNotNull())
            .select(F.col(pk).alias("_pk"), v.alias("_v"), norm.alias("_n"))
            .filter(F.col("_n") > 1e-12)
        )
        nv = F.transform(F.col("_v"), lambda x: x / F.col("_n"))
        return scope.keep(
            _spread(
                base.select(
                    F.col("_pk"), nv.alias("_nv"),
                    assign_udf(F.col("_v")).alias("_c"),
                )
            )
        )

    with CacheScope() as scope:
        nrows = _prep(new)
        rrows = _prep(ref)
        # each side keeps ITS OWN pk type (review finding: typing ref_pk
        # with new's pk type silently coerced large reference keys)
        matches = _chunked_block_matches(
            nrows, rrows, threshold, max_cluster_rows, seed,
            out_a="new_pk", out_b="ref_pk",
            a_type=new.schema[pk].dataType.simpleString(),
            b_type=ref.schema[pk].dataType.simpleString(),
            symmetric=False,
        )
    if return_matches:
        return matches
    dropped = matches.select(F.col("new_pk").alias(pk)).distinct()
    return new.join(dropped, pk, "left_anti")
