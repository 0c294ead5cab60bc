"""Vector distance library — Catalyst-native column expressions.

Parity target: the 14 distance functions of the reference
(``query/distance/*.scala``, registry ``communication/rpc/MessageParser.scala:314-341``).
The reference computes them in row-at-a-time Scala UDFs
(``query/distance/Distance.scala:26-55``); here each distance is a pure
expression over ``array<double>`` built from higher-order functions
(``zip_with`` / ``aggregate`` / ``transform``), so the whole kNN scan stays
inside whole-stage codegen with no serialization boundary — the single
biggest throughput win over the reference at scale.

Each distance is rendered as Spark SQL text and handed to ONE ``F.expr``
call, so building it costs a constant number of JVM round trips whatever
the vector dimension: a query or weight vector becomes a single
``array(...)`` literal (:func:`sql_array`, bit-exact — see
:func:`sql_double`), a column name is quoted exactly as ``F.col`` parses
it (:func:`sql_ident`).  Building the same tree from ``F.lit`` per element
and lambda-built Columns cost a py4j round trip per element and per node.

Operands (:data:`VectorLike`): a ``str`` names an ``array<float|double>``
column, any other sequence is a literal vector.

Semantics preserved (see each function's docstring for the file:line cite):
  * storage is Float, math is Double (``Distance.scala:18-19``);
  * a NULL vector row yields ``Double.MaxValue`` rather than an error
    (``Distance.scala:26-38``);
  * weights multiply per-element terms; functions that ignore weights in the
    reference ignore them here too (cosine/correlation/jaccard/spannorm/
    haversine/kullbackleibler — the first five log a warning in the reference,
    KL's element() silently drops its weight argument);
  * zero-guards match (cosine 0-norm -> 0, chi² x+y<=0 -> 0, KL zero -> 0).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

DOUBLE_MAX = 1.7976931348623157e308

VectorLike = str | Sequence[float]


# ---------------------------------------------------------------------------
# SQL text rendering
# ---------------------------------------------------------------------------

def sql_double(x: float) -> str:
    """A DOUBLE literal that parses back to exactly ``float(x)``:
    ``repr`` is the shortest round-tripping decimal and Spark parses the
    ``D``-suffixed text with ``Double.parseDouble`` (correctly rounded),
    so ±0.0, subnormals and the extremes survive bit-for-bit; NaN/±inf
    have no literal syntax and go through ``CAST``."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"({x!r}D)" if math.copysign(1.0, x) < 0 else f"{x!r}D"


def sql_array(values: Sequence[float]) -> str:
    """``array<double>`` literal of ``values`` (see :func:`sql_double`)."""
    return f"CAST(array({', '.join(map(sql_double, values))}) AS ARRAY<DOUBLE>)"


def sql_int_array(values: Sequence[int]) -> str:
    """``array<int>`` literal of ``values``."""
    return f"CAST(array({', '.join(str(int(v)) for v in values)}) AS ARRAY<INT>)"


def sql_in(column: str, values: Sequence[int]) -> str:
    """``column IN (values)`` over integers; an empty list is ``FALSE``
    (what ``F.col(column).isin([])`` filters to)."""
    if not values:
        return "FALSE"
    return f"{sql_ident(column)} IN ({', '.join(str(int(v)) for v in values)})"


def _name_parts(name: str) -> list[str]:
    """Split a column name exactly as ``F.col`` does
    (``UnresolvedAttribute.parseAttributeName``): dots separate nested
    fields, a backticked part is taken literally with ```` `` ```` as an
    escaped backtick."""
    err = ValueError(f"syntax error in attribute name: {name!r}")
    parts: list[str] = []
    cur: list[str] = []
    in_tick = False
    i = 0
    while i < len(name):
        c = name[i]
        if in_tick:
            if c != "`":
                cur.append(c)
            elif i + 1 < len(name) and name[i + 1] == "`":
                cur.append("`")
                i += 1
            else:
                in_tick = False
                if i + 1 < len(name) and name[i + 1] != ".":
                    raise err
        elif c == "`":
            if cur:
                raise err
            in_tick = True
        elif c == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise err
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    if in_tick:
        raise err
    parts.append("".join(cur))
    return parts


def sql_ident(name: str) -> str:
    """SQL reference to column ``name`` resolving exactly like ``F.col(name)``."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in _name_parts(name))


def _vec(v: VectorLike) -> str:
    """Operand → ``array<double>`` SQL text (column reference or literal)."""
    if isinstance(v, str):
        return f"CAST({sql_ident(v)} AS ARRAY<DOUBLE>)"
    return sql_array(v)


# ---------------------------------------------------------------------------
# shared fragments (SQL text over array<double> operands)
# ---------------------------------------------------------------------------

def _sum(arr: str) -> str:
    """Sum an array<double> (map-side, per-row, codegen'd).

    ``coalesce(x, 0)`` absorbs the nulls ``zip_with`` pads in when the two
    vectors differ in length, matching the reference's loop over the common
    prefix (ElementwiseSummedDistanceFunction.scala:40-44) instead of
    propagating NULL distances that would sort ahead of real ones.
    """
    return f"aggregate({arr}, 0.0D, (acc, x) -> acc + coalesce(x, 0.0D))"


def _zip(a: str, b: str, body: str) -> str:
    """``zip_with(a, b, (x, y) -> body)``."""
    return f"zip_with({a}, {b}, (x, y) -> {body})"


def _weighted(terms: str, w: str | None) -> str:
    return terms if w is None else f"zip_with({terms}, {w}, (t, w) -> t * w)"


def _null_guard(v: str, expr: str) -> str:
    """NULL vector -> Double.MaxValue, never an error (Distance.scala:26-38)."""
    return f"CASE WHEN {v} IS NULL THEN {sql_double(DOUBLE_MAX)} ELSE {expr} END"


def _dot(a: str, b: str) -> str:
    return _sum(_zip(a, b, "x * y"))


_EPS = sql_double(1e-5)


# ---------------------------------------------------------------------------
# distance SQL: (vec, query, weights) operand texts -> distance text
# ---------------------------------------------------------------------------

def _minkowski_sql(v: str, q: str, w: str | None, p: float) -> str:
    if abs(p - 1.0) < 1e-5:
        terms, root = _zip(v, q, "abs(x - y)"), "{}"
    elif abs(p - 2.0) < 1e-5:
        terms, root = _zip(v, q, "(x - y) * (x - y)"), "sqrt({})"
    else:
        terms = _zip(v, q, f"pow(abs(x - y), {sql_double(p)})")
        root = f"pow({{}}, {sql_double(1.0 / float(p))})"
    return _null_guard(v, root.format(_sum(_weighted(terms, w))))


def _squaredeuclidean_sql(v: str, q: str, w: str | None) -> str:
    return _null_guard(v, _sum(_weighted(_zip(v, q, "(x - y) * (x - y)"), w)))


def _chebyshev_sql(v: str, q: str, w: str | None) -> str:
    diffs = _weighted(_zip(v, q, "x - y"), w)
    return _null_guard(v, f"array_max(transform({diffs}, d -> abs(d)))")


def _cosine_sql(v: str, q: str, w: str | None = None) -> str:
    nv, nq = f"sqrt({_dot(v, v)})", f"sqrt({_dot(q, q)})"
    return _null_guard(
        v,
        f"CASE WHEN ({nv} < {_EPS}) OR ({nq} < {_EPS}) THEN 0.0D "
        f"ELSE 1.0D - {_dot(v, q)} / ({nv} * {nq}) END",
    )


def _centered(a: str) -> str:
    """``a - mean(a)`` elementwise.  The mean rides in as a second array
    so no column reference sits inside a lambda body, where a column
    named like the lambda variable would be captured by it; it is
    evaluated once per row, so an empty array must not divide by zero."""
    mean = f"try_divide({_sum(a)}, CAST(size({a}) AS DOUBLE))"
    return f"zip_with({a}, array_repeat({mean}, size({a})), (x, m) -> x - m)"


def _correlation_sql(v: str, q: str, w: str | None) -> str:
    return _null_guard(v, _cosine_sql(_centered(v), _centered(q)))


def _chisquared_sql(v: str, q: str, w: str | None) -> str:
    terms = _zip(
        v, q, "CASE WHEN x + y > 0.0D THEN (x - y) * (x - y) / (x + y) ELSE 0.0D END"
    )
    return _null_guard(v, _sum(_weighted(terms, w)))


def _hamming_sql(v: str, q: str, w: str | None) -> str:
    terms = _zip(v, q, f"CASE WHEN abs(x - y) > {_EPS} THEN 1.0D ELSE 0.0D END")
    return _null_guard(v, _sum(_weighted(terms, w)))


def _jaccard_sql(v: str, q: str, w: str | None) -> str:
    smin = _sum(_zip(v, q, "least(x, y)"))
    smax = _sum(_zip(v, q, "greatest(x, y)"))
    # sum(max) == 0 guard: Spark 4's default ANSI mode turns the division
    # into DIVIDE_BY_ZERO and aborts the scan; define the distance as 0
    # there (identical all-zero overlap), the oracle mirror carries the
    # same guard
    return _null_guard(
        v, f"CASE WHEN {smax} = 0.0D THEN 0.0D ELSE 1.0D - {smin} / {smax} END"
    )


def _kullbackleibler_sql(v: str, q: str, w: str | None) -> str:
    terms = _zip(
        q, v,
        f"CASE WHEN (abs(x) < {_EPS}) OR (abs(y) < {_EPS}) THEN 0.0D "
        "ELSE x * ln(x / y) END",
    )
    return _null_guard(v, _sum(terms))


def _spannorm_sql(v: str, q: str, w: str | None) -> str:
    diffs = _zip(v, q, "x - y")
    return _null_guard(v, f"array_max({diffs}) - array_min({diffs})")


def _modulo_sql(v: str, q: str, w: str | None) -> str:
    # zero-divisor guard: ANSI mode aborts with REMAINDER_BY_ZERO on any
    # zero query element (the reference's Java double % 0 NaNs instead)
    # — a zero divisor contributes 0
    terms = _zip(v, q, "CASE WHEN y = 0.0D THEN 0.0D ELSE x % y END")
    return _null_guard(v, _sum(_weighted(terms, w)))


_EARTH_RADIUS = 6371000.0


def _haversine_sql(v: str, q: str, w: str | None) -> str:
    def lat(a: str) -> str:
        return f"radians(greatest(-90.0D, least(90.0D, {a}[0])))"

    def lng(a: str) -> str:
        m = f"(((({a}[1] % 360.0D) + 360.0D) % 360.0D))"
        return f"radians(CASE WHEN {m} < 180.0D THEN {m} ELSE {m} - 360.0D END)"

    lat1, lng1, lat2, lng2 = lat(v), lng(v), lat(q), lng(q)
    dphi, dlmb = f"({lat2} - {lat1})", f"({lng2} - {lng1})"
    a = (
        f"(sin({dphi} / 2.0D) * sin({dphi} / 2.0D)"
        f" + cos({lat1}) * cos({lat2}) * sin({dlmb} / 2.0D) * sin({dlmb} / 2.0D))"
    )
    dist = f"{sql_double(2.0 * _EARTH_RADIUS)} * atan2(sqrt({a}), sqrt(1.0D - {a}))"
    return _null_guard(
        v,
        f"CASE WHEN (size({v}) < 2) OR (size({q}) < 2) "
        f"THEN {sql_double(math.inf)} ELSE {dist} END",
    )


def _expr(sql: Callable[..., str], vec: VectorLike, query: VectorLike,
          weights: VectorLike | None, *extra: float) -> Column:
    w = None if weights is None else _vec(weights)
    return F.expr(sql(_vec(vec), _vec(query), w, *extra))


# ---------------------------------------------------------------------------
# Norm-based family (NormBasedDistance.scala)
# ---------------------------------------------------------------------------

def minkowski(
    vec: VectorLike, query: VectorLike, p: float, weights: VectorLike | None = None
) -> Column:
    """(sum w_i * |x_i - q_i|^p)^(1/p) — MinkowskiDistance (NormBasedDistance.scala:26-30)."""
    return _expr(_minkowski_sql, vec, query, weights, float(p))


def manhattan(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """sum w*|x-q| (NormBasedDistance.scala:35-37)."""
    return minkowski(vec, query, 1.0, weights)


def euclidean(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """sqrt(sum w*(x-q)^2) (NormBasedDistance.scala:42-47)."""
    return minkowski(vec, query, 2.0, weights)


def squaredeuclidean(
    vec: VectorLike, query: VectorLike, weights: VectorLike | None = None
) -> Column:
    """sum w*(x-q)^2, no root (NormBasedDistance.scala:52-58)."""
    return _expr(_squaredeuclidean_sql, vec, query, weights)


def chebyshev(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """max |w*(x-q)| (NormBasedDistance.scala:63-71; weights multiply before abs)."""
    return _expr(_chebyshev_sql, vec, query, weights)


# ---------------------------------------------------------------------------
# Angular / statistical family
# ---------------------------------------------------------------------------

def cosine(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """1 - x.q/(|x||q|); any zero-norm side -> 0 (CosineDistance.scala:16-29).

    Weights ignored, as in the reference.
    """
    return _expr(_cosine_sql, vec, query, None)


def correlation(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """cosine(x - mean(x), q - mean(q)) (CorrelationDistance.scala:16-24). Weights ignored."""
    return _expr(_correlation_sql, vec, query, None)


def chisquared(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """sum w*(x-q)^2/(x+q) where x+q>0 else 0 (ChiSquaredDistance.scala)."""
    return _expr(_chisquared_sql, vec, query, weights)


def hamming(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """sum w*[|x-q| > 1e-5] (HammingDistance.scala)."""
    return _expr(_hamming_sql, vec, query, weights)


def jaccard(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """1 - sum(min)/sum(max) (JaccardDistance.scala:17-29). Weights ignored."""
    return _expr(_jaccard_sql, vec, query, None)


def kullbackleibler(
    vec: VectorLike, query: VectorLike, weights: VectorLike | None = None
) -> Column:
    """sum x*log(x/q), zero-guarded per element (KullbackLeiblerDivergence.scala).

    NB the reference sums element(v1_q, v2) with v1_q = query, v2 = row vector,
    i.e. the divergence is computed FROM the query TO the row: q*log(q/x).
    Weights are IGNORED: the reference's ``element(v1, v2, w)`` override drops
    ``w`` entirely (KullbackLeiblerDivergence.scala:15-21).
    """
    return _expr(_kullbackleibler_sql, vec, query, None)


def spannorm(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """max(x-q) - min(x-q) (SpanNormDistance.scala:16-23). Weights ignored."""
    return _expr(_spannorm_sql, vec, query, None)


def modulo(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """sum w*(x mod q_elem) with query element as divisor base (ModuloDistance.scala:
    element(v1_q, v2, w) = w * (v2 % v1_q) where v1_q is the query element)."""
    return _expr(_modulo_sql, vec, query, weights)


def haversine(vec: VectorLike, query: VectorLike, weights: VectorLike | None = None) -> Column:
    """Great-circle metres between (lat,lng) in the first two dims
    (HaversineDistance.scala:22-66): clamp lat to [-90,90], normalize lng to
    [-180,180), spherical earth R=6371000.  <2 dims -> +Inf.  Weights ignored.
    """
    return _expr(_haversine_sql, vec, query, None)


# ---------------------------------------------------------------------------
# Registry — mirrors the gRPC DistanceType registry (MessageParser.scala:314-341)
# ---------------------------------------------------------------------------

DISTANCES: dict[str, Callable[..., Column]] = {
    "manhattan": manhattan,
    "euclidean": euclidean,
    "squaredeuclidean": squaredeuclidean,
    "chebyshev": chebyshev,
    "cosine": cosine,
    "correlation": correlation,
    "chisquared": chisquared,
    "hamming": hamming,
    "jaccard": jaccard,
    "kullbackleibler": kullbackleibler,
    "spannorm": spannorm,
    "modulo": modulo,
    "haversine": haversine,
}


def distance(
    name: str,
    vec: VectorLike,
    query: VectorLike,
    weights: VectorLike | None = None,
    p: float | None = None,
) -> Column:
    """Look up a distance by name (``minkowski`` additionally takes ``p``)."""
    if name == "minkowski":
        if p is None:
            raise ValueError("minkowski distance requires p")
        return minkowski(vec, query, p, weights)
    fn = DISTANCES.get(name)
    if fn is None:
        raise ValueError(f"unknown distance {name!r}; known: {sorted(DISTANCES)}")
    return fn(vec, query, weights)
