"""Vector expression library over ``array<float>`` embedding columns.

Dot products / norms / cosine are sequential left folds
(``F.aggregate``) over double-cast elements — deterministic IEEE
evaluation order, so the same vectors give bit-identical results on
any cluster layout (and match a single-threaded oracle doing the same
fold). All codegen'd JVM expressions; no UDF, no Arrow hop.

For very wide vectors (≥1k dims) a vectorized pandas_udf with numpy
becomes competitive; at the 64-dim testdata scale the fold wins (no
serialization) — see operators/similarity.py for the scale notes.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Literal vectors as SQL text (driver-side model state → one JVM call)
# ---------------------------------------------------------------------------


def sql_literal(x: float | int) -> str:
    """SQL text of one number, typed as ``F.lit(x)`` types it.

    A Python ``int`` stays an integer literal (INT, or BIGINT past 32
    bits); anything else is a DOUBLE written as ``repr(float(x)) + "D"``
    — the shortest string that round-trips, which Spark's parser reads
    back with ``Double.parseDouble``, so the literal is bit-identical
    to ``F.lit(float(x))`` (``-0.0`` and subnormals included).
    Non-finite values have no SQL literal and raise ``ValueError``."""
    if isinstance(x, int):
        return str(x)
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"non-finite value has no SQL literal: {v!r}")
    return repr(v) + "D"


def lit_array_sql(values: Iterable[float | int]) -> str:
    """``array(...)`` SQL text of :func:`sql_literal` elements."""
    return f"array({', '.join(sql_literal(v) for v in values)})"


def lit_array(values: Iterable[float | int]) -> Column:
    """Literal array column, equal to ``F.array(*map(F.lit, values))``
    but built in ONE Py4J call instead of two per element — the
    driver-side codebooks, centroids and hyperplanes enter plans as
    these (a 16x8 codebook was ~2.7k round trips element-wise)."""
    return F.expr(lit_array_sql(values))


def to_double(vec: Column | str) -> Column:
    return F.transform(_col(vec), lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    prods = F.zip_with(to_double(a), to_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either norm is 0 (ANSI-safe)."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def cosine_rounded(a: Column | str, b: Column | str, digits: int = 6) -> Column:
    """Cosine quantized for hash-stable comparison across engines.

    The fold order is pinned, but the *oracle* engine's fold must match
    bit-for-bit too; rounding to 1e-6 collapses any residual last-ulp
    difference while keeping full ranking power."""
    return F.round(cosine(a, b), digits)


def dot_double(a: Column | str, b: Column | str) -> Column:
    """Dot product over arrays that are ALREADY double — the per-pair
    hot path after :func:`to_double` was hoisted to a pre-join
    projection. Same fold order (and bit-identical result) as
    :func:`dot`; skips re-running the element cast per pair."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_prenorm_rounded(
    av: Column | str,
    an: Column | str,
    bv: Column | str,
    bn: Column | str,
    digits: int = 6,
) -> Column:
    """Cosine from pre-cast vectors + pre-computed norms.

    Bit-identical to :func:`cosine_rounded` (identical expressions,
    just evaluated once per ROW instead of once per PAIR): a k-NN
    join scores q·N pairs, so hoisting the two sqrt-folds and the
    element casts out of the pair loop cuts per-pair flops to one
    zip_with multiply + fold."""
    return F.round(
        dot_double(av, bv) / F.nullif(_col(an) * _col(bn), F.lit(0.0)),
        digits,
    )


def sq_l2(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance as a sequential left fold (deterministic
    IEEE order — same contract as :func:`dot`). The k-means /
    nearest-centroid workhorse: monotone in true L2, so argmin over
    sq_l2 is argmin over L2 with no sqrt in the hot loop."""
    diffs = F.zip_with(
        to_double(a), to_double(b), lambda x, y: (x - y) * (x - y)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


# ---------------------------------------------------------------------------
# int8 quantization (the ANN memory-scale path: 4x smaller vectors)
# ---------------------------------------------------------------------------


def int8_scale(vec: Column | str) -> Column:
    """Per-vector symmetric int8 scale: max(|v|) / 127 (double).

    Exact cross-engine: the float elements cast exactly to double,
    array_max over exact values is exact, and the single /127 is one
    IEEE rounding both engines perform identically."""
    return (
        F.array_max(F.transform(to_double(vec), F.abs)) / F.lit(127.0)
    )


def dequantize_int8(vec: Column | str, scale: Column) -> Column:
    """round(v/scale) * scale — the value an int8-stored vector
    reconstructs to.

    Rounding is written as floor(x + 0.5) (half-toward-+inf) because
    the engines disagree on round()'s double tie rule but agree
    exactly on floor; every operation here is deterministic IEEE on
    identical inputs, so dequantized vectors are bit-identical to the
    DuckDB twin. scale==0 (all-zero vector) propagates NULL via
    nullif rather than dividing by zero."""
    s = F.nullif(scale, F.lit(0.0))
    return F.transform(
        to_double(vec),
        lambda x: F.floor(x / s + F.lit(0.5)).cast("double") * s,
    )
