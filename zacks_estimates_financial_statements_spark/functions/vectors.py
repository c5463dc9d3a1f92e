"""Vector math over ``array<float>`` embedding columns.

Built on ``F.zip_with`` / ``F.aggregate`` (higher-order functions) so the
math runs JVM-side over the array values — no Python, no explode. Sums
fold left-to-right over the array, which is deterministic and matches
DuckDB's ``list_*`` fold order, keeping the oracle hashes stable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length float arrays, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0),
                    lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero vectors (returns NULL)."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0.0, F.lit(None).cast("double")).otherwise(dot(a, b) / denom)


def sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance (no sqrt — the quantity PQ codebooks and
    ADC tables compare; monotone with euclidean, cheaper, and exactly
    reproducible in the DuckDB fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sign_bits(a: Column, dims: int) -> Column:
    """First-``dims`` sign bits packed into a bigint — a trivial random-
    hyperplane-free SRP sketch usable as an LSH bucket key (components of a
    learned embedding are near-uncorrelated, so axis-aligned signs work as
    hyperplanes)."""
    bits = F.slice(a, 1, dims)
    return F.aggregate(
        bits,
        F.lit(0).cast("bigint"),
        lambda acc, v: acc * 2 + F.when(v >= 0, 1).otherwise(0),
    )


# ---------------------------------------------------------------------------
# Flat (whole-stage-codegen) forms
# ---------------------------------------------------------------------------
# Higher-order functions (``aggregate``/``zip_with``) are CodegenFallback:
# they evaluate INTERPRETED per row, a 10x+ tax in per-pair hot paths
# (the repo's hard-won rule). The ``*_fast`` builders below emit ONE SQL
# string (a py4j round-trip per TERM would cost ~7 ms/term at plan build
# — the generated-wide-expression rule) with a guarded CASE:
#
#   CASE WHEN size(a) = dims [AND size(b) = dims]
#        THEN <flat left-assoc sum, leading 0.0D>   -- codegen
#        ELSE <the exact SQL mirror of the fold>    -- any other input
#   END
#
# Value identity: the flat sum ``((0.0 + t0) + t1) + ...`` is the SAME
# IEEE operation sequence as ``aggregate(..., 0.0, (acc,v) -> acc+v)``,
# so doubles (incl. NaN/Inf overflow order and the -0.0 first-term case)
# come out bit-identical; the integer forms are order-exact. NULL arrays
# fail the size() guard (size(NULL) IS NULL) into the fold branch, which
# returns NULL exactly as before; NULL elements poison both forms to
# NULL identically. Array subscripts in the flat branch are guarded
# in-bounds, so ANSI never aborts (CASE branches evaluate lazily).
#
# Inputs are SQL fragments (column names or expressions), not Columns —
# the builders return ``F.expr`` Columns.

EMB_DIMS = 64  # the embeddings contract dimension (TESTDATA.md)


def _cd(x: str) -> str:
    return f"CAST({x} AS DOUBLE)"


def _dot_flat(a: str, b: str, dims: int) -> str:
    return "0.0D + " + " + ".join(
        f"{_cd(f'{a}[{i}]')} * {_cd(f'{b}[{i}]')}" for i in range(dims))


def _dot_fold(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            "(acc, v) -> acc + v)")


def _normsq_flat(a: str, dims: int) -> str:
    return "0.0D + " + " + ".join(
        f"{_cd(f'{a}[{i}]')} * {_cd(f'{a}[{i}]')}" for i in range(dims))


def _normsq_fold(a: str) -> str:
    return (f"aggregate({a}, 0.0D, "
            "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))")


def cosine_fast(a: str, b: str) -> Column:
    """``cosine`` over SQL fragments: flat codegen when both arrays are
    exactly ``EMB_DIMS`` long, the exact fold otherwise. ``dot/NULLIF(d,0)``
    equals ``when(d == 0, NULL).otherwise(dot/d)`` for every double
    (0/-0 -> NULL, NULL -> NULL, NaN -> NaN)."""
    dims = EMB_DIMS
    flat = (f"({_dot_flat(a, b, dims)}) / NULLIF("
            f"SQRT({_normsq_flat(a, dims)}) * SQRT({_normsq_flat(b, dims)})"
            ", 0.0D)")
    fold = (f"({_dot_fold(a, b)}) / NULLIF("
            f"SQRT({_normsq_fold(a)}) * SQRT({_normsq_fold(b)}), 0.0D)")
    return F.expr(f"CASE WHEN size({a}) = {dims} AND size({b}) = {dims} "
                  f"THEN {flat} ELSE {fold} END")


def norm_sql(a: str) -> str:
    """The guarded-norm SQL fragment ``norm_fast`` wraps (also usable
    inline, e.g. over a literal query vector where it constant-folds)."""
    return (f"CASE WHEN size({a}) = {EMB_DIMS} "
            f"THEN SQRT({_normsq_flat(a, EMB_DIMS)}) "
            f"ELSE SQRT({_normsq_fold(a)}) END")


def norm_fast(a: str) -> Column:
    """``norm`` over a SQL fragment — the exact subexpression the
    cosine denominator uses (``SQRT`` of the same left-assoc square
    sum), exposed so hot pair paths can HOIST it per row: a pair scorer
    that recomputes both norms per pair does 3x the multiply-adds and
    3x the generated code of a dot (slower C2 warm-up) for values that
    are per-ROW invariants."""
    return F.expr(norm_sql(a))


def cosine_prenorm(a: str, b: str, na: str, nb: str) -> Column:
    """``cosine`` from hoisted norms: ``na``/``nb`` are SQL fragments
    holding ``norm_fast`` values computed per row. Bit-identical to
    ``cosine_fast`` (the same dot and the same NULLIF(denom, 0) guard;
    the norms are the same doubles, just evaluated in an upstream
    projection)."""
    dims = EMB_DIMS
    flat = f"({_dot_flat(a, b, dims)}) / NULLIF(({na}) * ({nb}), 0.0D)"
    fold = f"({_dot_fold(a, b)}) / NULLIF(({na}) * ({nb}), 0.0D)"
    return F.expr(f"CASE WHEN size({a}) = {dims} AND size({b}) = {dims} "
                  f"THEN {flat} ELSE {fold} END")


def sq_l2_fast(a: str, b: str, dims: int = EMB_DIMS) -> Column:
    """``sq_l2`` over SQL fragments, flat when both arrays are ``dims``."""
    def term(x: str, y: str) -> str:
        return f"({_cd(x)} - {_cd(y)}) * ({_cd(x)} - {_cd(y)})"
    flat = "0.0D + " + " + ".join(
        term(f"{a}[{i}]", f"{b}[{i}]") for i in range(dims))
    fold = (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, "
            "(acc, v) -> acc + v)")
    return F.expr(f"CASE WHEN size({a}) = {dims} AND size({b}) = {dims} "
                  f"THEN {flat} ELSE {fold} END")


def sign_bits_fast(a: str, dims: int) -> Column:
    """``sign_bits`` over a SQL fragment: flat weighted sum (exact
    integer arithmetic — any order) when the array has >= ``dims``
    elements, the fold over ``slice`` otherwise (shorter arrays)."""
    flat = "CAST(0 AS BIGINT) + " + " + ".join(
        f"(CASE WHEN {a}[{i}] >= 0 THEN CAST({1 << (dims - 1 - i)} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)" for i in range(dims))
    fold = (f"aggregate(slice({a}, 1, {dims}), CAST(0 AS BIGINT), "
            "(acc, v) -> acc * 2 + (CASE WHEN v >= 0 THEN 1 ELSE 0 END))")
    return F.expr(f"CASE WHEN size({a}) >= {dims} THEN {flat} "
                  f"ELSE {fold} END")


def agree_frac_fast(a: str, b: str, k: int) -> Column:
    """MinHash signature agreement fraction (matching positions / k)
    over SQL fragments — integer sum, order-exact; flat when both
    signatures are exactly ``k`` long."""
    flat = "0 + " + " + ".join(
        f"(CASE WHEN {a}[{i}] = {b}[{i}] THEN 1 ELSE 0 END)"
        for i in range(k))
    fold = (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)")
    return F.expr(f"(CASE WHEN size({a}) = {k} AND size({b}) = {k} "
                  f"THEN {flat} ELSE {fold} END) / CAST({float(k)!r} AS DOUBLE)")
