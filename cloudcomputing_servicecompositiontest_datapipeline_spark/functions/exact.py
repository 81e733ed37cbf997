"""Exact (order-insensitive) aggregate helpers.

The reference computes report aggregates with Python ``Decimal`` so sums/averages
are exact (``report_generator.py:314,368,377``); we need the same property for a
different reason: double-precision ``sum()`` is *order dependent* across Spark's
shuffle, so a hash-matched oracle comparison against DuckDB would flake.  Pattern:

    sum:  cast to DECIMAL → exact associative sum → round(2) → cast double
    avg:  exact decimal sum → cast double → divide by count → round(2)

Both sides (Spark and DuckDB SQL) perform bit-identical arithmetic, so value
hashes match regardless of partitioning/row order.  At scale this also keeps the
aggregation in JVM whole-stage codegen (no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decimal type wide enough for sf0.1 fixture sums; 4 frac digits covers inputs.
DEC = "decimal(28,4)"


def dsum(col: str | Column, alias: str | None = None, scale: int = 2) -> Column:
    """Order-insensitive sum: round the exact decimal (both engines round
    decimals half-away-from-zero), then cast — never round a double, whose
    string-vs-binary rounding differs between engines at .xx5 boundaries.

    Values with no ``decimal(28,4)`` representation — NaN, ±Inf, and
    finite doubles beyond ~1e24 — are EXCLUDED from the sum like NULLs
    (``try_cast``, not ``cast``: ANSI's plain cast silently NULLs NaN/Inf
    but RAISES NUMERIC_VALUE_OUT_OF_RANGE on a huge finite double, so one
    garbage reading would kill the whole aggregate at 100 TB), and
    :func:`sql_dsum` mirrors the same try_cast semantics in DuckDB.  The
    decimal SUM itself accumulates at precision 38 (~1e34 headroom), so
    only the per-value representability bound applies."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.round(F.sum(c.try_cast(DEC)), scale).cast("double")
    return out.alias(alias) if alias else out


def davg(col: str | Column, alias: str | None = None, scale: int = 2) -> Column:
    """Order-insensitive mean: exact decimal sum / count, then an explicit
    ``floor(x*10^s + 0.5)/10^s`` rounding — every step is the same IEEE double
    op on both engines, so results are bit-identical (library round() is not).

    Mirrors the reference's Decimal mean (`report_generator.py:372-381`, which
    rounds to 2 decimals).

    The denominator counts the DECIMAL-CAST column, not the raw one, so a
    value with no decimal representation (NaN/±Inf/≳1e24 → NULL under the
    try_cast, see :func:`dsum`) drops out of numerator AND denominator
    together — counting it only in the denominator would silently bias
    every mean downward on dirty data.
    """
    c = F.col(col) if isinstance(col, str) else col
    mult = float(10**scale)
    dc = c.try_cast(DEC)
    # try_divide: a group whose EVERY value is non-finite has count 0, and
    # ANSI raises on /0 — NULL mean matches DuckDB's NULL/0
    q = F.try_divide(F.sum(dc).cast("double"), F.count(dc))
    out = F.floor(q * F.lit(mult) + F.lit(0.5)) / F.lit(mult)
    return out.alias(alias) if alias else out


def fround(col: Column, scale: int = 2) -> Column:
    """Cross-engine-deterministic round of a double: ``floor(x*10^s + 0.5)/10^s``.
    Library round() on doubles diverges between Spark (decimal-string HALF_UP)
    and DuckDB (binary) when the value sits at a .xx5 boundary; this formula is
    the same IEEE ops on both engines.  Twin: :func:`sql_fround`."""
    mult = float(10**scale)
    return F.floor(col * F.lit(mult) + F.lit(0.5)) / F.lit(mult)


def sql_fround(expr: str, scale: int = 2) -> str:
    """DuckDB-side twin of :func:`fround`."""
    mult = float(10**scale)
    return f"floor(({expr}) * {mult} + 0.5) / {mult}"


def dsum_exact(col: Column, alias: str | None = None) -> Column:
    """Sum a column that is ALREADY exact decimal (built via decimal arithmetic
    on decimal-cast inputs).  Use when the expression's true scale exceeds
    DEC's 4 fractional digits — casting the double result would round it and
    reintroduce cross-engine divergence."""
    out = F.round(F.sum(col), 2).cast("double")
    return out.alias(alias) if alias else out


def sql_dec(expr: str) -> str:
    """Decimal-cast an expression the way Spark's cast behaves on dirty
    doubles: NaN/±Inf → NULL.  ``try_cast`` alone handles ±Inf, but DuckDB
    1.0's try_cast still RAISES on NaN→decimal (the INT128 path), so NaN is
    pre-filtered explicitly; the isnan probe goes through a double cast so
    it is valid for decimal-typed inputs too."""
    return (
        f"try_cast((CASE WHEN isnan(cast(({expr}) as double)) THEN NULL"
        f" ELSE ({expr}) END) as {DEC})"
    )


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB-side twin of :func:`dsum` for oracle strings.  The guarded
    cast (NULL on NaN/±Inf) mirrors Spark's decimal-cast-to-NULL; a plain
    cast would RAISE on the first non-finite double and break parity."""
    return f"cast(round(sum({sql_dec(expr)}), 2) as double) AS {alias}"


def sql_davg(expr: str, alias: str, scale: int = 2) -> str:
    """DuckDB-side twin of :func:`davg` (same guarded cast as
    :func:`sql_dsum`, in numerator AND denominator)."""
    mult = float(10**scale)
    return (
        f"floor((cast(sum({sql_dec(expr)}) as double)"
        f" / count({sql_dec(expr)})) * {mult} + 0.5) / {mult} AS {alias}"
    )
