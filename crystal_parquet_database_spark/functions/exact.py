"""Exact (oracle-reproducible) aggregate helpers.

Summing doubles is order-dependent, and Spark's shuffle order differs from
DuckDB's scan order — so two correct engines produce different low bits.
These helpers route sums through decimal: the cast double→decimal rounds the
*same* double to the *same* decimal in both engines (a representable tie at
scale 2-6 cannot occur for ordinary data), decimal addition is exact and
order-independent, and the final decimal→double cast emits the same double
on both sides. Result: bit-identical aggregates with no tolerance windows.

One cast caveat (found by a confirmed 1-ulp divergence at sf0.001): the
final decimal→double cast is correctly rounded in Spark
(BigDecimal.doubleValue) but DuckDB's direct DECIMAL→DOUBLE double-rounds —
int128 significand → double FIRST, then ÷10^scale — which differs from the
correctly-rounded result once the SCALED significand (value × 10^scale)
exceeds 2^53 ≈ 9.0e15. Scale-2 money sums stay far below that at every
gate scale (sum < 9e13), so the plain `CAST(... AS DOUBLE)` oracle spelling
is safe there; scale-4 PRODUCT sums (price², price×qty, disc_price) cross
the line as low as sf0.001 and their oracles must route through
``DSUM_DOUBLE_SQL`` below (VARCHAR round-trip: DuckDB's string parse is
correctly rounded, matching Spark exactly).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Prices in the fixture data carry 2 decimals, rates (discount/tax) 2 decimals.
MONEY = "decimal(18,2)"
RATE = "decimal(5,2)"
HI = "decimal(38,15)"  # for doubles with full fractional precision


def money(c: Column | str) -> Column:
    return F.col(c).cast(MONEY) if isinstance(c, str) else c.cast(MONEY)


def rate(c: Column | str) -> Column:
    return F.col(c).cast(RATE) if isinstance(c, str) else c.cast(RATE)


def disc_price(price: Column | str = "l_extendedprice", disc: Column | str = "l_discount") -> Column:
    """TPC-H discounted price with the EXACT decimal shape every oracle
    mirrors: money(price) * (1::decimal(5,2) - rate(disc)). One definition —
    the expression is precision-critical, and per-query copies could drift."""
    one = F.lit(1).cast(RATE)
    return money(price) * (one - rate(disc))


# The DuckDB mirror of disc_price() — interpolate this into oracle SQL
# instead of re-typing the decimal shape: the Spark side was centralized
# into disc_price() because the expression is precision-critical, and the
# SQL side needs the same single definition for the same reason (editing
# the decimal widths in one hand-copy would leave the others verifying a
# different expression shape than the queries compute).
ONE_SQL = "CAST(1 AS DECIMAL(5,2))"
DISC_PRICE_SQL = (
    f"CAST(l_extendedprice AS DECIMAL(18,2)) * ({ONE_SQL} - CAST(l_discount AS DECIMAL(5,2)))"
)


def dsum(c: Column) -> Column:
    """Exact sum of a decimal column, emitted as double."""
    return F.sum(c).cast("double")


def DCAST_DOUBLE_SQL(expr: str) -> str:
    """DuckDB DECIMAL→DOUBLE cast that is correctly rounded at ANY magnitude
    (per-value form): the VARCHAR round-trip forces DuckDB through its
    (correctly-rounded) string parser instead of the double-rounding
    int128→double-then-÷10^scale path of a direct cast. Value-identical to
    the plain cast while the scaled significand stays below 2^53 (see module
    docstring)."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def DSUM_DOUBLE_SQL(expr: str) -> str:
    """DuckDB mirror of ``dsum`` that is correctly rounded at ANY magnitude —
    ``DCAST_DOUBLE_SQL`` applied to the exact decimal SUM. Required for sums
    whose scaled significand can exceed 2^53 (scale-4 product sums)."""
    return DCAST_DOUBLE_SQL(f"SUM({expr})")


def dsum_of_double(c: Column | str, cast_to: str = HI) -> Column:
    """Exact-ish sum of a double column: fix each value at high decimal scale
    (identical rounding both engines), sum exactly, emit double."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(cast_to)).cast("double")


# The decimal-routed aggregation path has a DOMAIN: a double must fit the
# decimal it is fixed at, or the ANSI cast aborts the whole job on ONE bad
# upstream value — exactly the failure a 100 TB feed with occasional
# sensor garbage (1e308, ±inf, NaN) must survive. Values outside the
# domain join NaN/±inf/NULL in the MISSING class (the NaN-as-missing
# contract, extended to huge-finite values after the extreme-values sweep
# crashed three queries on 1.7e308). The bound for decimal(18,6) is
# 1e12 (12 integer digits); rounding at scale 6 cannot push a
# representable double below the bound across it (double spacing at 1e12
# is ~2.4e-4, far coarser than the 5e-7 rounding increment).
VALUE_DOMAIN_18_6 = 1e12


def missing_outside_domain(c: Column | str, bound: float = VALUE_DOMAIN_18_6) -> Column:
    """NULL out NaN and |v| >= bound (±inf included): the missing-value
    class for decimal-routed aggregation. One definition — the oracle
    mirror below must stay the same predicate."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(F.isnan(col) | (F.abs(col) >= F.lit(bound)), F.lit(None)).otherwise(col)


def MISSING_OUTSIDE_DOMAIN_SQL(expr: str, bound: str = "1e12") -> str:
    """DuckDB mirror of ``missing_outside_domain`` (NULL input stays NULL:
    isnan(NULL) is NULL, the CASE falls through to the ELSE arm)."""
    return (
        f"CASE WHEN isnan(CAST({expr} AS DOUBLE)) "
        f"OR abs(CAST({expr} AS DOUBLE)) >= {bound} "
        f"THEN NULL ELSE {expr} END"
    )


def DSUM_GUARDED_18_6_SQL(expr: str) -> str:
    """The oracle mirror of ``dsum_of_double(missing_outside_domain(x),
    "decimal(18,6)")`` — the guarded, decimal-routed sum every streaming
    measure aggregation uses. ONE definition: this shape is
    precision-critical, and per-oracle hand copies could drift (a precision
    bump applied to two of three copies would make one oracle verify a
    different aggregation than the query computes)."""
    return (
        f"CAST(SUM(CAST({MISSING_OUTSIDE_DOMAIN_SQL(expr)} AS DECIMAL(18,6)))"
        f" AS DOUBLE)"
    )
