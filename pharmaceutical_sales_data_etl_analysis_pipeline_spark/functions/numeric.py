"""Deterministic numeric aggregation helpers.

Floating-point SUM is order-dependent; on a cluster the reduction order is
nondeterministic across partitions, so two runs (or two engines) can differ
in the last ulp. Money-style aggregates therefore sum in DECIMAL (exact,
order-independent) and cast the final result to DOUBLE — bit-identical
across engines and cluster layouts, and still whole-stage-codegen'd JVM-side.

The reference stores money as REAL and relies on single-threaded summation
order (LoadDataWarehouse.ChatterjeeP.R:97,126); DECIMAL summation is the
scale-safe equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 18,2 holds |x| < 10^16 cents-precision money; the SUM accumulator widens
# to (28,2)/(38,2) automatically in Spark/DuckDB.
MONEY_DECIMAL = "decimal(18,2)"

# r5: the final decimal->double conversion is the one step that is NOT
# engine-identical once the sum passes 2^53 scaled units — Spark's
# BigDecimal.doubleValue and DuckDB's int128 path double-round
# differently (caught by the sf1 sweep on tpch_q1). Money sums therefore
# scale to exact INTEGER cents (DECIMAL(38,0)), sum exactly, convert the
# single integer to double (one correctly-rounded IEEE conversion in
# both engines), and divide by 100 (same IEEE op on the same double).


def money_sum(col: Column | str, alias: str) -> Column:
    """Exact, order-independent SUM for money columns, returned as DOUBLE
    via the conversion-exact integer-cents construction."""
    c = F.col(col) if isinstance(col, str) else col
    cents = (c.cast(MONEY_DECIMAL) * F.lit(100)).cast("decimal(38,0)")
    return (F.sum(cents).cast("double") / F.lit(100.0)).alias(alias)


def money_sum_sql(expr: str, alias: str) -> str:
    """DuckDB/ANSI twin of money_sum (same rounding, same result bits)."""
    return (
        f"(CAST(SUM(CAST(CAST({expr} AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))) AS DOUBLE)"
        f" / 100.0) AS {alias}"
    )


def round_half_up(col: Column, digits: int) -> Column:
    """Engine-portable rounding: floor(x*10^d + 0.5)/10^d.

    Spark's round() is HALF_UP but DuckDB's is half-even; ratio columns hit
    exact .5 ties constantly (rational values with power-of-10-friendly
    denominators), so both sides must use this same floor construction.
    """
    m = float(10 ** digits)
    return F.floor(col * m + F.lit(0.5)) / m


def round_half_up_sql(expr: str, digits: int) -> str:
    m = float(10 ** digits)
    return f"floor(({expr}) * {m} + 0.5) / {m}"
