"""Cross-engine-deterministic rounding.

``ROUND(x, n)`` differs between engines at .xx5 boundaries: Spark
rounds HALF_UP on the shortest decimal representation of the double,
DuckDB rounds on the binary value. With 2-decimal-granularity money
columns, products land exactly on boundaries constantly, so plain
ROUND produces off-by-one-cent hash mismatches.

Fix: round-half-away-from-zero computed *arithmetically* —
``floor(|x|·10ⁿ + 0.5)/10ⁿ`` with the sign reapplied. Every operation
(multiply, add, floor, divide) is an IEEE-754-deterministic primitive,
so Spark and DuckDB produce bit-identical doubles by construction.

Both the Spark Column helper and the SQL-text generator live here so
queries and their oracles share one definition.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dround(col: Column | str, n: int = 2) -> Column:
    """Deterministic round-half-away-from-zero to n decimals (Spark)."""
    if isinstance(col, str):
        col = F.col(col)
    s = float(10**n)
    pos = F.floor(col * s + F.lit(0.5)) / s
    neg = -(F.floor((-col) * s + F.lit(0.5)) / s)
    return F.when(col < 0, neg).otherwise(pos)


def dround_sql(expr: str, n: int = 2) -> str:
    """Deterministic round-half-away-from-zero to n decimals (DuckDB SQL)."""
    s = float(10**n)
    return (
        f"(CASE WHEN ({expr}) < 0 "
        f"THEN -(FLOOR((-({expr})) * {s} + 0.5) / {s}) "
        f"ELSE FLOOR(({expr}) * {s} + 0.5) / {s} END)"
    )


def dsum_sql(expr: str, scale: int = 6, n: int = 2) -> str:
    """Order-INDEPENDENT deterministic SUM + round, for SQL text shared
    verbatim by Spark and DuckDB.

    ``dround_sql("SUM(x)", n)`` is only engine-deterministic when the
    true sum is itself an exact n-dp number (then the .5 boundary is
    never genuinely hit and the last-ulp summation-order noise is
    absorbed — the ``davg`` rationale). When the SUMMAND has more
    decimal places than the rounding (e.g. a 6-dp money product
    rounded at 2 dp), the true sum can land exactly on a rounding
    boundary and the two engines' partition-order partial sums flip
    the last cent nondeterministically — the q_sql_udf_revenue
    failure class (round 14).

    This helper removes the order dependence instead of absorbing it:

    1. each summand is rounded half-away-from-zero to ``scale`` dp and
       scaled to an integer (exact whenever the summand is truly a
       ≤ scale-dp value within half an ulp — IEEE floor/mul only);
    2. the SUM runs over BIGINT micro-units — exact and associative,
       identical under any partitioning on any engine;
    3. the integer sum is rounded to ``n`` dp in integer arithmetic
       and returned as DOUBLE (one exact IEEE division).

    Caveats: |summand|·10^scale and the running sum must stay under
    2^53 (doubles) / 2^63 (the BIGINT sum) — money columns at any
    realistic scale factor clear both by orders of magnitude.
    """
    if n > scale:
        raise ValueError("dsum_sql: n must be <= scale")
    # every fractional literal is CAST to DOUBLE explicitly: Spark SQL
    # parses bare decimal-point literals as DECIMAL, which would turn
    # the divisions into decimal arithmetic (and the output column into
    # DECIMAL) while DuckDB stays in DOUBLE — the casts pin both
    # engines to the same IEEE operations and a DOUBLE result type.
    s = f"CAST({10**scale} AS DOUBLE)"
    qd = f"CAST({10 ** (scale - n)} AS DOUBLE)"
    nd = f"CAST({10**n} AS DOUBLE)"
    half = (10 ** (scale - n)) // 2
    x = f"({expr}) * {s}"
    micro_row = (
        f"(CASE WHEN ({x}) < 0 THEN -FLOOR(-({x}) + CAST(0.5 AS DOUBLE)) "
        f"ELSE FLOOR(({x}) + CAST(0.5 AS DOUBLE)) END)"
    )
    um = f"SUM(CAST({micro_row} AS BIGINT))"
    return (
        f"CAST((CASE WHEN ({um}) < 0 "
        f"THEN -FLOOR((-({um}) + {half}) / {qd}) "
        f"ELSE FLOOR((({um}) + {half}) / {qd}) END / {nd}) AS DOUBLE)"
    )


def davg(col: Column, n: int = 2) -> Column:
    """Deterministic average of fixed-granularity data: round the SUM
    to its exact decimal granularity (safe — the true sum *is* an
    n-decimal number, so the boundary is never genuinely hit), then
    divide by the count. Both engines produce the identical double, so
    the quotient needs no further rounding."""
    return dround(F.sum(col), n) / F.count(col)


def dround_np(arr, n: int = 6):
    """numpy twin of :func:`dround` — same round-half-away-from-zero,
    element-wise. One definition for every Arrow/pandas kernel so the
    boundary rule can never drift from the Column/SQL versions."""
    import numpy as np

    s = float(10**n)
    return np.where(
        arr < 0,
        -(np.floor((-arr) * s + 0.5) / s),
        np.floor(arr * s + 0.5) / s,
    )


def dround_scalar(x: float, n: int = 6) -> float:
    """Pure-Python twin of :func:`dround` for driver-side scalars."""
    import math

    s = float(10**n)
    if x < 0:
        return -(math.floor((-x) * s + 0.5) / s)
    return math.floor(x * s + 0.5) / s
