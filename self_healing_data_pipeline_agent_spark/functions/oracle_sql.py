"""SQL-fragment builders matching ``functions.stable`` exactly.

Every numeric aggregate that feeds the DuckDB differential oracle uses these
fragments on the SQL side and the ``stable`` helpers on the Spark side, so
both engines perform identical IEEE double ops per row, exact integer sums,
and the same final division — bit-equal results regardless of partitioning
or summation order.  See ``functions/stable.py`` for the full rationale.
"""

from __future__ import annotations

SCALE = "10000.0"


def sql_dsum(expr: str) -> str:
    # Self-parenthesized: composing fragments must not change IEEE op order
    # (A/1e4 * B/1e4 associates differently without the parens).
    return (
        f"(CAST(SUM(CAST(FLOOR(({expr}) * {SCALE} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {SCALE})"
    )


def sql_davg(expr: str) -> str:
    return f"({sql_dsum(expr)} / COUNT({expr}))"


def sql_dsum_wide(expr: str) -> str:
    """Twin of ``stable.dsum_wide``: split div/mod reassembly so only
    int64-range integers are ever cast to double (engines disagree on
    rounding above 2^63: DuckDB HUGEINT->DOUBLE vs Spark
    DECIMAL->DOUBLE).  NOTE DuckDB's ``/`` on integers produces DOUBLE —
    the integer quotient must use ``//``."""
    u = f"SUM(CAST(FLOOR(({expr}) * {SCALE} + 0.5) AS BIGINT))"
    return (
        f"(CAST(CAST(({u} - {u} % 10000) // 10000 AS BIGINT) AS DOUBLE)"
        f" + CAST(CAST({u} % 10000 AS BIGINT) AS DOUBLE) / {SCALE})"
    )


def sql_dstd(expr: str) -> str:
    """Sample stddev via exact unit sums (order-free):
    sqrt((S2 - S1*S1/n) / (n-1)).  Matches ``stable.dstd``."""
    s1 = sql_dsum(expr)
    s2 = sql_dsum_wide(f"({expr}) * ({expr})")
    n = f"COUNT({expr})"
    return f"SQRT(({s2} - {s1} * {s1} / {n}) / ({n} - 1))"

