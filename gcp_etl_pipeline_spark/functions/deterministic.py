"""Order-independent, cross-engine-deterministic float aggregation.

Summing IEEE doubles is order-dependent: a distributed Spark sum and a
DuckDB sum of the same values produce last-ulp-different results, which
breaks value-hash differential testing (and makes production reruns
non-reproducible). The engine's convention for money-like measures:

    SUM(CAST(ROUND(x * 1_000_000, 0) AS BIGINT))          -- exact µ-units

Integer addition is associative/commutative → identical under any
partitioning, any engine. Verified empirically: float->DECIMAL and even
double->DECIMAL casts disagree between Spark and DuckDB at the 6th decimal
for float-widened values, while the ROUND-to-µ-unit path matches exactly.

These helpers emit the SAME SQL text for Spark SQL and DuckDB, so a query
and its oracle can share one definition. 6 fractional digits ≈ the
reference's float measures (`...sales_fact_01.py:61-63`); sums stay under
2^63 for ~9e12 in µ-units per group at 100 TB scale — beyond that,
pre-aggregate.
"""

from __future__ import annotations

MICRO = 1_000_000


def micro_sum_expr(x: str) -> str:
    """Exact integer sum in µ-units (bigint). Same text for both dialects.

    The CAST to DOUBLE before scaling is load-bearing for FLOAT inputs:
    without it DuckDB multiplies in float32 (rounding 1075.0*1e6 to
    1075000064) while Spark promotes to double — found by the hypothesis
    property test. Double inputs are unaffected."""
    return f"SUM(CAST(ROUND(CAST(({x}) AS DOUBLE) * {MICRO}, 0) AS BIGINT))"


def det_sum_expr(x: str) -> str:
    """Deterministic SUM(x) rendered back to DOUBLE.

    bigint -> double is exact below 2^53; one final division is a single
    deterministic IEEE op.
    """
    return f"CAST({micro_sum_expr(x)} AS DOUBLE) / {MICRO}.0"


def det_avg_expr(x: str) -> str:
    """Deterministic AVG(x) as DOUBLE (exact integer sum, one division)."""
    return (
        f"CAST({micro_sum_expr(x)} AS DOUBLE) / ({MICRO}.0 * COUNT({x}))"
    )


def det_sum_bigint_expr(x: str) -> str:
    """Deterministic SUM(x) floored to BIGINT (the reference's
    ``cast(sum(float_col) as bigint)`` rollup shape,
    `tl_sm_gosales_overview_01.sql:14-16`). FLOOR is applied explicitly
    because bare double->int casts truncate in Spark but round in DuckDB."""
    return (
        f"CAST(FLOOR(CAST({micro_sum_expr(x)} AS DOUBLE) / {MICRO}.0) AS BIGINT)"
    )
