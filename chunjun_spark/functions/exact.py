"""Order-independent (exact-grid) floating-point aggregates.

Double summation is partition-order-dependent: Spark's partial
aggregates fold values in shuffle-arrival order, DuckDB in its own scan
order, so ``round(sum(<double>), k)`` / ``round(avg(<double>), k)`` can
land a last-ulp away from a rounding boundary and flap between runs —
the round-2 driver recorded exactly this on ``curation_pipeline``
(``round(avg(q), 6)`` straddling the 1e-6 grid).

Fix: quantize each contribution to an exact integer grid FIRST —
integer sums are associative and order-independent, and stay exact as
doubles up to 2^53 — then divide back once. When the Spark entry and
the DuckDB oracle quantize on the same grid over bit-identical input
doubles, the compared results are bit-identical regardless of
evaluation order on either engine.

Grid headroom: |value| * GRID summed over rows must stay below 2^53
(~9e15). The events table sums to ~5e12 micro-units at sf0.1, leaving
three orders of magnitude for sf100; callers with larger magnitudes
pick a coarser grid.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

GRID = 1_000_000


def micro(col, grid: int = GRID) -> Column:
    """value → exact integer units (round half away from zero on both
    engines; the input double is bit-identical on both sides)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(grid)).cast("long")


def exact_sum(col, scale: int = 4, grid: int = GRID) -> Column:
    """Order-independent sum(double) rounded to ``scale`` decimals."""
    return F.round(F.sum(micro(col, grid)).cast("double") / F.lit(float(grid)), scale)


def exact_avg(col, scale: int = 6, grid: int = GRID) -> Column:
    """Order-independent avg(double) rounded to ``scale`` decimals.
    Division order (sum → /count → /grid) matches ``sql_exact_avg``."""
    return F.round(
        F.sum(micro(col, grid)).cast("double")
        / F.count(F.lit(1))
        / F.lit(float(grid)),
        scale,
    )


def micro_sql(expr: str, grid: int = GRID) -> str:
    """DuckDB mirror of :func:`micro` over any SQL expression."""
    return f"CAST(round(({expr}) * {grid}) AS BIGINT)"


def exact_sum_sql(expr: str, scale: int = 4, grid: int = GRID) -> str:
    return f"round(CAST(sum({micro_sql(expr, grid)}) AS DOUBLE) / {grid}.0, {scale})"


def exact_avg_sql(expr: str, scale: int = 6, grid: int = GRID) -> str:
    return (
        f"round(CAST(sum({micro_sql(expr, grid)}) AS DOUBLE)"
        f" / count(*) / {grid}.0, {scale})"
    )
