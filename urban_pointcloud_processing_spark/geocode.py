"""Deterministic geocoding of row ids → RD-style (x, y, z) coordinates.

The reference engine's fact table is a LiDAR point table with native
(x, y, z) (reference: src/upcp/pipeline.py:124). Our fact table is a
Common-Crawl-style pages table; each page is geocoded deterministically
from its integer id using pure 64-bit integer arithmetic so that the
Spark DataFrame expressions and the DuckDB oracle SQL produce
bit-identical doubles (no libm, no hashing-library mismatch).

Coordinate window: a 3×3 block of 50 m tiles around the reference demo
tile 2386_9702 (lower-left (119300, 485100) — reference
datasets/README.md, tilecode formula src/upcp/utils/las_utils.py:45-53):
x ∈ [119250, 119400), y ∈ [485050, 485200), z ∈ [0, 12).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .session import per_session

# Knuth/Fibonacci-style multiplicative constants. The id is reduced
# modulo the span before it is multiplied, so every product stays below
# 150000 * 3266489917 < 2^49 and BIGINT arithmetic is exact in both
# engines for every id. Both engines' '%' truncates toward zero, so the
# reduction leaves (id * A) % S unchanged, negative ids included.
AX = 2654435761
AY = 2246822519
AZ = 3266489917

X0 = 119250.0
Y0 = 485050.0
SPAN_MM = 150_000  # 150 m expressed in millimetres
Z_SPAN_MM = 12_000
TILE_SIZE = 50.0  # reference tile edge (datasets/README.md: 50x50 m)


def _mix(id_col: Column, a: int, span: int) -> Column:
    return (id_col % F.lit(span)) * F.lit(a) % F.lit(span)


def x_col(id_col: Column) -> Column:
    return F.lit(X0) + _mix(id_col, AX, SPAN_MM) / F.lit(1000.0)


def y_col(id_col: Column) -> Column:
    return F.lit(Y0) + _mix(id_col, AY, SPAN_MM) / F.lit(1000.0)


def z_col(id_col: Column) -> Column:
    return _mix(id_col, AZ, Z_SPAN_MM) / F.lit(1000.0)


@per_session
def _geocode_cols(spark, id_col: str) -> dict[str, Column]:
    c = F.col(id_col)
    return {"x": x_col(c), "y": y_col(c), "z": z_col(c)}


def geocode(df, id_col: str = "page_id"):
    """Append deterministic x, y, z columns derived from ``id_col``.
    The Columns are built once per session (``session.per_session``):
    building them takes ~80 py4j round trips."""
    return df.withColumns(_geocode_cols(df.sparkSession, id_col))


# --- DuckDB oracle SQL fragments (identical arithmetic) ---------------

def _mix_sql(id_expr: str, a: int, span: int) -> str:
    return f"((({id_expr} % {span}) * {a}) % {span})"


def x_sql(id_expr: str) -> str:
    return f"({X0} + {_mix_sql(id_expr, AX, SPAN_MM)} / 1000.0)"


def y_sql(id_expr: str) -> str:
    return f"({Y0} + {_mix_sql(id_expr, AY, SPAN_MM)} / 1000.0)"


def z_sql(id_expr: str) -> str:
    return f"({_mix_sql(id_expr, AZ, Z_SPAN_MM)} / 1000.0)"


def pages_cte_sql(table: str, id_expr: str, extra_cols: str = "") -> str:
    """CTE body producing (page_id, x, y, z) from a DuckDB view."""
    return (
        f"SELECT {id_expr} AS page_id, {x_sql(id_expr)} AS x, "
        f"{y_sql(id_expr)} AS y, {z_sql(id_expr)} AS z{extra_cols} "
        f"FROM {table}"
    )
