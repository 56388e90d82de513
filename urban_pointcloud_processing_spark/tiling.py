"""Tile assignment + grid-cell indexing operators.

The reference partitions space into 50×50 m tiles keyed by
``tilecode = f"{floor(x/50)}_{floor(y/50)}"`` (reference:
src/upcp/utils/las_utils.py:24-53) and snaps points to fine grid cells
for connected components / voxel statistics. Here both are pure column
expressions — Catalyst folds them into the scan projection, so tile
assignment of 10^12 rows is a map-only stage with no shuffle.

At cluster scale the tilecode doubles as the partition key: writes go
to an Iceberg table partitioned by ``bucket(N, tilecode)`` so dense
urban tiles (skew) spread over N buckets; see plans/pipeline.py for the
salting helper used on hot cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .geocode import TILE_SIZE


def tile_x(x: Column, tile_size: float = TILE_SIZE) -> Column:
    return F.floor(x / F.lit(tile_size))


def tile_y(y: Column, tile_size: float = TILE_SIZE) -> Column:
    return F.floor(y / F.lit(tile_size))


def tilecode(x: Column, y: Column, tile_size: float = TILE_SIZE) -> Column:
    """String tilecode '{tx}_{ty}' per reference las_utils.py:45-53."""
    return F.concat_ws("_", tile_x(x, tile_size), tile_y(y, tile_size))


def cell_x(x: Column, res: float) -> Column:
    return F.floor(x / F.lit(res))


def cell_y(y: Column, res: float) -> Column:
    return F.floor(y / F.lit(res))


def cell_id(x: Column, y: Column, res: float) -> Column:
    """Single 64-bit cell key: (cx << 21 unavailable portably) — use a
    collision-free pairing over the bounded coordinate domain instead.
    RD coordinates are < 300 km, so floor(x/res) < 2^30 for res ≥ 1 mm.
    """
    return cell_x(x, res) * F.lit(1 << 31) + cell_y(y, res)


def with_tiles(df: DataFrame, x: str = "x", y: str = "y",
               tile_size: float = TILE_SIZE) -> DataFrame:
    return df.withColumns(
        {
            "tile_x": tile_x(F.col(x), tile_size),
            "tile_y": tile_y(F.col(y), tile_size),
            "tilecode": tilecode(F.col(x), F.col(y), tile_size),
        }
    )


def neighbor_cells(cx: Column, cy: Column) -> Column:
    """Array of the 3×3 neighborhood cell keys of (cx, cy) — the
    build-side explode for cell-neighborhood joins (kNN, radius
    self-join). Keys use the same pairing as cell_id."""
    deltas = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    return F.array(
        *[(cx + F.lit(dx)) * F.lit(1 << 31) + (cy + F.lit(dy)) for dx, dy in deltas]
    )


# --- DuckDB oracle SQL fragments --------------------------------------

def tile_x_sql(x_expr: str, tile_size: float = TILE_SIZE) -> str:
    return f"CAST(floor({x_expr} / {tile_size}) AS BIGINT)"


def tile_y_sql(y_expr: str, tile_size: float = TILE_SIZE) -> str:
    return f"CAST(floor({y_expr} / {tile_size}) AS BIGINT)"
