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
from .session import per_session


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


CELL_SPAN = 1 << 31   # cy's share of a packed cell key
CELL_LIM = 1 << 30    # |cell index| bound that keeps the packing exact


def cell_key(cx: Column, cy: Column) -> Column:
    """Pack integer cell indices into one BIGINT, ``cx * 2^31 + cy``:
    collision-free for cx, cy in [-2^30, 2^30)."""
    return cx * F.lit(CELL_SPAN) + cy


def _cell_index(x: Column, y: Column, res: float) -> tuple[Column, Column, Column]:
    """(cx, cy, known): the cell indices of (x, y) and the range test
    |x/res|, |y/res| < 2^30 that every coordinate-built key passes."""
    sx, sy = x / F.lit(res), y / F.lit(res)
    known = (F.abs(sx) < F.lit(float(CELL_LIM))) & (F.abs(sy) < F.lit(float(CELL_LIM)))
    return F.floor(sx), F.floor(sy), known


def cell_id(x: Column, y: Column, res: float) -> Column:
    """The ``cell_key`` of the cell holding (x, y). NULL unless |x/res|
    and |y/res| are below 2^30, so the product never overflows BIGINT
    and NaN, ±Inf and NULL coordinates get no cell. RD coordinates are
    < 300 km, so every real point has a key for res ≥ 1 mm."""
    cx, cy, known = _cell_index(x, y, res)
    return F.when(known, cell_key(cx, cy))


def neighbor_cell_ids(x: Column, y: Column, res: float) -> Column:
    """The 3×3 ``neighbor_cells`` around the cell holding (x, y), NULL
    where ``cell_id`` is NULL: exploded, a point with no cell yields no
    keys."""
    cx, cy, known = _cell_index(x, y, res)
    return F.when(known, neighbor_cells(cx, cy))


@per_session
def _tile_cols(spark, x: str, y: str, tile_size: float) -> dict[str, Column]:
    cx, cy = F.col(x), F.col(y)
    return {
        "tile_x": tile_x(cx, tile_size),
        "tile_y": tile_y(cy, tile_size),
        "tilecode": tilecode(cx, cy, tile_size),
    }


def with_tiles(df: DataFrame, x: str = "x", y: str = "y",
               tile_size: float = TILE_SIZE) -> DataFrame:
    """Append tile_x, tile_y and tilecode. The Columns are built once
    per session (``session.per_session``)."""
    return df.withColumns(_tile_cols(df.sparkSession, x, y, tile_size))


def neighbor_cells(cx: Column, cy: Column) -> Column:
    """Array of the 3×3 neighborhood cell keys of (cx, cy) — the
    build-side explode for cell-neighborhood joins (kNN, radius
    self-join). Keys use the same pairing as cell_id."""
    deltas = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    return F.array(
        *[cell_key(cx + F.lit(dx), cy + F.lit(dy)) for dx, dy in deltas]
    )


# --- DuckDB oracle SQL fragments --------------------------------------

def tile_x_sql(x_expr: str, tile_size: float = TILE_SIZE) -> str:
    return f"CAST(floor({x_expr} / {tile_size}) AS BIGINT)"


def tile_y_sql(y_expr: str, tile_size: float = TILE_SIZE) -> str:
    return f"CAST(floor({y_expr} / {tile_size}) AS BIGINT)"
