"""Long-format elevation raster table (ground / building surfaces).

The reference stores per-tile 500×500 float16 grids at 0.1 m resolution
in NPZ files (src/upcp/utils/ahn_utils.py:287-302,
src/upcp/preprocessing/ahn_preprocessing.py:221-235). At 10^12-row
scale a raster is just another (much smaller) table: one row per cell,
keyed by global cell indices — the raster↔vector lookup becomes an
equi-join that Catalyst plans as a broadcast hash join per tile. The
join key is one packed BIGINT per cell (``tiling.cell_id``), not the
(gx, gy) pair: a single-long key hashes and compares without building
a two-field key row per point.

The raster is a plan constant, as the reference's interpolator is
built once per tile and reused by every fuser (src/upcp/pipeline.py:
84-86): ``raster_df`` and the Columns of ``with_raster`` are built once
per session (``session.per_session``). Each query still recomputes and
broadcasts the cells; nothing is cached across passes.

Surfaces are pure integer-arithmetic functions of the cell indices
(FIXTURES.md §5 intent), so the DuckDB oracle reproduces every value
bit-exactly without materializing the table:

    ground_z(gx, gy)   = 2.0 + ((gx*31 + gy*17) % 100) / 100.0
    building_z(gx, gy) = ground_z + 9.0  where (gx*7 + gy*13) % 10 < 3
                         NULL elsewhere  (gaps, ahn_utils.py:253 NaN)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import per_session
from ..sources.layers import TILE, X_HI, X_LO, Y_HI, Y_LO
from ..tiling import CELL_LIM, cell_id, cell_key

DEFAULT_RES = 1.0  # test-scale resolution (FIXTURES.md §5: 1 m variant)


def ground_z_col(gx: Column, gy: Column) -> Column:
    return F.lit(2.0) + ((gx * 31 + gy * 17) % 100) / F.lit(100.0)


def building_mask_col(gx: Column, gy: Column) -> Column:
    return ((gx * 7 + gy * 13) % 10) < 3


@per_session
def raster_df(spark: SparkSession, res: float = DEFAULT_RES) -> DataFrame:
    """The raster for the fixture window, long format (one plan per
    session and ``res``)."""
    gx0, gx1 = int(X_LO // res), int(X_HI // res)
    gy0, gy1 = int(Y_LO // res), int(Y_HI // res)
    nx = gx1 - gx0
    ny = gy1 - gy0
    cells = spark.range(nx * ny).select(
        (F.lit(gx0) + F.col("id") % nx).alias("gx"),
        (F.lit(gy0) + F.floor(F.col("id") / nx)).alias("gy"),
    )
    gx, gy = F.col("gx"), F.col("gy")
    gz = ground_z_col(gx, gy)
    return cells.select(
        gx,
        gy,
        F.concat_ws(
            "_",
            F.floor(gx * F.lit(res) / F.lit(TILE)),
            F.floor(gy * F.lit(res) / F.lit(TILE)),
        ).alias("tilecode"),
        (gx * F.lit(res) + F.lit(res / 2)).alias("cx"),
        (gy * F.lit(res) + F.lit(res / 2)).alias("cy"),
        gz.alias("ground_z"),
        F.when(building_mask_col(gx, gy), gz + F.lit(9.0)).alias("building_z"),
    )


@per_session
def _point_cols(spark, res: float) -> list[Column]:
    x, y = F.col("x"), F.col("y")
    return [F.floor(x / F.lit(res)).alias("gx"), F.floor(y / F.lit(res)).alias("gy"),
            F.col("*"), cell_id(x, y, res).alias("_rk")]


@per_session
def _cell_cols(spark) -> list[Column]:
    gx, gy = F.col("gx"), F.col("gy")
    # a cell past the packing's range would alias another cell's key
    ok = gx.between(-CELL_LIM, CELL_LIM - 1) & gy.between(-CELL_LIM, CELL_LIM - 1)
    return [F.when(ok, cell_key(gx, gy)).alias("_rk"), F.col("ground_z"),
            F.col("building_z")]


def with_raster(pages: DataFrame, raster: DataFrame,
                res: float = DEFAULT_RES) -> DataFrame:
    """Raster lookup join: page → enclosing cell (reference
    FastGridInterpolator, src/upcp/utils/interpolation.py:336-348,
    re-expressed as floor-key equi-join; broadcast at fixture scale).

    Output: ``gx, gy, <pages columns>, ground_z, building_z`` with
    ``gx, gy = floor(x/res), floor(y/res)``. Both sides join on the
    packed ``tiling.cell_id`` key; a point with |x/res| or |y/res| at
    or above 2^30, or a NaN, ±Inf or NULL coordinate, has no key and
    gets NULL ``ground_z`` and ``building_z``."""
    spark = pages.sparkSession
    keyed = pages.drop("gx", "gy").select(*_point_cols(spark, res))
    cells = F.broadcast(raster.select(*_cell_cols(spark)))
    return keyed.join(cells, "_rk", "left").drop("_rk")


# --- DuckDB oracle SQL fragments --------------------------------------

def gx_sql(x_expr: str, res: float = DEFAULT_RES) -> str:
    return f"CAST(floor({x_expr} / {res}) AS BIGINT)"


def ground_z_sql(gx: str, gy: str) -> str:
    return f"(2.0 + (({gx} * 31 + {gy} * 17) % 100) / 100.0)"


def building_z_sql(gx: str, gy: str) -> str:
    return (
        f"(CASE WHEN (({gx} * 7 + {gy} * 13) % 10) < 3 "
        f"THEN {ground_z_sql(gx, gy)} + 9.0 ELSE NULL END)"
    )


def raster_cte_sql(res: float = DEFAULT_RES) -> str:
    """CTE body reproducing raster_df() exactly in DuckDB:
    (gx, gy, tilecode, building_z) for the fixture window."""
    gx0, gx1 = int(X_LO // res), int(X_HI // res)
    gy0, gy1 = int(Y_LO // res), int(Y_HI // res)
    nx = gx1 - gx0
    ny = gy1 - gy0
    gx, gy = f"({gx0} + (i % {nx}))", f"({gy0} + (i // {nx}))"
    tc = (
        f"CAST(CAST(floor({gx} * {res} / {TILE}) AS BIGINT) AS VARCHAR)"
        f" || '_' || "
        f"CAST(CAST(floor({gy} * {res} / {TILE}) AS BIGINT) AS VARCHAR)"
    )
    return (
        f"SELECT {gx} AS gx, {gy} AS gy, {tc} AS tilecode, "
        f"{building_z_sql(gx, gy)} AS building_z "
        f"FROM range(0, {nx * ny}) t(i)"
    )
