"""Per-tile raster gap filling.

Reference: src/upcp/utils/ahn_utils.py:346-456 — `fill_gaps` (scipy
griddata over gap regions ≤ max_gap_size) and `fill_gaps_intuitive`
(iterative 3×3 nanmean dilation). scipy is not a dependency, so the
engine implements one round of the *intuitive* variant in pure
NumPy (``fill_grid_centi_round1``): every NULL cell with ≥1 known
8-neighbor becomes the mean of its known neighbors, so the fill reaches
one cell into a gap. The griddata analogs are separable linear and
Catmull–Rom fills with a max_gap region gate (``fill_grid_linear``,
``fill_grid_cubic``).

Spark strategy: grids are per-tile bounded (500×500 in the reference),
so the fill is a grouped-map `applyInPandas` per tilecode — one NumPy
batch per tile, no driver collect, embarrassingly parallel across
tiles. Deterministic: the neighbor-mean sums exact round(z·100)
integers, so summation order cannot change the result.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FILLED_SCHEMA = StructType(
    [
        StructField("tilecode", StringType()),
        StructField("gx", LongType()),
        StructField("gy", LongType()),
        StructField("building_z", DoubleType()),
        StructField("was_gap", BooleanType()),
        StructField("filled", BooleanType()),
    ]
)


def fill_grid_linear(grid: np.ndarray, max_gap: int = 6) -> np.ndarray:
    """Separable linear interpolation fill (the scipy-free analog of
    reference fill_gaps' griddata(method='linear'), ahn_utils.py:
    346-400): every NaN cell whose nearest valid anchors along a row or
    column span ≤ max_gap cells gets the distance-weighted linear
    value; where both row and column estimates exist they average.
    Gaps wider than max_gap stay NaN (the reference's max_gap_size
    region gate)."""
    g = grid.astype(np.float64, copy=True)

    def axis_fill(a: np.ndarray) -> np.ndarray:
        out = np.full_like(a, np.nan)
        for i in range(a.shape[0]):
            row = a[i]
            valid = np.where(~np.isnan(row))[0]
            if len(valid) < 2:
                continue
            nan_idx = np.where(np.isnan(row))[0]
            inside = nan_idx[(nan_idx > valid[0]) & (nan_idx < valid[-1])]
            if len(inside) == 0:
                continue
            left = valid[np.searchsorted(valid, inside) - 1]
            right = valid[np.searchsorted(valid, inside)]
            ok = (right - left) <= max_gap
            li, ri, ii = left[ok], right[ok], inside[ok]
            t = (ii - li) / (ri - li)
            out[i, ii] = row[li] * (1.0 - t) + row[ri] * t
        return out

    rows = axis_fill(g)
    cols = axis_fill(g.T).T
    est = np.stack([rows, cols])
    counts = np.sum(~np.isnan(est), axis=0)
    # all-NaN stacks stay NaN without the nanmean empty-slice warning
    both = np.where(counts > 0, np.nansum(est, axis=0) / np.maximum(counts, 1),
                    np.nan)
    fillable = np.isnan(g) & ~np.isnan(both)
    g[fillable] = both[fillable]
    return g


def fill_grid_cubic(grid: np.ndarray, max_gap: int = 6) -> np.ndarray:
    """Separable cubic (Catmull–Rom) interpolation fill — the
    griddata(method='cubic') analog (reference ahn_utils.py:346-400):
    like fill_grid_linear but each in-gap cell interpolates through the
    four nearest valid anchors (two per side) with the Catmull–Rom
    basis, falling back to linear where only one anchor exists on a
    side. Same max_gap region gate."""
    g = grid.astype(np.float64, copy=True)

    def axis_fill(a: np.ndarray) -> np.ndarray:
        out = np.full_like(a, np.nan)
        for i in range(a.shape[0]):
            row = a[i]
            valid = np.where(~np.isnan(row))[0]
            if len(valid) < 2:
                continue
            nan_idx = np.where(np.isnan(row))[0]
            inside = nan_idx[(nan_idx > valid[0]) & (nan_idx < valid[-1])]
            for j in inside:
                r = int(np.searchsorted(valid, j))
                i1, i2 = valid[r - 1], valid[r]
                if i2 - i1 > max_gap:
                    continue
                t = (j - i1) / (i2 - i1)
                p1, p2 = row[i1], row[i2]
                # outer anchors (Catmull-Rom); duplicate ends if absent
                p0 = row[valid[r - 2]] if r - 2 >= 0 else p1
                p3 = row[valid[r + 1]] if r + 1 < len(valid) else p2
                out[i, j] = 0.5 * (
                    (2.0 * p1)
                    + (-p0 + p2) * t
                    + (2.0 * p0 - 5.0 * p1 + 4.0 * p2 - p3) * t * t
                    + (-p0 + 3.0 * p1 - 3.0 * p2 + p3) * t * t * t
                )
        return out

    rows = axis_fill(g)
    cols = axis_fill(g.T).T
    est = np.stack([rows, cols])
    counts = np.sum(~np.isnan(est), axis=0)
    both = np.where(counts > 0, np.nansum(est, axis=0) / np.maximum(counts, 1),
                    np.nan)
    fillable = np.isnan(g) & ~np.isnan(both)
    g[fillable] = both[fillable]
    return g


def fill_grid_centi_round1(grid: np.ndarray) -> np.ndarray:
    """ONE fill round with exact arithmetic for centi-valued grids
    (values on a 1/100 lattice, like the AHN surface): neighbors are
    summed as exact round(z·100) integers (order-free in float64 below
    2^53), then divided — so the result is bit-identical to the SQL
    ``SUM(BIGINT)/COUNT/100`` oracle regardless of summation order."""
    g = grid.astype(np.float64, copy=True)
    gi = np.round(g * 100.0)
    padded = np.pad(gi, 1, constant_values=np.nan)
    stacks = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            stacks.append(
                padded[1 + dx : 1 + dx + g.shape[0],
                       1 + dy : 1 + dy + g.shape[1]]
            )
    neigh = np.stack(stacks)
    counts = np.sum(~np.isnan(neigh), axis=0)
    sums = np.nansum(neigh, axis=0)
    fillable = np.isnan(g) & (counts > 0)
    g[fillable] = sums[fillable] / counts[fillable] / 100.0
    return g


def smoothen_edges_grid(grid: np.ndarray, thickness: int = 1) -> np.ndarray:
    """Edge smoothing around raster gaps (reference ahn_utils.py:
    458-508 smoothen_edges): the gap border — NaN cells reached by
    `thickness` iterations of CROSS (4-neighbor) dilation of the valid
    mask, i.e. Manhattan distance ≤ thickness from data — is filled
    with the 3×3 nanmean of the surrounding cells. 'Pads' the surface
    around gaps so small holes near buildings don't stay unlabelled.

    Exact arithmetic for centi-valued grids: neighbor sums use
    round(z·100) integers (order-free in float64), mirroring the SQL
    oracle bit-for-bit."""
    g = grid.astype(np.float64, copy=True)
    mask = ~np.isnan(g)
    dil = mask.copy()
    for _ in range(thickness):
        padded = np.pad(dil, 1, constant_values=False)
        acc = dil.copy()
        for dx, dy in ((-1, 0), (1, 0), (0, -1), (0, 1)):
            acc |= padded[1 + dx: 1 + dx + g.shape[0],
                          1 + dy: 1 + dy + g.shape[1]]
        dil = acc
    edges = dil & ~mask
    gi = np.round(g * 100.0)
    padded = np.pad(gi, 1, constant_values=np.nan)
    stacks = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue  # center is NaN on edge cells — nanmean skips it
            stacks.append(padded[1 + dx: 1 + dx + g.shape[0],
                                 1 + dy: 1 + dy + g.shape[1]])
    neigh = np.stack(stacks)
    counts = np.sum(~np.isnan(neigh), axis=0)
    sums = np.nansum(neigh, axis=0)
    fillable = edges & (counts > 0)
    g[fillable] = sums[fillable] / counts[fillable] / 100.0
    return g


def grouped_grid_fill(raster: DataFrame, grid_fn) -> DataFrame:
    """Shared per-tile grouped-map plumbing for every grid→grid fill
    variant: scatter the tile's (gx, gy, building_z) rows into a dense
    NaN-padded grid, apply ``grid_fn``, gather back with was_gap/filled
    flags. ONE definition so a parity-affecting change to the grid
    construction can never drift between variants."""

    def per_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        gx0, gy0 = int(pdf["gx"].min()), int(pdf["gy"].min())
        nx = int(pdf["gx"].max()) - gx0 + 1
        ny = int(pdf["gy"].max()) - gy0 + 1
        grid = np.full((nx, ny), np.nan)
        ix = pdf["gx"].to_numpy(dtype=int) - gx0
        iy = pdf["gy"].to_numpy(dtype=int) - gy0
        vals = pdf["building_z"].to_numpy(dtype=np.float64)
        grid[ix, iy] = vals
        was_gap = np.isnan(vals)
        out_vals = grid_fn(grid)[ix, iy]
        return pd.DataFrame(
            {
                "tilecode": pdf["tilecode"],
                "gx": pdf["gx"].astype("int64"),
                "gy": pdf["gy"].astype("int64"),
                "building_z": out_vals,
                "was_gap": was_gap,
                "filled": was_gap & ~np.isnan(out_vals),
            }
        )

    return raster.select(
        "tilecode",
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        "building_z",
    ).groupBy("tilecode").applyInPandas(per_tile, schema=FILLED_SCHEMA)


def smoothen_building_edges(raster: DataFrame,
                            thickness: int = 1) -> DataFrame:
    """Grouped-map edge smoothing of the building surface per tile
    (smoothen_edges_grid); same output contract as the gap fills."""
    return grouped_grid_fill(
        raster, lambda g: smoothen_edges_grid(g, thickness)
    )


def fill_building_gaps(raster: DataFrame) -> DataFrame:
    """Grouped-map gap fill of the building surface per tile: one
    exact neighbor-mean round (fill_grid_centi_round1)."""
    return grouped_grid_fill(raster, fill_grid_centi_round1)


def fill_building_gaps_linear(raster: DataFrame, max_gap: int = 6) -> DataFrame:
    """Grouped-map LINEAR gap fill per tile (fill_grid_linear)."""
    return grouped_grid_fill(raster, lambda g: fill_grid_linear(g, max_gap))


# ----------------------------------------------------------------------
# DuckDB oracle SQL (VERDICT r02 item 4: rows-only → value-exact).
# The engine fills per tile (grouped map), so every oracle constrains
# neighbors/anchors to the same tilecode. Filled values are rounded to
# 6 decimals on BOTH sides: the only cross-engine nondeterminism is the
# summation order of ≤8 doubles (mean fill) / the 2-term average, a
# ≤1-ulp effect that the rounding absorbs (SURVEY.md §7.3 item 1).
# ----------------------------------------------------------------------

def _fill_out_sql(raster_cte: str, est_cte: str) -> str:
    """Shared projection: original value where known, estimate where
    fillable, quantized to floor(µ-units), was_gap/filled flags.

    floor(x·1e6), NOT round(x, 6): the raw fills are bit-identical
    across engines, but many land exactly on half-µ boundaries (the
    anchors are centi-rationals and t is dyadic), where DuckDB's
    multiply-then-round and Spark's BigDecimal HALF_UP disagree by one.
    floor of the identically-computed double product is engine-exact."""
    return f"""
WITH raster AS ({raster_cte}),
{est_cte}
SELECT r.tilecode, r.gx, r.gy,
       CAST(floor(COALESCE(r.building_z, e.est) * 1e6) AS BIGINT) AS bz_e6,
       (r.building_z IS NULL) AS was_gap,
       (r.building_z IS NULL AND e.est IS NOT NULL) AS filled
FROM raster r LEFT JOIN est e ON e.gx = r.gx AND e.gy = r.gy
"""


def smoothen_edges_sql(raster_cte: str, thickness: int = 1) -> str:
    """smoothen_edges oracle: fill NULL cells at Manhattan distance ≤
    thickness from valid data (the iterated-cross-dilation border) with
    the 8-neighbor centi-exact mean — mirrors smoothen_edges_grid."""
    est = f"""
edge AS (
  SELECT r.gx, r.gy, r.tilecode
  FROM raster r
  WHERE r.building_z IS NULL AND EXISTS (
    SELECT 1 FROM raster v
    WHERE v.tilecode = r.tilecode AND v.building_z IS NOT NULL
      AND abs(v.gx - r.gx) + abs(v.gy - r.gy) <= {thickness}
  )
),
nb AS (
  SELECT a.gx, a.gy,
         CAST(round(b.building_z * 100.0) AS BIGINT) AS nz_c
  FROM edge a JOIN raster b
    ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
   AND NOT (a.gx = b.gx AND a.gy = b.gy)
   AND a.tilecode = b.tilecode
  WHERE b.building_z IS NOT NULL
),
est AS (
  SELECT gx, gy, CAST(SUM(nz_c) AS DOUBLE) / COUNT(*) / 100.0 AS est
  FROM nb GROUP BY gx, gy
)"""
    return _fill_out_sql(raster_cte, est.strip())


def fill_gaps_sql(raster_cte: str) -> str:
    """One-round 3×3 neighbor-mean fill (fill_grid_centi_round1)."""
    est = """
nb AS (
  SELECT a.gx, a.gy,
         CAST(round(b.building_z * 100.0) AS BIGINT) AS nz_c
  FROM raster a JOIN raster b
    ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
   AND NOT (a.gx = b.gx AND a.gy = b.gy)
   AND a.tilecode = b.tilecode
  WHERE a.building_z IS NULL AND b.building_z IS NOT NULL
),
est AS (
  SELECT gx, gy, CAST(SUM(nz_c) AS DOUBLE) / COUNT(*) / 100.0 AS est
  FROM nb GROUP BY gx, gy
)"""
    return _fill_out_sql(raster_cte, est.strip())


def _axis_est_sql(axis: str, cubic: bool, max_gap: int) -> str:
    """Per-axis in-gap estimate CTEs ({a}est). axis='r' partitions rows
    (tilecode, gy ORDER BY gx); axis='c' partitions columns. The
    rank-join reproduces the engine's searchsorted anchor pick: rleft =
    #valid cells strictly before the gap cell along the axis."""
    part, ordc = (("gy", "gx") if axis == "r" else ("gx", "gy"))
    a = axis
    t = f"((g.{ordc} - v1.{ordc}) / CAST(v2.{ordc} - v1.{ordc} AS DOUBLE))"
    if not cubic:
        formula = f"v1.bz * (1.0 - {t}) + v2.bz * {t}"
        outer = ""
    else:
        p0 = "COALESCE(v0.bz, v1.bz)"
        p3 = "COALESCE(v3.bz, v2.bz)"
        formula = (
            f"0.5 * ((2.0 * v1.bz) + (-{p0} + v2.bz) * {t} "
            f"+ (2.0 * {p0} - 5.0 * v1.bz + 4.0 * v2.bz - {p3}) * {t} * {t} "
            f"+ (-{p0} + 3.0 * v1.bz - 3.0 * v2.bz + {p3}) * {t} * {t} * {t})"
        )
        outer = f"""
  LEFT JOIN {a}v v0 ON v0.tilecode = g.tilecode AND v0.{part} = g.{part}
                    AND v0.rn = g.rleft - 1
  LEFT JOIN {a}v v3 ON v3.tilecode = g.tilecode AND v3.{part} = g.{part}
                    AND v3.rn = g.rleft + 2"""
    return f"""
{a}v AS (
  SELECT tilecode, {part}, {ordc}, building_z AS bz,
         row_number() OVER (PARTITION BY tilecode, {part}
                            ORDER BY {ordc}) AS rn
  FROM raster WHERE building_z IS NOT NULL
),
{a}nv AS (SELECT tilecode, {part}, COUNT(*) AS nv FROM {a}v
          GROUP BY tilecode, {part}),
{a}g AS (
  SELECT * FROM (
    SELECT r.tilecode, r.{part}, r.{ordc}, r.gx, r.gy, r.building_z,
           COUNT(r.building_z) OVER (
             PARTITION BY r.tilecode, r.{part} ORDER BY r.{ordc}
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rleft
    FROM raster r
  ) WHERE building_z IS NULL
),
{a}est AS (
  SELECT g.gx, g.gy, {formula} AS est
  FROM {a}g g
  JOIN {a}nv n ON n.tilecode = g.tilecode AND n.{part} = g.{part}
  JOIN {a}v v1 ON v1.tilecode = g.tilecode AND v1.{part} = g.{part}
               AND v1.rn = g.rleft
  JOIN {a}v v2 ON v2.tilecode = g.tilecode AND v2.{part} = g.{part}
               AND v2.rn = g.rleft + 1{outer}
  WHERE g.rleft >= 1 AND g.rleft < n.nv
    AND v2.{ordc} - v1.{ordc} <= {max_gap}
)"""


def _sep_fill_sql(raster_cte: str, cubic: bool, max_gap: int) -> str:
    est = f"""
{_axis_est_sql('r', cubic, max_gap).strip()},
{_axis_est_sql('c', cubic, max_gap).strip()},
est AS (
  SELECT COALESCE(r.gx, c.gx) AS gx, COALESCE(r.gy, c.gy) AS gy,
         CASE WHEN r.est IS NOT NULL AND c.est IS NOT NULL
              THEN (r.est + c.est) / 2.0
              ELSE COALESCE(r.est, c.est) END AS est
  FROM rest r FULL OUTER JOIN cest c ON c.gx = r.gx AND c.gy = r.gy
)"""
    return _fill_out_sql(raster_cte, est.strip())


def fill_gaps_linear_sql(raster_cte: str, max_gap: int = 6) -> str:
    """Separable linear fill (fill_grid_linear)."""
    return _sep_fill_sql(raster_cte, cubic=False, max_gap=max_gap)


def fill_gaps_cubic_sql(raster_cte: str, max_gap: int = 6) -> str:
    """Separable Catmull–Rom fill (fill_grid_cubic)."""
    return _sep_fill_sql(raster_cte, cubic=True, max_gap=max_gap)
