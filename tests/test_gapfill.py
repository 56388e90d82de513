"""Gap-fill semantics vs a tiny independent NumPy oracle."""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from urban_pointcloud_processing_spark.operators.gapfill import (
    fill_building_gaps,
    fill_grid_centi_round1,
)
from urban_pointcloud_processing_spark.sources.raster import raster_df


def test_fill_grid_single_gap():
    g = np.array([[1.0, 1.0, 1.0], [1.0, np.nan, 3.0], [1.0, 1.0, 1.0]])
    out = fill_grid_centi_round1(g)
    # mean of the 8 known neighbors
    assert out[1, 1] == pytest.approx((1 * 7 + 3) / 8)
    # known cells untouched
    assert out[0, 0] == 1.0 and out[1, 2] == 3.0


def test_fill_grid_depth_bound():
    # a 1×5 strip with a 3-wide gap: one round fills only the gap's
    # edge cells (the reference's max_gap_size analog)
    g = np.array([[1.0, np.nan, np.nan, np.nan, 5.0]])
    r1 = fill_grid_centi_round1(g)
    assert r1[0, 1] == 1.0 and r1[0, 3] == 5.0
    assert np.isnan(r1[0, 2])


def test_fill_building_gaps_grouped(spark):
    ras = raster_df(spark)
    out = fill_building_gaps(ras)
    stats = out.agg(
        F.sum(F.col("was_gap").cast("int")).alias("gaps"),
        F.sum(F.col("filled").cast("int")).alias("filled"),
        F.sum((~F.col("was_gap") & F.col("building_z").isNull()).cast("int")).alias(
            "lost"
        ),
    ).collect()[0]
    assert stats["gaps"] > 0
    assert 0 < stats["filled"] <= stats["gaps"]
    assert stats["lost"] == 0  # known cells never erased
    # spot-check one filled cell against the 3×3 nanmean on that tile
    row = out.filter(F.col("filled")).orderBy("gx", "gy").first()
    tile = ras.filter(F.col("tilecode") == row["tilecode"]).collect()
    gx0 = min(r["gx"] for r in tile)
    gy0 = min(r["gy"] for r in tile)
    nx = max(r["gx"] for r in tile) - gx0 + 1
    ny = max(r["gy"] for r in tile) - gy0 + 1
    grid = np.full((nx + 2, ny + 2), np.nan)  # one NaN cell of padding
    for r in tile:
        if r["building_z"] is not None:
            grid[r["gx"] - gx0 + 1, r["gy"] - gy0 + 1] = r["building_z"]
    i, j = row["gx"] - gx0 + 1, row["gy"] - gy0 + 1
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # an all-NaN window would warn
        oracle = np.nanmean(grid[i - 1:i + 2, j - 1:j + 2])
    assert oracle == pytest.approx(row["building_z"])


def test_fill_grid_linear_interpolates_and_gates():
    import numpy as np

    from urban_pointcloud_processing_spark.operators.gapfill import (
        fill_grid_linear,
    )

    # row: anchors 0.0 at col0 and 3.0 at col3 -> linear 1.0, 2.0 between
    g = np.full((1, 8), np.nan)
    g[0, 0], g[0, 3] = 0.0, 3.0
    out = fill_grid_linear(g, max_gap=6)
    assert out[0, 1] == 1.0 and out[0, 2] == 2.0
    assert np.isnan(out[0, 5])  # beyond the last anchor: not filled

    # gap wider than max_gap stays NaN
    g2 = np.full((1, 12), np.nan)
    g2[0, 0], g2[0, 11] = 0.0, 11.0
    out2 = fill_grid_linear(g2, max_gap=6)
    assert np.isnan(out2[0, 5])

    # both-axis average: cross of anchors
    g3 = np.full((3, 3), np.nan)
    g3[1, 0], g3[1, 2] = 0.0, 2.0   # row anchors -> 1.0 at center
    g3[0, 1], g3[2, 1] = 4.0, 6.0   # col anchors -> 5.0 at center
    out3 = fill_grid_linear(g3, max_gap=6)
    assert out3[1, 1] == 3.0  # mean(1.0, 5.0)


def test_fill_grid_cubic_reproduces_cubic_polynomial():
    import numpy as np

    from urban_pointcloud_processing_spark.operators.gapfill import (
        fill_grid_cubic,
        fill_grid_linear,
    )

    # samples of a cubic polynomial with interior points removed:
    # Catmull-Rom reproduces quadratics exactly and tracks cubics far
    # better than linear interpolation
    def f(x):
        return 0.05 * x ** 2 + 0.2 * x + 1.0

    g = np.full((1, 9), np.nan)
    for j in (0, 2, 4, 6, 8):
        g[0, j] = f(j)
    cubic = fill_grid_cubic(g, max_gap=6)
    # interior odd cells (with two anchors each side) are exact for a
    # quadratic under Catmull-Rom
    assert abs(cubic[0, 3] - f(3)) < 1e-12
    assert abs(cubic[0, 5] - f(5)) < 1e-12
    lin = fill_grid_linear(g, max_gap=6)
    assert abs(lin[0, 3] - f(3)) > 1e-3  # linear misses the curvature

    # gap gate still applies
    g2 = np.full((1, 12), np.nan)
    g2[0, 0], g2[0, 11] = 0.0, 11.0
    assert np.isnan(fill_grid_cubic(g2, max_gap=6)[0, 5])


def test_smoothen_edges_grid():
    """Reference smoothen_edges semantics (ahn_utils.py:458-508):
    only NaN cells on the CROSS-dilation border of the data mask are
    filled, with the 3×3 nanmean; deeper gap cells stay NaN."""
    import numpy as np

    from urban_pointcloud_processing_spark.operators.gapfill import (
        smoothen_edges_grid,
    )

    g = np.full((7, 7), 10.0)
    g[1:6, 1:6] = np.nan  # 5x5 gap; center (3,3) is 2 away from data
    out = smoothen_edges_grid(g, thickness=1)
    # border ring of the gap (Manhattan distance 1 from data) filled
    assert out[1, 1] == 10.0 and out[1, 3] == 10.0
    # interior of the gap untouched
    assert np.isnan(out[3, 3]) and np.isnan(out[2, 3])
    # corner (2,2) is diagonal to data only -> Manhattan distance 2,
    # NOT on the cross-dilation border
    assert np.isnan(out[2, 2])
    # thickness=2 widens the edge set, but the 3×3 nanmean footprint
    # sees no data from ring-2 cells — they stay NaN, faithfully
    # mirroring the reference (its TODO: thickness > 2 would need a
    # bigger footprint; same already true for the ring-2 cells here)
    out2 = smoothen_edges_grid(g, thickness=2)
    assert np.isnan(out2[2, 2]) and np.isnan(out2[3, 3])
    assert out2[1, 1] == 10.0  # ring-1 still filled
    # valid cells never modified
    assert (out[~np.isnan(g)] == g[~np.isnan(g)]).all()
