"""Per-session plan constants and the packed raster join key.

``session.per_session`` builds each plan constant (the raster, the
layer DataFrames, the geocode, tile and raster Columns) once per live
session. ``with_raster`` joins on one BIGINT cell key that is NULL for
coordinates without a cell, so NaN, ±Inf, NULL and huge coordinates
must get no raster values even where ``floor`` maps them onto a real
cell index (floor(NaN) is 0, floor(±Inf) and floor(±1e300) saturate).
"""

from __future__ import annotations

import math

from urban_pointcloud_processing_spark import session
from urban_pointcloud_processing_spark.session import per_session
from urban_pointcloud_processing_spark.sources.layers import polygon_edges_df
from urban_pointcloud_processing_spark.sources.raster import raster_df, with_raster

BIG = 9223372036854775807
OUT_COLS = ["gx", "gy", "page_id", "x", "y", "ground_z", "building_z"]


def test_with_raster_gives_no_cell_to_non_finite_coordinates(spark):
    inf, nan = math.inf, math.nan
    pages = spark.createDataFrame(
        [(1, 119300.5, 485100.25), (2, 0.5, 0.5), (3, -0.5, 485100.0),
         (4, 119301.0, 485100.0),
         (10, nan, 485100.0), (11, 119300.0, nan), (12, inf, 485100.0),
         (13, -inf, 485100.0), (14, None, 485100.0), (15, 119300.0, None),
         (16, 1e300, 485100.0), (17, -1e300, 485100.0), (18, 119300.0, 1e300)],
        "page_id long, x double, y double",
    )
    # cells where floor() puts the non-finite rows: (0, *) and (*, 0)
    # for NaN, the saturated long for ±Inf and ±1e300
    raster = spark.createDataFrame(
        [(0, 485100, 1.0, 2.0), (119300, 0, 1.5, 2.5), (0, 0, 3.0, None),
         (119300, 485100, 5.0, 6.0), (-1, 485100, 7.0, 8.0),
         (BIG, 485100, 9.0, 9.5), (-BIG - 1, 485100, 9.0, 9.5)],
        "gx long, gy long, ground_z double, building_z double",
    )
    out = with_raster(pages, raster)
    assert out.columns == OUT_COLS
    got = {r.page_id: (r.gx, r.gy, r.ground_z, r.building_z) for r in out.collect()}
    assert len(got) == 13
    assert got[1] == (119300, 485100, 5.0, 6.0)
    assert got[2] == (0, 0, 3.0, None)
    assert got[3] == (-1, 485100, 7.0, 8.0)
    assert got[4] == (119301, 485100, None, None)
    for pid in range(10, 19):
        assert got[pid][2:] == (None, None), (pid, got[pid])
    # gx, gy stay floor(x/res), floor(y/res) as before
    assert got[10][:2] == (0, 485100)
    assert got[12][:2] == (BIG, 485100)
    assert got[14][:2] == (None, 485100)


def test_raster_and_layers_are_built_once_per_session(spark):
    assert raster_df(spark) is raster_df(spark)
    assert polygon_edges_df(spark) is polygon_edges_df(spark)
    other = spark.newSession()
    assert raster_df(other) is not raster_df(spark)
    assert polygon_edges_df(other) is not polygon_edges_df(spark)
    assert raster_df(other) is raster_df(other)
    assert raster_df(other).sparkSession is other


def test_memo_stays_within_its_bound(spark):
    calls = []

    @per_session
    def const(s, i):
        calls.append(i)
        return (s, i)

    for i in range(3 * session.MEMO_MAX):
        assert const(spark, i) == (spark, i)
        assert len(session._MEMO) <= session.MEMO_MAX
    n = len(calls)
    assert const(spark, 3 * session.MEMO_MAX - 1) == (spark, 3 * session.MEMO_MAX - 1)
    assert len(calls) == n
