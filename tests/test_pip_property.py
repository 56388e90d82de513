"""Property tests for the PIP kernel (SURVEY.md §5): the NumPy Arrow
kernel must agree with an independent pure-Python crossing-number
oracle on random polygons/points, and with the Catalyst edge join on
edge/vertex cases."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from urban_pointcloud_processing_spark.functions.pip import (
    pip_flags_pandas_udf,
    pip_hits,
    pip_hits_arrow,
)
from urban_pointcloud_processing_spark.sources.layers import EDGE_COLS


def py_inside(px: float, py: float, rings) -> bool:
    """Independent crossing-number oracle (even-odd over all rings)."""
    parity = False
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if y1 == y2:
                continue
            if (y1 > py) != (y2 > py):
                if px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                    parity = not parity
    return parity


def _poly(cx: float, cy: float, r: float, k: int) -> dict:
    """Regular k-gon on a 0.25 grid (snapped) around (cx, cy)."""
    import math

    ring = []
    for i in range(k):
        a = 2 * math.pi * i / k
        ring.append(
            (round((cx + r * math.cos(a)) * 4) / 4,
             round((cy + r * math.sin(a)) * 4) / 4)
        )
    ring.append(ring[0])
    xs = [v[0] for v in ring]
    ys = [v[1] for v in ring]
    return {
        "bgt_type": "pand", "rings": [ring],
        "x_min": min(xs), "x_max": max(xs),
        "y_min": min(ys), "y_max": max(ys),
    }


coord = st.integers(min_value=0, max_value=400).map(lambda v: v / 4.0)


@settings(max_examples=30, deadline=None)
@given(
    pts=st.lists(st.tuples(coord, coord), min_size=1, max_size=20),
    cx=st.integers(20, 80).map(float),
    cy=st.integers(20, 80).map(float),
    r=st.integers(4, 40).map(lambda v: v / 2.0),
    k=st.integers(3, 9),
)
def test_pandas_udf_matches_python_oracle(pts, cx, cy, r, k):
    poly = _poly(cx, cy, r, k)
    # exercise the UDF body directly (no Spark job per example)
    f = pip_flags_pandas_udf([poly], {"f": ["pand"]}).func
    xs = pd.Series([p[0] for p in pts], dtype=float)
    ys = pd.Series([p[1] for p in pts], dtype=float)
    got = list(f(xs, ys)["f"])
    want = [
        py_inside(px, py, poly["rings"])
        and poly["x_min"] <= px <= poly["x_max"]
        and poly["y_min"] <= py <= poly["y_max"]
        for px, py in pts
    ]
    assert got == want


def _edges_df(spark, polys: list[dict]):
    """sources/layers.EDGE_COLS rows for polygon_layer()-shaped dicts."""
    rows = [
        (p["layer"], p["polygon_id"], p["bgt_type"], x1, y1, x2, y2,
         p["x_min"], p["y_min"], p["x_max"], p["y_max"])
        for p in polys
        for ring in p["rings"]
        for (x1, y1), (x2, y2) in zip(ring, ring[1:])
    ]
    return spark.createDataFrame(rows, list(EDGE_COLS))


def test_kernel_and_edge_join_agree_on_vertices_and_edges(spark):
    # points ON vertices/edges of a square (boundary semantics must
    # match between the NumPy kernel and the Catalyst edge join exactly)
    sq = {
        "layer": "buildings", "polygon_id": 1, "bgt_type": "pand",
        "rings": [[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]],
        "x_min": 0.0, "x_max": 2.0, "y_min": 0.0, "y_max": 2.0,
    }
    pts = [
        (0, 0.0, 0.0), (1, 2.0, 2.0), (2, 1.0, 0.0), (3, 0.0, 1.0),
        (4, 2.0, 1.0), (5, 1.0, 2.0), (6, 1.0, 1.0), (7, 3.0, 1.0),
    ]
    df = spark.createDataFrame(pts, ["page_id", "x", "y"])
    flags = pip_flags_pandas_udf([sq], {"f": ["pand"]})(F.col("x"), F.col("y"))
    kernel = {r["page_id"] for r in df.filter(flags.getField("f")).collect()}
    arrow = {r["page_id"] for r in pip_hits_arrow(df, [sq]).collect()}
    join = {r["page_id"] for r in pip_hits(df, _edges_df(spark, [sq])).collect()}
    assert kernel == arrow == join
    assert 6 in kernel  # strict interior
    assert 7 not in kernel  # outside


def test_hits_arrow_keeps_input_and_metadata_types(spark):
    """The point id keeps its input type and keep_cols take the type
    of the polygon metadata (an int id and an int-valued column)."""
    sq = {
        "polygon_id": 9, "bgt_type": "pand", "floors": 3,
        "rings": [[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]],
        "x_min": 0.0, "x_max": 2.0, "y_min": 0.0, "y_max": 2.0,
    }
    df = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 3.0, 1.0)], "pid int, x double, y double"
    )
    out = pip_hits_arrow(df, [sq], point_id="pid", keep_cols=("floors",))
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("pid", "int"), ("polygon_id", "bigint"), ("floors", "bigint"),
    ]
    assert [tuple(r) for r in out.collect()] == [(1, 9, 3)]


def test_multi_flag_udf_matches_per_flag_udfs(spark):
    """pip_flags_pandas_udf with several flags (ONE Arrow pass, the
    PipEnricher path) must be bit-identical to one single-flag call per
    flag."""
    from urban_pointcloud_processing_spark.sources.layers import (
        ROAD_TYPES,
        polygon_layer,
    )
    from urban_pointcloud_processing_spark.sources.pages import (
        pages_from_orders,
    )

    polys = polygon_layer()
    flag_types = {"in_road": list(ROAD_TYPES), "in_building": ["pand"]}
    pages = pages_from_orders(spark, "/root/testdata/sf0.001")
    multi = pip_flags_pandas_udf(polys, flag_types)(F.col("x"), F.col("y"))
    df = pages.select(
        "page_id",
        multi.getField("in_road").alias("mr"),
        multi.getField("in_building").alias("mb"),
        pip_flags_pandas_udf(polys, {"r": flag_types["in_road"]})(
            F.col("x"), F.col("y")).getField("r").alias("sr"),
        pip_flags_pandas_udf(polys, {"b": flag_types["in_building"]})(
            F.col("x"), F.col("y")).getField("b").alias("sb"),
    )
    bad = df.filter(
        (F.col("mr") != F.col("sr")) | (F.col("mb") != F.col("sb"))
    ).count()
    assert bad == 0
    # sanity: both flags light up somewhere on the fixture
    lit_counts = df.agg(
        F.sum(F.col("mr").cast("int")), F.sum(F.col("mb").cast("int"))
    ).collect()[0]
    assert lit_counts[0] > 0 and lit_counts[1] > 0
