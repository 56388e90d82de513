"""Property tests for the PIP kernels (SURVEY.md §5): the cell-index
kernel (pip_flags) and the NumPy Arrow kernel must agree with an
independent pure-Python crossing-number oracle on random polygons and
points, including points on vertices, on edges and on cell borders,
and with the Catalyst edge join on edge/vertex cases."""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from urban_pointcloud_processing_spark.functions.pip import (
    _build_cells,
    pip_flag,
    pip_flags,
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


def _ring(cx: float, cy: float, r: float, k: int, phase: float = 0.0):
    """Closed regular k-gon ring on a 0.25 grid (snapped) around (cx, cy)."""
    ring = [
        (round((cx + r * math.cos(phase + 2 * math.pi * i / k)) * 4) / 4,
         round((cy + r * math.sin(phase + 2 * math.pi * i / k)) * 4) / 4)
        for i in range(k)
    ]
    return ring + [ring[0]]


def _from_rings(rings, bgt_type: str = "pand", polygon_id: int = 0) -> dict:
    xs = [v[0] for ring in rings for v in ring]
    ys = [v[1] for ring in rings for v in ring]
    return {
        "layer": "buildings", "polygon_id": polygon_id, "bgt_type": bgt_type,
        "rings": rings,
        "x_min": min(xs), "x_max": max(xs),
        "y_min": min(ys), "y_max": max(ys),
    }


def _poly(cx: float, cy: float, r: float, k: int) -> dict:
    """Regular k-gon on a 0.25 grid (snapped) around (cx, cy)."""
    return _from_rings([_ring(cx, cy, r, k)])


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
    # match between the NumPy kernel, the cell-index kernel and the
    # Catalyst edge join exactly)
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
    cells = {r["page_id"] for r in pip_flags(df, [sq], {"f": None}).filter("f").collect()}
    arrow = {r["page_id"] for r in pip_hits_arrow(df, [sq]).collect()}
    join = {r["page_id"] for r in pip_hits(df, _edges_df(spark, [sq])).collect()}
    assert kernel == cells == arrow == join
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
    """pip_flags_pandas_udf with several flags (ONE Arrow pass) must be
    bit-identical to one single-flag call per flag, and the cell-index
    kernel (pip_flags, the PipEnricher path) to both."""
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
    cells = pip_flags(pages.select("page_id", "x", "y"), polys, flag_types)
    df = df.join(cells.select("page_id", F.col("in_road").alias("cr"),
                              F.col("in_building").alias("cb")), "page_id")
    bad = df.filter(
        (F.col("mr") != F.col("sr")) | (F.col("mb") != F.col("sb"))
        | (F.col("mr") != F.col("cr")) | (F.col("mb") != F.col("cb"))
    ).count()
    assert bad == 0
    # sanity: both flags light up somewhere on the fixture
    lit_counts = df.agg(
        F.sum(F.col("mr").cast("int")), F.sum(F.col("mb").cast("int"))
    ).collect()[0]
    assert lit_counts[0] > 0 and lit_counts[1] > 0


def _want(px: float, py: float, polys: list[dict]) -> bool:
    """Oracle flag: inside some polygon, with the bbox gate every
    engine path applies."""
    return any(
        p["x_min"] <= px <= p["x_max"] and p["y_min"] <= py <= p["y_max"]
        and py_inside(px, py, p["rings"])
        for p in polys
    )


def _flags(spark, polys, flag_types, pts):
    """pip_flags over ``pts`` [(x, y), ...] → {flag: [bool per point]}."""
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "page_id long, x double, y double",
    )
    rows = sorted(pip_flags(df, polys, flag_types).collect())
    return {f: [r[f] for r in rows] for f in flag_types}


def _probe_points(polys: list[dict], res: float) -> list[tuple]:
    """Every vertex, every edge midpoint (exactly on the edge), and the
    cell borders and corners (multiples of ``res``) around each
    polygon's bbox, plus points a quarter cell off them; the vertices
    and cell corners also one ulp away on each axis."""
    pts, exact = set(), set()
    for p in polys:
        for ring in p["rings"]:
            for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                exact.add((x1, y1))
                pts.add(((x1 + x2) / 2, (y1 + y2) / 2))
        i0, i1 = math.floor(p["x_min"] / res) - 1, math.floor(p["x_max"] / res) + 2
        j0, j1 = math.floor(p["y_min"] / res) - 1, math.floor(p["y_max"] / res) + 2
        step = max(1, (i1 - i0) // 12)
        for i in range(i0, i1 + 1, step):
            for j in range(j0, j1 + 1, step):
                exact.add((i * res, j * res))
                for dx, dy in ((0.25, 0), (0, 0.25), (0.5, 0.5)):
                    pts.add(((i + dx) * res, (j + dy) * res))
    for x, y in exact:
        pts.update([(x, y), (math.nextafter(x, -math.inf), y),
                    (math.nextafter(x, math.inf), y),
                    (x, math.nextafter(y, -math.inf)),
                    (x, math.nextafter(y, math.inf))])
    return sorted(pts)


@settings(max_examples=25, deadline=None)
@given(
    pts=st.lists(st.tuples(coord, coord), min_size=1, max_size=30),
    shapes=st.lists(
        st.tuples(
            st.integers(20, 80).map(float), st.integers(20, 80).map(float),
            st.integers(4, 40).map(lambda v: v / 2.0), st.integers(3, 9),
            st.booleans(), st.sampled_from(["a", "b"]),
        ),
        min_size=1, max_size=3,
    ),
)
def test_cell_kernel_matches_python_oracle(spark, pts, shapes):
    """Random k-gons, some with a k-gon hole, split over two types:
    every flag of the cell-index kernel equals the oracle on random
    points, vertices, edge points and cell borders."""
    polys = []
    for q, (cx, cy, r, k, holed, t) in enumerate(shapes):
        rings = [_ring(cx, cy, r, k)]
        if holed:
            rings.append(_ring(cx + 0.25, cy, r / 3, k + 1, phase=0.3))
        polys.append(_from_rings(rings, t, q))
    flag_types = {"f_a": ["a"], "f_all": None}
    res = _build_cells(polys, flag_types).res
    probe = sorted(set(pts) | set(_probe_points(polys, res)))
    got = _flags(spark, polys, flag_types, probe)
    for f, ts in flag_types.items():
        sel = [p for p in polys if ts is None or p["bgt_type"] in ts]
        assert got[f] == [_want(x, y, sel) for x, y in probe], f


def test_horizontal_edge_inside_a_cell_splits_it(spark):
    """The top edge y = 1.3 runs through the interior of the cells of
    row 2 (1.0 <= y < 1.5). No non-horizontal edge touches the middle
    ones, so a classifier that only looks at non-horizontal edges calls
    them IN from their centres and flags points above the edge."""
    poly = _from_rings([[(0.0, 0.0), (2.0, 0.0), (2.0, 1.3), (0.0, 1.3), (0.0, 0.0)]])
    assert _build_cells([poly], {"f": None}).res == 0.5
    pts = [(0.75, 1.2), (0.75, 1.3), (0.75, 1.4), (1.25, 1.45), (1.0, 1.0), (1.0, 1.5)]
    assert _flags(spark, [poly], {"f": None}, pts)["f"] == [
        _want(x, y, [poly]) for x, y in pts
    ] == [True, False, False, False, True, False]


def test_coarse_cells_stay_exact(spark):
    """A layer too large for 0.5 m cells gets coarser power-of-two cells;
    flags stay exact on its vertices, edges and cell borders."""
    polys = [
        _from_rings([_ring(0.0, 0.0, 700.0, 7), _ring(30.0, -20.0, 200.0, 5)], "a", 0),
        _from_rings([_ring(900.0, 400.0, 300.0, 4, phase=0.2)], "b", 1),
    ]
    flag_types = {"f": None}
    res = _build_cells(polys, flag_types).res
    assert res > 0.5
    probe = _probe_points(polys, res)
    assert _flags(spark, polys, flag_types, probe)["f"] == [
        _want(x, y, polys) for x, y in probe
    ]


def test_non_finite_and_null_coordinates_flag_nothing(spark):
    """NaN, ±Inf and NULL coordinates are inside no polygon, also for a
    polygon covering the origin: Spark's floor(NaN / r) is 0, so a NaN
    point that reached the cell lookup would land in cell (0, 0)."""
    sq = _from_rings([[(-2.0, -2.0), (2.0, -2.0), (2.0, 2.0), (-2.0, 2.0), (-2.0, -2.0)]])
    nan, inf = float("nan"), float("inf")
    bad = [(nan, 0.0), (0.0, nan), (nan, nan), (inf, 0.0), (-inf, 0.0),
           (0.0, inf), (0.0, -inf), (None, 0.0), (0.0, None), (None, None)]
    rows = [(i, x, y) for i, (x, y) in enumerate([(0.0, 0.0), *bad])]
    df = spark.createDataFrame(rows, "page_id long, x double, y double")
    want = {0: True, **{i: False for i in range(1, len(rows))}}

    flags = pip_flags(df, [sq], {"f": None}).select("page_id", "f").collect()
    assert dict(map(tuple, flags)) == want
    joined = pip_flag(df, _edges_df(spark, [sq]), "f").select("page_id", "f").collect()
    assert dict(map(tuple, joined)) == want
    hits = {r["page_id"] for r in pip_hits_arrow(df, [sq]).collect()}
    assert hits == {0}
