"""Deterministic synthetic reference layers (dimension tables).

Mirrors the reference's BGT layer readers — polygon layer
(src/upcp/utils/bgt_utils.py:129-166), point-object layer (:97-126),
line layer (:169-197) — as small, seeded, pure-function generators
(FIXTURES.md §2-4; no external data). The same literal rows feed BOTH
the Spark broadcast DataFrame and the DuckDB oracle's VALUES clause, so
join-output parity is guaranteed by construction.

Layers are dimension tables: tens-to-thousands of rows against a
10^12-row fact table, i.e. always the broadcast side of every join.
Polygons are stored both as vertex rings (for grouped-map geometry) and
pre-exploded to an edge table with per-edge polygon bbox — the edge
table is what the pure-Catalyst ray-cast PIP join consumes.

Each ``*_df`` is built once per session (``session.per_session``): its
rows are literals, so the DataFrame is a plan constant, and
``createDataFrame`` with schema inference costs tens of milliseconds of
driver time per call.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

from ..session import per_session

X_LO, X_HI = 119250.0, 119400.0
Y_LO, Y_HI = 485050.0, 485200.0
TILE = 50.0

ROAD_TYPES = ("rijbaan_lokale_weg", "fietspad", "voetpad")
POINT_TYPES = ("boom", "lichtmast", "verkeersbord", "bank", "afvalbak")


def _lcg(seed: int = 42):
    state = seed & ((1 << 64) - 1)
    while True:
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        yield state >> 33


def _snap(v: float) -> float:
    """Snap to 0.25 m so every vertex is an exactly-representable double."""
    return round(v * 4) / 4.0


@lru_cache(maxsize=1)
def polygon_layer() -> list[dict]:
    """Polygons: per tile two 'pand' rectangles + one diamond straddling
    the tile's right edge; window-wide road strips; one L-shape with a
    hole in the demo tile. Rings are closed (first == last vertex)."""
    rng = _lcg(42)
    polys: list[dict] = []
    pid = 0
    for tx in (2385, 2386, 2387):
        for ty in (9701, 9702, 9703):
            ox, oy = tx * TILE, ty * TILE
            for _ in range(2):
                u = _snap(5 + (next(rng) % 100) / 4.0)   # 5..30
                v = _snap(5 + (next(rng) % 100) / 4.0)
                w = _snap(6 + (next(rng) % 48) / 4.0)    # 6..18
                h = _snap(6 + (next(rng) % 48) / 4.0)
                x0, y0 = ox + u, oy + v
                x1, y1 = min(x0 + w, ox + 49.0), min(y0 + h, oy + 49.0)
                ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
                polys.append(
                    {"layer": "buildings", "polygon_id": pid,
                     "bgt_type": "pand", "rings": [ring]}
                )
                pid += 1
            # diamond centred on the tile's right edge → straddles tiles
            cx, cy = ox + TILE, oy + _snap(10 + (next(rng) % 120) / 4.0)
            d = _snap(4 + (next(rng) % 16) / 4.0)
            ring = [(cx + d, cy), (cx, cy + d), (cx - d, cy), (cx, cy - d),
                    (cx + d, cy)]
            polys.append(
                {"layer": "buildings", "polygon_id": pid,
                 "bgt_type": "pand", "rings": [ring]}
            )
            pid += 1
    # window-wide horizontal road strips (cross every tile column)
    for i, (band, rtype) in enumerate(
        zip((485065.0, 485115.0, 485170.0), ROAD_TYPES)
    ):
        ring = [(X_LO, band), (X_HI, band), (X_HI, band + 6.0),
                (X_LO, band + 6.0), (X_LO, band)]
        polys.append(
            {"layer": "roads", "polygon_id": pid, "bgt_type": rtype,
             "rings": [ring]}
        )
        pid += 1
    # L-shape with a square hole in demo tile 2386_9702
    outer = [(119310.0, 485110.0), (119330.0, 485110.0), (119330.0, 485118.0),
             (119318.0, 485118.0), (119318.0, 485130.0), (119310.0, 485130.0),
             (119310.0, 485110.0)]
    hole = [(119312.0, 485112.0), (119316.0, 485112.0), (119316.0, 485116.0),
            (119312.0, 485116.0), (119312.0, 485112.0)]
    polys.append(
        {"layer": "buildings", "polygon_id": pid, "bgt_type": "pand",
         "rings": [outer, hole]}
    )
    for p in polys:
        xs = [v[0] for ring in p["rings"] for v in ring]
        ys = [v[1] for ring in p["rings"] for v in ring]
        p["x_min"], p["x_max"] = min(xs), max(xs)
        p["y_min"], p["y_max"] = min(ys), max(ys)
    return polys


@lru_cache(maxsize=1)
def polygon_edges() -> list[tuple]:
    """Flatten all rings (outer + holes — even-odd rule handles holes)
    to edge rows carrying the polygon bbox for the pre-filter conjunct.
    Horizontal edges are kept (they never cross the upward ray test)."""
    rows = []
    for p in polygon_layer():
        for ring in p["rings"]:
            for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                rows.append(
                    (p["layer"], p["polygon_id"], p["bgt_type"],
                     x1, y1, x2, y2,
                     p["x_min"], p["y_min"], p["x_max"], p["y_max"])
                )
    return rows


EDGE_COLS = ("layer", "polygon_id", "bgt_type", "x1", "y1", "x2", "y2",
             "px_min", "py_min", "px_max", "py_max")


@per_session
def polygon_edges_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(polygon_edges(), schema=list(EDGE_COLS))


def polygon_edges_values_sql() -> str:
    """DuckDB FROM-clause literal: (VALUES ...) e(layer, polygon_id, ...)."""
    rows = ", ".join(
        "(" + ", ".join(
            f"'{v}'" if isinstance(v, str) else repr(float(v)) if isinstance(v, float) else str(v)
            for v in row
        ) + ")"
        for row in polygon_edges()
    )
    return f"(VALUES {rows}) AS e({', '.join(EDGE_COLS)})"


META_COLS = ("layer", "polygon_id", "bgt_type", "x_min", "y_min", "x_max", "y_max")


def polygons_meta() -> list[tuple]:
    """One row per polygon: id/type + bbox (the reference layer
    DataFrame shape, bgt_utils.py:135 sans the vertex string)."""
    return [
        (p["layer"], p["polygon_id"], p["bgt_type"],
         p["x_min"], p["y_min"], p["x_max"], p["y_max"])
        for p in polygon_layer()
    ]


@per_session
def polygons_meta_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(polygons_meta(), schema=list(META_COLS))


def polygons_meta_values_sql() -> str:
    rows = ", ".join(
        f"('{l}', {pid}, '{t}', {xmin!r}, {ymin!r}, {xmax!r}, {ymax!r})"
        for (l, pid, t, xmin, ymin, xmax, ymax) in polygons_meta()
    )
    return f"(VALUES {rows}) AS g({', '.join(META_COLS)})"


@lru_cache(maxsize=1)
def point_layer() -> list[tuple]:
    """Point objects (bgt_type, obj_id, x, y, z): poles/trees/furniture
    registry, plus a z attribute used as the IDW value source."""
    rng = _lcg(7)
    rows = []
    for i in range(24):
        x = _snap(X_LO + 2 + (next(rng) % 584) / 4.0)   # within window
        y = _snap(Y_LO + 2 + (next(rng) % 584) / 4.0)
        z = ((i * 37) % 80) / 10.0
        rows.append((POINT_TYPES[i % len(POINT_TYPES)], i, x, y, z))
    return rows


POINT_COLS = ("bgt_type", "obj_id", "x", "y", "z")


@per_session
def point_layer_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(point_layer(), schema=list(POINT_COLS))


def point_layer_values_sql() -> str:
    rows = ", ".join(
        f"('{t}', {i}, {x!r}, {y!r}, {z!r})" for (t, i, x, y, z) in point_layer()
    )
    return f"(VALUES {rows}) AS o({', '.join(POINT_COLS)})"


@lru_cache(maxsize=1)
def line_layer() -> list[dict]:
    """Tram-track polylines (reference bgt_utils.py:169-197)."""
    lines = [
        {"bgt_type": "tramtracks", "line_id": 0,
         "vertices": [(X_LO, 485125.0), (119300.0, 485128.0),
                      (119350.0, 485122.0), (X_HI, 485125.0)]},
        {"bgt_type": "tramtracks", "line_id": 1,
         "vertices": [(119260.0, Y_LO), (119320.0, 485120.0),
                      (119390.0, Y_HI)]},
    ]
    for ln in lines:
        xs = [v[0] for v in ln["vertices"]]
        ys = [v[1] for v in ln["vertices"]]
        ln["x_min"], ln["x_max"] = min(xs), max(xs)
        ln["y_min"], ln["y_max"] = min(ys), max(ys)
    return lines


def line_segments() -> list[tuple]:
    rows = []
    for ln in line_layer():
        for j, ((x1, y1), (x2, y2)) in enumerate(
            zip(ln["vertices"], ln["vertices"][1:])
        ):
            rows.append((ln["bgt_type"], ln["line_id"], j, x1, y1, x2, y2))
    return rows


SEGMENT_COLS = ("bgt_type", "line_id", "seg_idx", "x1", "y1", "x2", "y2")


@per_session
def line_segments_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(line_segments(), schema=list(SEGMENT_COLS))


def line_segments_values_sql() -> str:
    rows = ", ".join(
        f"('{t}', {lid}, {j}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for (t, lid, j, x1, y1, x2, y2) in line_segments()
    )
    return f"(VALUES {rows}) AS s({', '.join(SEGMENT_COLS)})"


def road_strips() -> list[tuple]:
    """Axis-aligned road-strip rectangles (rid, rx0, ry0, rx1, ry1) —
    the road layer's bboxes equal the polygons exactly (the strips are
    axis-aligned), so rectangle-intersection areas are exact."""
    return [
        (p["polygon_id"], p["x_min"], p["y_min"], p["x_max"], p["y_max"])
        for p in polygon_layer()
        if p["layer"] == "roads"
    ]


@per_session
def roads_meta_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        road_strips(), schema=["rid", "rx0", "ry0", "rx1", "ry1"]
    )


def road_strips_values_sql() -> str:
    rows = ", ".join(
        f"({rid}, {rx0!r}, {ry0!r}, {rx1!r}, {ry1!r})"
        for rid, rx0, ry0, rx1, ry1 in road_strips()
    )
    return f"(VALUES {rows}) AS r(rid, rx0, ry0, rx1, ry1)"
