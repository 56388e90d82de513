"""Point-in-polygon: one crossing-number test in two execution shapes.

The reference's PIP is a numba crossing-number kernel per polygon
(src/upcp/utils/clip_utils.py:119-190) wrapped by poly_clip's bbox
pre-filter (:193-238). Here the same test — an upward ray from the
point, strict '<', even-odd parity over ALL rings so interior rings
(holes) fall out for free (clip_utils.py:227-236) — runs as:

1. **Arrow kernel** (``pip_hits_arrow``, ``pip_flags_pandas_udf``): the
   polygon layer is a plan-build-time Python list
   (sources/layers.polygon_layer()-shaped dicts). Each Arrow batch of
   (x, y) goes through ``_contained`` once: per polygon a bbox gate,
   then an XOR fold of the crossing test over its edges. Map-only —
   no θ-join, no pair-aggregation exchange.
2. **Edge join** (``pip_hits``, ``pip_flag``): for layers given as an
   edge DataFrame (sources/layers.EDGE_COLS, one row per edge carrying
   the polygon bbox) — parsed layers, or layers too big to hold on the
   driver. Points join the broadcast edge table on the bbox conjunct
   (the reference's pre-filter, clip_utils.py:219-224) and crossing
   parity per (point, polygon) is a groupBy + sum, whose map-side
   partial aggregation keeps the shuffle at one row per candidate pair.

``pip_hits_sql`` is the DuckDB oracle. Every path evaluates the
crossing test with the same float64 expression, so results are
bit-identical across them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --- Edge join ---------------------------------------------------------

def _crossing(px: Column, py: Column) -> Column:
    y1, y2 = F.col("y1"), F.col("y2")
    x1, x2 = F.col("x1"), F.col("x2")
    straddles = (y1 > py) != (y2 > py)
    # strict '<': upward ray from the point; horizontal edges are
    # filtered out by the straddles test (y1 != y2 whenever it's true).
    intersects_right = px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
    return straddles & intersects_right


def pip_hits(points: DataFrame, edges: DataFrame,
             point_id: str = "page_id", x: str = "x", y: str = "y",
             keep_cols: tuple[str, ...] = ("layer", "bgt_type")) -> DataFrame:
    """(point × polygon) pairs where the point lies inside the polygon.

    ``edges`` schema: sources/layers.EDGE_COLS. Returns one row per
    containing pair with ``point_id``, ``polygon_id`` and ``keep_cols``.
    """
    px, py = F.col(x), F.col(y)
    bbox = (px >= F.col("px_min")) & (px <= F.col("px_max")) & \
           (py >= F.col("py_min")) & (py <= F.col("py_max"))
    pair_cols = [point_id, "polygon_id", *keep_cols]
    grouped = (
        points.join(F.broadcast(edges), bbox)
        .groupBy(*pair_cols)
        .agg(F.sum(_crossing(px, py).cast("int")).alias("crossings"))
    )
    return grouped.filter(grouped["crossings"] % 2 == 1).select(*pair_cols)


def pip_flag(points: DataFrame, edges: DataFrame, flag: str,
             point_id: str = "page_id") -> DataFrame:
    """Append a boolean ``flag`` column = inside-any-polygon. Used by
    fuser stages that AND the PIP result with other predicates.

    The hits side scales with the data (NOT a dimension table), so it
    is deliberately not broadcast — the join-back is an equi-join on
    the id that AQE turns into broadcast only when hits are small."""
    hits = (
        pip_hits(points, edges, point_id=point_id)
        .select(point_id).distinct().withColumn(flag, F.lit(True))
    )
    return points.join(hits, point_id, "left").fillna({flag: False})


# --- Arrow kernel ------------------------------------------------------

def _prep_polys(polygons: list[dict], types: list[str] | None):
    """Per polygon: its non-horizontal edges as an (n, 4) float64 array
    of (x1, y1, x2, y2), and its bbox. Horizontal edges never straddle
    the ray (and would divide by zero), so they are dropped here."""
    return [
        (
            np.asarray(
                [
                    (x1, y1, x2, y2)
                    for ring in p["rings"]
                    for (x1, y1), (x2, y2) in zip(ring, ring[1:])
                    if y1 != y2
                ],
                dtype=np.float64,
            ),
            (p["x_min"], p["y_min"], p["x_max"], p["y_max"]),
        )
        for p in polygons
        if types is None or p["bgt_type"] in types
    ]


def _contained(px: np.ndarray, py: np.ndarray, prep: list):
    """Yield ``(i, rows)`` for each polygon ``prep[i]`` that contains
    at least one point: ``rows`` indexes the points inside it. Each
    edge's crossing test is one NumPy op over the gated rows."""
    for i, (edges, (bx0, by0, bx1, by1)) in enumerate(prep):
        # bbox gate FIRST (clip_utils.py:219-224): the crossing tests
        # then touch only the few rows inside this polygon's bbox
        idx = np.nonzero((px >= bx0) & (px <= bx1) & (py >= by0) & (py <= by1))[0]
        if idx.size == 0:
            continue
        sx, sy = px[idx], py[idx]
        parity = np.zeros(idx.size, dtype=bool)
        for x1, y1, x2, y2 in edges:
            # the same float expression as _crossing and the oracle SQL
            straddles = (y1 > sy) != (y2 > sy)
            parity ^= straddles & (sx < (x2 - x1) * (sy - y1) / (y2 - y1) + x1)
        rows = idx[parity]
        if rows.size:
            yield i, rows


_SQL_TYPES = {bool: "boolean", int: "long", float: "double", str: "string"}


def _sql_type(polys: list[dict], col: str) -> str:
    """Spark SQL type of a polygon metadata field, from its first
    non-null value (``string`` when every value is null)."""
    vals = [p[col] for p in polys if p[col] is not None]
    return _SQL_TYPES[type(vals[0])] if vals else "string"


def pip_hits_arrow(points: DataFrame, polygons: list[dict],
                   point_id: str = "page_id", x: str = "x", y: str = "y",
                   keep_cols: tuple[str, ...] = ("layer", "bgt_type"),
                   types: list[str] | None = None) -> DataFrame:
    """Map-only twin of ``pip_hits`` for an in-plan polygon layer: one
    ``mapInArrow`` pass emits the (point, polygon-index) containment
    pairs straight from ``_contained`` — no bbox θ-join and no
    (point × polygon) crossing-parity exchange (guide §2.4). Polygon
    metadata re-attaches via a broadcast of one row per polygon.

    The point id keeps its type from ``points``; ``polygon_id`` and
    ``keep_cols`` take theirs from the polygon dicts."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    polys = [p for p in polygons
             if types is None or p["bgt_type"] in types]
    prep = _prep_polys(polys, None)

    def hits(batches):
        for batch in batches:
            px = batch.column(1).to_numpy(zero_copy_only=False)
            py = batch.column(2).to_numpy(zero_copy_only=False)
            found = list(_contained(px, py, prep))
            if found:
                rows = np.concatenate([r for _, r in found])
                pidx = np.concatenate(
                    [np.full(r.size, i, dtype=np.int32) for i, r in found]
                )
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0).take(pa.array(rows)), pa.array(pidx)],
                    names=[point_id, "_pidx"],
                )

    out_schema = StructType(
        [points.schema[point_id], StructField("_pidx", IntegerType())]
    )
    pairs = points.select(point_id, x, y).mapInArrow(hits, out_schema)
    meta_cols = ("polygon_id", *keep_cols)
    meta = points.sparkSession.createDataFrame(
        [(i, *[p[c] for c in meta_cols]) for i, p in enumerate(polys)],
        ", ".join(["_pidx int",
                   *(f"{c} {_sql_type(polys, c)}" for c in meta_cols)]),
    )
    return pairs.join(F.broadcast(meta), "_pidx").select(point_id, *meta_cols)


def pip_flags_pandas_udf(polygons: list[dict],
                         flag_types: dict[str, list[str] | None]):
    """Inside-any-polygon flags as ONE vectorized Arrow pandas UDF over
    (x, y) that returns a struct of booleans, one field per flag.
    ``flag_types`` maps flag name → bgt_type values (None = every
    polygon); a single flag is a one-entry map. All flags share one x/y
    transfer — at scale the Arrow transfer, not the crossing math,
    dominates PIP cost."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    per_flag = {f: _prep_polys(polygons, ts) for f, ts in flag_types.items()}
    schema = StructType([StructField(f, BooleanType()) for f in per_flag])

    @F.pandas_udf(schema)
    def inside(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        px = x.to_numpy(dtype=np.float64)
        py = y.to_numpy(dtype=np.float64)
        cols = {}
        for f, prep in per_flag.items():
            out = np.zeros(len(px), dtype=bool)
            for _, rows in _contained(px, py, prep):
                out[rows] = True
            cols[f] = out
        return pd.DataFrame(cols)

    return inside


# --- DuckDB oracle SQL -------------------------------------------------

def pip_hits_sql(pts_cte: str, edges_values: str,
                 point_id: str = "page_id",
                 type_filter: str | None = None) -> str:
    """Oracle for pip_hits: same ray-cast, same even-odd rule."""
    where = f"WHERE {type_filter} " if type_filter else ""
    return f"""
WITH pts AS ({pts_cte}),
cand AS (
  SELECT p.{point_id}, e.polygon_id, e.layer, e.bgt_type,
         SUM(CASE WHEN ((e.y1 > p.y) != (e.y2 > p.y))
                   AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END) AS crossings
  FROM pts p
  JOIN {edges_values}
    ON p.x >= e.px_min AND p.x <= e.px_max
   AND p.y >= e.py_min AND p.y <= e.py_max
  {where}
  GROUP BY 1, 2, 3, 4
)
SELECT {point_id}, polygon_id, layer, bgt_type
FROM cand WHERE crossings % 2 = 1
"""
