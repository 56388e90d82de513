"""Point-in-polygon: one crossing-number test in three execution shapes.

The reference's PIP is a numba crossing-number kernel per polygon
(src/upcp/utils/clip_utils.py:119-190) wrapped by poly_clip's bbox
pre-filter (:193-238). Here the same test — a rightward ray from the
point, strict '<', even-odd parity over ALL rings so interior rings
(holes) fall out for free (clip_utils.py:227-236), gated by the
polygon bbox — runs as:

1. **Cell-index kernel** (``pip_flags``; caller: ``PipEnricher``, so
   the ``label_histogram``/``pipeline_*`` flagship and the 15-stage
   fold): inside-any-polygon flags, JVM only. At plan time the flag
   polygons are rasterised into a cell table keyed by
   ``floor(x/r), floor(y/r)`` (``r`` a power of two, so the division
   is exact). A cell no edge comes near is IN or left out (OUT); a
   cell an edge passes near is EDGE and carries, per polygon, its bbox
   and the edges a rightward ray from it can cross. Points
   broadcast-join the table; only points in EDGE cells run the crossing
   fold, as a Catalyst higher-order function.
2. **Arrow kernel** (``pip_hits_arrow``; callers: the ``pip_join`` and
   ``pip_roads`` queries): (point, polygon) containment pairs from one
   ``mapInArrow`` pass of ``_contained`` — per polygon a bbox gate,
   then an XOR fold of the crossing test over its edges. Map-only.
   ``pip_flags_pandas_udf`` is the same kernel as a flag UDF; no engine
   path uses it, it stays for the frozen ``bench.py`` ``pip_kernel``.
3. **Edge join** (``pip_hits``, ``pip_flag``; callers: the fusers'
   own flag when ``PipEnricher`` did not run, and layers given as an
   edge DataFrame, sources/layers.EDGE_COLS): points join the broadcast
   edge table on the bbox conjunct (clip_utils.py:219-224) and crossing
   parity per (point, polygon) is a groupBy + sum, whose map-side
   partial aggregation keeps the shuffle at one row per candidate pair.

``pip_hits_sql`` is the DuckDB oracle. Every path evaluates the
crossing test with the same float64 expression, so results are
bit-identical across them.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import per_session


# --- Edge join ---------------------------------------------------------

def _crossing(px: Column, py: Column, x1: Column, y1: Column, y2: Column,
              dx: Column, dy: Column) -> Column:
    """Does edge (x1, y1)→(x1 + dx, y2) cross the rightward ray from the
    point? ``dx``/``dy`` are the edge's x2 - x1 and y2 - y1."""
    straddles = (y1 > py) != (y2 > py)
    # strict '<': rightward ray from the point; horizontal edges are
    # filtered out by the straddles test (y1 != y2 whenever it's true).
    intersects_right = px < dx * (py - y1) / dy + x1
    return straddles & intersects_right


def pip_hits(points: DataFrame, edges: DataFrame,
             point_id: str = "page_id", x: str = "x", y: str = "y",
             keep_cols: tuple[str, ...] = ("layer", "bgt_type")) -> DataFrame:
    """(point × polygon) pairs where the point lies inside the polygon.

    ``edges`` schema: sources/layers.EDGE_COLS. Returns one row per
    containing pair with ``point_id``, ``polygon_id`` and ``keep_cols``.
    """
    px, py = F.col(x), F.col(y)
    x1, y1, x2, y2 = (F.col(c) for c in ("x1", "y1", "x2", "y2"))
    bbox = (px >= F.col("px_min")) & (px <= F.col("px_max")) & \
           (py >= F.col("py_min")) & (py <= F.col("py_max"))
    pair_cols = [point_id, "polygon_id", *keep_cols]
    grouped = (
        points.join(F.broadcast(edges), bbox)
        .groupBy(*pair_cols)
        .agg(F.sum(_crossing(px, py, x1, y1, y2, x2 - x1, y2 - y1)
                   .cast("int")).alias("crossings"))
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
    polygon); a single flag is a one-entry map.

    No engine path calls this: ``PipEnricher`` runs ``pip_flags``. It
    stays only because the frozen ``bench.py`` ``pip_kernel`` imports
    it."""
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


# --- Cell-index kernel ------------------------------------------------

_RES0 = 0.5            # finest cell edge (m); a power of two
# Budget of polygon-bbox cells (an upper bound on table rows). Every
# plan ships the table to the JVM and broadcasts it; on 4 cores that
# added 0.04 s per plan at 77k rows, 0.25 s at 193k and 1.2 s at 773k.
_MAX_CELLS = 1 << 17
_MARGIN_REL = 2.0 ** -40


def _runs(n: np.ndarray) -> np.ndarray:
    """``0 .. n[k]-1`` for every k, back to back."""
    return np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n)


def _cells_along(e: np.ndarray, r: float, m: float):
    """``(i, j)`` of every cell whose closed square grown by ``m`` meets
    some segment ``e[k] = (x1, y1, x2, y2)``, with repeats. Edges are
    walked along their major axis, one column (or row) of cells at a
    time, so the interpolated minor coordinate moves at most one cell
    per cell."""
    steep = np.abs(e[:, 3] - e[:, 1]) > np.abs(e[:, 2] - e[:, 0])
    a1, b1, a2, b2 = np.where(steep[:, None], e[:, [1, 0, 3, 2]], e).T
    lo_a, hi_a = np.minimum(a1, a2), np.maximum(a1, a2)
    i0 = np.ceil((lo_a - m) / r).astype(np.int64) - 1
    n = np.floor((hi_a + m) / r).astype(np.int64) - i0 + 1
    k = np.repeat(np.arange(len(e)), n)
    i = i0[k] + _runs(n)
    # the segment over this column's grown span, in the minor coordinate
    da = a2[k] - a1[k]
    slope = np.divide(b2[k] - b1[k], da, out=np.zeros(len(k)), where=da != 0)
    sa = np.maximum(i * r - m, lo_a[k])
    sb = np.minimum((i + 1) * r + m, hi_a[k])
    ba, bb = b1[k] + (sa - a1[k]) * slope, b1[k] + (sb - a1[k]) * slope
    lo_b, hi_b = np.minimum(ba, bb) - m, np.maximum(ba, bb) + m
    j0 = np.ceil((lo_b - m) / r).astype(np.int64) - 1
    nj = np.floor((hi_b + m) / r).astype(np.int64) - j0 + 1
    kk = np.repeat(np.arange(len(k)), nj)
    j = j0[kk] + _runs(nj)
    ci, sw = i[kk], steep[k[kk]]
    return np.where(sw, j, ci), np.where(sw, ci, j)


def _cell_res(polys: list[dict]) -> float:
    """The cell edge: ``_RES0``, doubled until the polygons' bbox cells
    (grown by the one-cell ring their EDGE cells can reach) fit
    ``_MAX_CELLS``, or until every polygon spans at most two cells a
    side. Powers of two keep ``x / r`` exact."""
    box = np.asarray([(p["x_min"], p["y_min"], p["x_max"], p["y_max"]) for p in polys])
    r = _RES0
    while True:
        g = np.floor(box / r)
        n = (g[:, 2] - g[:, 0] + 3) * (g[:, 3] - g[:, 1] + 3)
        if n.sum() <= _MAX_CELLS or n.max() <= 16:
            return r
        r *= 2


def _polygon_cells(p: dict, r: float, m: float):
    """Classify the cells of one polygon. Returns ``(inside, edge, keep,
    ne)``: the (n, 2) IN cells, the (k, 2) EDGE cells, the polygon's
    (h, 4) non-horizontal edges ``ne``, and the (k, h) mask of the
    edges a rightward ray from a point of each EDGE cell can cross."""
    e = np.asarray(
        [(x1, y1, x2, y2)
         for ring in p["rings"]
         for (x1, y1), (x2, y2) in zip(ring, ring[1:])],
        dtype=np.float64,
    ).reshape(-1, 4)
    # every edge, horizontal ones too, bounds the region of constant
    # containment, so every edge marks its cells EDGE
    edge = np.unique(np.stack(_cells_along(e, r, m), axis=1), axis=0)
    gx0, gx1 = int(np.floor(p["x_min"] / r)), int(np.floor(p["x_max"] / r))
    gy0, gy1 = int(np.floor(p["y_min"] / r)), int(np.floor(p["y_max"] / r))
    free = np.ones((gx1 - gx0 + 1, gy1 - gy0 + 1), dtype=bool)
    near = edge[(edge[:, 0] >= gx0) & (edge[:, 0] <= gx1)
                & (edge[:, 1] >= gy0) & (edge[:, 1] <= gy1)]
    free[near[:, 0] - gx0, near[:, 1] - gy0] = False
    cand = np.argwhere(free) + (gx0, gy0)
    # no edge comes within m of a free cell, so the float crossing test
    # is exact on it and containment is that of its centre
    ne = e[e[:, 1] != e[:, 3]]
    box = (p["x_min"], p["y_min"], p["x_max"], p["y_max"])
    hit = np.zeros(len(cand), dtype=bool)
    for _, rows in _contained((cand[:, 0] + 0.5) * r, (cand[:, 1] + 0.5) * r,
                              [(ne, box)]):
        hit[rows] = True
    inside = cand[hit]
    # edges a point of the cell can count: they straddle some y of the
    # cell's rows and do not lie wholly left of the cell
    y_lo, y_hi = np.minimum(ne[:, 1], ne[:, 3]), np.maximum(ne[:, 1], ne[:, 3])
    x_hi = np.maximum(ne[:, 0], ne[:, 2])
    cy0, cx0 = edge[:, 1:2] * r, edge[:, 0:1] * r
    keep = (y_lo < cy0 + r) & (y_hi > cy0) & (x_hi >= cx0 - m)
    return inside, edge, keep, ne


def _entry_array(rows: np.ndarray, nrows: int, polys: list[dict],
                 pidx: np.ndarray, counts: np.ndarray, edges: np.ndarray):
    """The per-row list of EDGE entries as an Arrow array of
    ``list<struct<x0, y0, x1, y1, e: list<struct<x1, y1, y2, dx, dy>>>>``
    (NULL where a row has none). Entries must be sorted by ``rows``;
    ``edges`` holds each entry's ``counts`` edges back to back."""
    import pyarrow as pa

    bbox = np.asarray(
        [(polys[q]["x_min"], polys[q]["y_min"], polys[q]["x_max"], polys[q]["y_max"])
         for q in pidx], dtype=np.float64,
    ).reshape(-1, 4)
    per_row = np.bincount(rows, minlength=nrows)
    # dx, dy are the very doubles Spark's x2 - x1 and y2 - y1 would give
    x1, y1, x2, y2 = edges.T
    edge_list = pa.ListArray.from_arrays(
        np.concatenate([[0], np.cumsum(counts)]).astype(np.int32),
        pa.StructArray.from_arrays([x1, y1, y2, x2 - x1, y2 - y1],
                                   ["x1", "y1", "y2", "dx", "dy"]),
    )
    entries = pa.StructArray.from_arrays(
        [*bbox.T, edge_list], ["x0", "y0", "x1", "y1", "e"]
    )
    return pa.ListArray.from_arrays(
        np.concatenate([[0], np.cumsum(per_row)]).astype(np.int32),
        entries, mask=pa.array(per_row == 0),
    )


@dataclass(frozen=True, eq=False)
class _CellGrid:
    """A flag spec rasterised: cell edge ``res``, the union bbox of the
    flag polygons (``x0, y0, x1, y1``), the grid origin cell
    (``i0, j0``) and row count ``span`` that pack a cell into
    ``(i - i0) * span + (j - j0)``, and the cell table. Hashed by
    identity, so ``_ship`` can memoise on it."""
    res: float
    x0: float
    y0: float
    x1: float
    y1: float
    i0: int
    j0: int
    span: int
    table: object   # pyarrow.Table


def _build_cells(polygons: list[dict],
                 flag_types: dict[str, list[str] | None]) -> _CellGrid | None:
    """Rasterise the flag polygons (None if no polygon carries a flag).
    The table has one row per cell of the union bbox that is IN or EDGE
    for some flag: the packed key ``_ck``, then per flag ``<flag>_in``
    (some polygon of the flag covers the cell) and ``<flag>_edges``
    (the EDGE entries of the flag's polygons; NULL when there are none
    or the cell is IN)."""
    import pyarrow as pa

    polys = [p for p in polygons
             if any(ts is None or p["bgt_type"] in ts for ts in flag_types.values())]
    if not polys:
        return None
    r = _cell_res(polys)
    x0, y0 = min(p["x_min"] for p in polys), min(p["y_min"] for p in polys)
    x1, y1 = max(p["x_max"] for p in polys), max(p["y_max"] for p in polys)
    i0, j0 = int(np.floor(x0 / r)), int(np.floor(y0 / r))
    span = int(np.floor(y1 / r)) - j0 + 1
    ni = int(np.floor(x1 / r)) - i0 + 1
    # beyond every float rounding of the crossing test (~2^-49 of reach)
    m = (max(abs(x0), abs(y0), abs(x1), abs(y1)) + r) * _MARGIN_REL

    def key(c):
        # cells past the union bbox hold no point that gets a key
        c = c - (i0, j0)
        ok = (c[:, 0] >= 0) & (c[:, 0] < ni) & (c[:, 1] >= 0) & (c[:, 1] < span)
        return c[:, 0] * span + c[:, 1], ok

    per_poly = []
    for p in polys:
        inside, edge, keep, ne = _polygon_cells(p, r, m)
        ek, ok = key(edge)
        keep = keep[ok]
        # an entry with no countable edge never flags a point
        live = keep.any(axis=1)
        keep = keep[live]
        per_poly.append((key(inside)[0], ek[ok][live], keep.sum(axis=1),
                         ne[np.nonzero(keep)[1]]))

    per_flag = {}
    for f, ts in flag_types.items():
        qs = [q for q, p in enumerate(polys) if ts is None or p["bgt_type"] in ts]
        in_keys = np.unique(np.concatenate([per_poly[q][0] for q in qs] or [[]])
                            .astype(np.int64))
        ek = np.concatenate([per_poly[q][1] for q in qs] or [[]]).astype(np.int64)
        eq = np.concatenate([np.full(len(per_poly[q][1]), q) for q in qs] or [[]])
        cnt = np.concatenate([per_poly[q][2] for q in qs] or [[]]).astype(np.int64)
        eds = np.concatenate([per_poly[q][3] for q in qs] or [np.zeros((0, 4))])
        live = np.flatnonzero(~np.isin(ek, in_keys))
        order = live[np.argsort(ek[live], kind="stable")]
        c = cnt[order]
        sel = np.repeat((np.cumsum(cnt) - cnt)[order], c) + _runs(c)
        per_flag[f] = (in_keys, ek[order], eq[order].astype(np.int64), c, eds[sel])
    keys = np.unique(np.concatenate([a for v in per_flag.values() for a in v[:2]]))
    cols = {"_ck": pa.array(keys)}
    for f, (in_keys, ek, eq, cnt, eds) in per_flag.items():
        cols[f"{f}_in"] = pa.array(np.isin(keys, in_keys))
        cols[f"{f}_edges"] = _entry_array(
            np.searchsorted(keys, ek), len(keys), polys, eq, cnt, eds)
    return _CellGrid(r, x0, y0, x1, y1, i0, j0, span, pa.table(cols))


class _Shipped(NamedTuple):
    """A cell table shipped to one session, with the Columns that read
    it. Building the refine lambdas alone takes ~1,000 py4j round trips
    (~0.06 s), so the Columns are built once per session too."""
    cells: DataFrame
    key: Column               # the point's packed cell key; NULL: no cell
    flags: dict[str, Column]


@per_session
def _ship(spark, g: _CellGrid, flags: tuple[str, ...], x: str, y: str) -> _Shipped:
    px, py = F.col(x), F.col(y)
    # Spark orders NaN above every number, so NaN fails `<= x1`
    known = (px >= g.x0) & (px <= g.x1) & (py >= g.y0) & (py <= g.y1)
    key = ((F.floor(px / F.lit(g.res)) - F.lit(g.i0)) * F.lit(g.span)
           + (F.floor(py / F.lit(g.res)) - F.lit(g.j0)))

    def refine(entry):
        gate = ((px >= entry["x0"]) & (px <= entry["x1"])
                & (py >= entry["y0"]) & (py <= entry["y1"]))
        return gate & F.aggregate(
            entry["e"], F.lit(False), lambda acc, e: acc != _crossing(
                px, py, e["x1"], e["y1"], e["y2"], e["dx"], e["dy"]))

    return _Shipped(
        spark.createDataFrame(g.table),
        F.when(known, key),
        {f: F.coalesce(F.col(f"{f}_in") | F.exists(F.col(f"{f}_edges"), refine),
                       F.lit(False))
         for f in flags},
    )


_CELLS: dict = {}


def _grid(polygons: list[dict],
          flag_types: dict[str, list[str] | None]) -> _CellGrid | None:
    """``_build_cells``, memoised once per (polygon list, flag spec),
    whatever the session. The polygon list is keyed by identity and
    treated as immutable, as ``sources.layers.polygon_layer()`` is."""
    spec = tuple((f, None if ts is None else tuple(ts)) for f, ts in flag_types.items())
    hit = _CELLS.get((id(polygons), spec))
    if hit is None or hit[0] is not polygons:
        if len(_CELLS) >= 16:
            _CELLS.clear()
        hit = _CELLS[(id(polygons), spec)] = (polygons, _build_cells(polygons, flag_types))
    return hit[1]


def pip_flags(points: DataFrame, polygons: list[dict],
              flag_types: dict[str, list[str] | None],
              x: str = "x", y: str = "y") -> DataFrame:
    """Append one boolean column per flag: the point lies inside some
    polygon whose ``bgt_type`` is in ``flag_types[flag]`` (None = every
    polygon). JVM only, no Python worker:

    1. plan time: the flag polygons are rasterised into a cell table
       keyed by ``floor(x/r), floor(y/r)`` (``_build_cells``; memoised
       by ``_grid``, its DataFrame and Columns per session by ``_ship``);
    2. points broadcast-left-join it on the packed cell key, as
       ``with_raster`` joins the raster; points outside the union bbox
       of the flag polygons, and NaN, ±Inf or NULL coordinates, get no
       key;
    3. refine: flag = IN OR (EDGE AND some entry's bbox gate AND XOR
       fold of the crossing test over the entry's edges). Only points
       in EDGE cells evaluate the fold.
    """
    g = _grid(polygons, flag_types)
    if g is None:
        return points.withColumns({f: F.lit(False) for f in flag_types})
    s = _ship(points.sparkSession, g, tuple(flag_types), x, y)
    joined = points.withColumn("_ck", s.key).join(F.broadcast(s.cells), "_ck", "left")
    return joined.withColumns(s.flags).drop(*s.cells.columns)


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
