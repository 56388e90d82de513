"""Per-component geometry: cluster stats, minimum bounding rectangle,
rotated-rectangle ∩ road-strip overlap.

Reference semantics re-created (SURVEY.md §2.4/§2.8):
- per-cluster stats: src/upcp/fusion/car_fuser.py:57-74,
  street_furniture_fuser.py:63-79 (centroid, extents, counts);
- minimum_bounding_rectangle: src/upcp/utils/math_utils.py:65-130,
  here as the exact pair-direction search (``mbr_exact_rows``) over the
  convex-hull boundary points;
- the MBR polygon intersected with the road layer: car_fuser.py:76-85
  (``mbr_road_overlap_exact``).

Spark strategy: components are small (bounded by a 50 m tile), so the
MBR runs as an ``applyInPandas`` grouped map — one pure-Python batch per
component, no driver collect. Cluster stats are pure Catalyst. Every
kernel works on exact millimetre integers (the geocode grid is
mm-resolution) with fixed double formulas, so the DuckDB oracle matches
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def _mm(c):
    return F.round(c * F.lit(1000.0)).cast("long")


def segment_d2(px: Column, py: Column) -> Column:
    """Squared distance from (px, py) to the segment in the columns
    (x1, y1)-(x2, y2): clamped projection, closed-form rational. The
    same arithmetic as ``segment_d2_sql``, so both engines agree
    bit-for-bit (the reference's shapely buffer-intersects test is this
    distance against the buffer radius)."""
    x1, y1, x2, y2 = (F.col(c) for c in ("x1", "y1", "x2", "y2"))
    l2 = (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)
    traw = ((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1)) / l2
    t = F.least(F.greatest(traw, F.lit(0.0)), F.lit(1.0))
    dx = px - (x1 + t * (x2 - x1))
    dy = py - (y1 + t * (y2 - y1))
    return dx * dx + dy * dy


def segment_d2_sql(px: str, py: str) -> str:
    """``segment_d2`` as DuckDB text over a segment aliased ``s``."""
    l2 = "((s.x2 - s.x1) * (s.x2 - s.x1) + (s.y2 - s.y1) * (s.y2 - s.y1))"
    traw = (
        f"((({px} - s.x1) * (s.x2 - s.x1) + ({py} - s.y1) * (s.y2 - s.y1))"
        f" / {l2})"
    )
    t = f"LEAST(GREATEST({traw}, 0.0), 1.0)"
    dx = f"({px} - (s.x1 + {t} * (s.x2 - s.x1)))"
    dy = f"({py} - (s.y1 + {t} * (s.y2 - s.y1)))"
    return f"({dx} * {dx} + {dy} * {dy})"


def cluster_stats(with_comp: DataFrame, comp_col: str = "component") -> DataFrame:
    """Exact per-component stats: counts, axis-aligned extents, integer
    millimetre coordinate sums (order-independent, oracle-exact)."""
    return with_comp.groupBy(comp_col).agg(
        F.count("*").alias("n_points"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
        F.sum(_mm(F.col("x"))).alias("sum_x_mm"),
        F.sum(_mm(F.col("y"))).alias("sum_y_mm"),
    )


def cluster_stats_sql(assign_cte: str = "assign") -> str:
    """SELECT-list fragment over a CTE with (component, x, y)."""
    return f"""
SELECT component, COUNT(*) AS n_points,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max,
       CAST(SUM(CAST(round(x * 1000.0) AS BIGINT)) AS BIGINT) AS sum_x_mm,
       CAST(SUM(CAST(round(y * 1000.0) AS BIGINT)) AS BIGINT) AS sum_y_mm
FROM {assign_cte} GROUP BY component
"""


# ----------------------------------------------------------------------
# Minimum bounding rectangle (VERDICT r02 item 4).
#
# The reference's rotating calipers use libm trig (atan2/cos/sin), which
# is not cross-engine reproducible. This search takes candidate
# DIRECTIONS = distinct point pairs of the cluster (the optimal
# rectangle is edge-aligned with the convex hull, and every hull edge is
# a point pair, so the optimum is in the candidate set): for each
# direction e the rectangle extents are exact integer ranges of the
# dot/cross products of the mm coordinates, and area/length²/width²/
# center are ONE fixed double formula over those exact integers — so a
# SQL oracle reproduces every bit, including the argmin tie-break
# (area, then lexicographic pair). The angle is not output (libm).
# ----------------------------------------------------------------------

MBR_EXACT_SCHEMA = StructType(
    [
        StructField("component", LongType()),
        StructField("n_points", LongType()),
        StructField("mbr_area", DoubleType()),
        StructField("mbr_len_sq", DoubleType()),
        StructField("mbr_wid_sq", DoubleType()),
        StructField("center_x", DoubleType()),
        StructField("center_y", DoubleType()),
    ]
)


def _boundary_pts(q: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Convex-hull BOUNDARY points (vertices + collinear on-edge
    points) of the lex-sorted distinct integer points `q` — the only
    candidates for MBR directions (the optimum aligns with a hull
    edge, and only boundary-point pairs can be side-consistent).
    O(n log n) hull + O(n·h) edge membership; exact integer
    predicates."""
    n = len(q)
    if n <= 3:
        return list(q)

    def half(pts):
        out = []
        for p in pts:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(q)
    upper = half(q[::-1])
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return list(q)  # fully collinear: every point is boundary
    bset = set()
    h = len(hull)
    for k in range(h):
        a, b = hull[k], hull[(k + 1) % h]
        ex, ey = b[0] - a[0], b[1] - a[1]
        for p in q:
            if ex * (p[1] - a[1]) - ey * (p[0] - a[0]) == 0 and (
                min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
                and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
            ):
                bset.add(p)
    return sorted(bset)


def mbr_exact_rows(pts_mm: list[tuple[int, int]]) -> tuple:
    """(area, len_sq, wid_sq, center_x, center_y) in m²/m from exact
    mm-integer points — the fixed-formula pair search over
    SIDE-CONSISTENT boundary pairs (all points on one side of the
    pair's line: min/max cross equals the pair's own cross). The
    optimum is hull-edge aligned, so restricting candidates keeps the
    minimum while cutting the search from O(n³) to O(h²·n); the SQL
    oracle applies the identical side-consistency predicate."""
    uniq = sorted(set(pts_mm))
    x0 = min(p[0] for p in uniq)
    y0 = min(p[1] for p in uniq)
    q = [(p[0] - x0, p[1] - y0) for p in uniq]
    if len(q) == 1:
        return (0.0, 0.0, 0.0, x0 / 1000.0, y0 / 1000.0)
    bd = _boundary_pts(q)
    best = None
    for i in range(len(bd)):
        for j in range(i + 1, len(bd)):
            p1, p2 = bd[i], bd[j]
            ex, ey = p2[0] - p1[0], p2[1] - p1[1]
            e2 = ex * ex + ey * ey
            if e2 == 0:
                continue
            dots = [u[0] * ex + u[1] * ey for u in q]
            crss = [u[0] * ey - u[1] * ex for u in q]
            ca = p1[0] * ey - p1[1] * ex
            if min(crss) != ca and max(crss) != ca:
                continue  # points on both sides — not an MBR direction
            adot = max(dots) - min(dots)
            acrs = max(crss) - min(crss)
            e2d = float(e2)
            area = float(adot) * float(acrs) / e2d
            key = (area, p1[0], p1[1], p2[0], p2[1])
            if best is None or key < best[0]:
                sd = min(dots) + max(dots)
                sc = min(crss) + max(crss)
                la = (float(adot) * float(adot)) / e2d
                lb = (float(acrs) * float(acrs)) / e2d
                cx = (float(x0) + float(sd * ex + sc * ey) / float(2 * e2)) / 1000.0
                cy = (float(y0) + float(sd * ey - sc * ex) / float(2 * e2)) / 1000.0
                best = (key, area / 1e6, max(la, lb) / 1e6,
                        min(la, lb) / 1e6, cx, cy)
    if best is None:  # all points identical coordinates
        return (0.0, 0.0, 0.0, x0 / 1000.0, y0 / 1000.0)
    return best[1:]


def cluster_mbr_exact(with_comp: DataFrame,
                      comp_col: str = "component") -> DataFrame:
    """Per-component exact-pair MBR (grouped map; components are tile-
    bounded). Input needs (component, x, y)."""
    import pandas as pd

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = [
            (int(round(x * 1000.0)), int(round(y * 1000.0)))
            for x, y in zip(pdf["x"], pdf["y"])
        ]
        area, lsq, wsq, cx, cy = mbr_exact_rows(pts)
        return pd.DataFrame(
            {
                "component": [int(pdf[comp_col].iloc[0])],
                "n_points": [len(pdf)],
                "mbr_area": [area],
                "mbr_len_sq": [lsq],
                "mbr_wid_sq": [wsq],
                "center_x": [cx],
                "center_y": [cy],
            }
        )

    return with_comp.groupBy(comp_col).applyInPandas(
        per_cluster, schema=MBR_EXACT_SCHEMA
    )


def _mbr_exact_corners(pts_mm: list[tuple[int, int]]):
    """MBR corner ring (4×(x, y) metres, order (dmin,cmin)→(dmax,cmin)→
    (dmax,cmax)→(dmin,cmax)) from the exact pair-direction search over
    side-consistent boundary pairs (see mbr_exact_rows) — None when no
    non-degenerate direction exists."""
    uniq = sorted(set(pts_mm))
    if len(uniq) < 2:
        return None
    x0 = min(p[0] for p in uniq)
    y0 = min(p[1] for p in uniq)
    q = [(p[0] - x0, p[1] - y0) for p in uniq]
    bd = _boundary_pts(q)
    best = None
    for i in range(len(bd)):
        for j in range(i + 1, len(bd)):
            p1, p2 = bd[i], bd[j]
            ex, ey = p2[0] - p1[0], p2[1] - p1[1]
            e2 = ex * ex + ey * ey
            if e2 == 0:
                continue
            dots = [u[0] * ex + u[1] * ey for u in q]
            crss = [u[0] * ey - u[1] * ex for u in q]
            ca = p1[0] * ey - p1[1] * ex
            if min(crss) != ca and max(crss) != ca:
                continue
            adot = max(dots) - min(dots)
            acrs = max(crss) - min(crss)
            area = float(adot) * float(acrs) / float(e2)
            key = (area, p1[0], p1[1], p2[0], p2[1])
            if best is None or key < best[0]:
                best = (key, ex, ey, e2, min(dots), max(dots),
                        min(crss), max(crss))
    if best is None:
        return None
    _, ex, ey, e2, dmin, dmax, cmin, cmax = best
    corners = []
    for d, c in ((dmin, cmin), (dmax, cmin), (dmax, cmax), (dmin, cmax)):
        cx = (float(x0) + float(d * ex + c * ey) / float(e2)) / 1000.0
        cy = (float(y0) + float(d * ey - c * ex) / float(e2)) / 1000.0
        corners.append((cx, cy))
    return corners


def _shoelace_seq(poly: list[tuple[float, float]]) -> float:
    """Sequential-fold shoelace — mirrors the oracle's ordered
    list_reduce exactly (term order = vertex order)."""
    if len(poly) < 3:
        return 0.0
    s = 0.0
    n = len(poly)
    for i in range(n):
        x, y = poly[i]
        nx, ny = poly[(i + 1) % n]
        s += x * ny - nx * y
    return abs(s) / 2.0


def _sh_clip_seq(poly, rx0, ry0, rx1, ry1):
    """Sutherland–Hodgman against an axis rect, pure-Python sequential —
    emission order (cur-if-inside, then crossing intersection) mirrors
    the oracle's (i, slot) ordering; cut formulas mirror its text."""

    def one_pass(pts, inside, cut):
        out = []
        n = len(pts)
        for i in range(n):
            a, b = pts[i], pts[(i + 1) % n]
            ain, bin_ = inside(a), inside(b)
            if ain:
                out.append(a)
            if ain != bin_:
                out.append(cut(a, b))
        return out

    def x_cut(xv):
        def cut(a, b):
            t = (xv - a[0]) / (b[0] - a[0])
            return (xv, a[1] + t * (b[1] - a[1]))
        return cut

    def y_cut(yv):
        def cut(a, b):
            t = (yv - a[1]) / (b[1] - a[1])
            return (a[0] + t * (b[0] - a[0]), yv)
        return cut

    pts = list(poly)
    for inside, cut in (
        (lambda p: p[0] >= rx0, x_cut(rx0)),
        (lambda p: p[0] <= rx1, x_cut(rx1)),
        (lambda p: p[1] >= ry0, y_cut(ry0)),
        (lambda p: p[1] <= ry1, y_cut(ry1)),
    ):
        if not pts:
            return []
        pts = one_pass(pts, inside, cut)
    return pts


MBR_OVERLAP_SCHEMA = StructType(
    [
        StructField("component", LongType()),
        StructField("n_points", LongType()),
        StructField("mbr_area", DoubleType()),
        StructField("road_area", DoubleType()),
        StructField("road_pct", DoubleType()),
    ]
)


def mbr_road_overlap_exact(
    with_comp: DataFrame,
    strips: list[tuple],
    comp_col: str = "component",
) -> DataFrame:
    """Oracle-exact rotated-MBR ∩ road-strip overlap: exact-pair MBR
    corners + sequential S-H clip + ordered-fold shoelace, rid-ordered
    road accumulation — every double op mirrors the SQL oracle, so the
    output needs NO rounding (reference car_fuser.py:76-85). Strips are
    axis-aligned rectangles (rid, rx0, ry0, rx1, ry1); a degenerate MBR
    (area 0) reports road_pct 0."""
    import pandas as pd

    strip_arr = sorted(
        (int(rid), float(a), float(b), float(c), float(d))
        for (rid, a, b, c, d) in strips
    )

    def per_comp(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = [
            (int(round(x * 1000.0)), int(round(y * 1000.0)))
            for x, y in zip(pdf["x"], pdf["y"])
        ]
        corners = _mbr_exact_corners(pts)
        area = _shoelace_seq(corners) if corners else 0.0
        road = 0.0
        if corners:
            for _rid, rx0, ry0, rx1, ry1 in strip_arr:
                road += _shoelace_seq(
                    _sh_clip_seq(corners, rx0, ry0, rx1, ry1)
                )
        pct = road / area * 100.0 if area > 0 else 0.0
        return pd.DataFrame(
            {
                "component": [int(pdf[comp_col].iloc[0])],
                "n_points": [len(pdf)],
                "mbr_area": [area],
                "road_area": [road],
                "road_pct": [pct],
            }
        )

    return with_comp.groupBy(comp_col).applyInPandas(
        per_comp, schema=MBR_OVERLAP_SCHEMA
    )
