"""MBR and road-overlap geometry vs independent NumPy oracles."""

from __future__ import annotations

import numpy as np
import pytest

from urban_pointcloud_processing_spark.operators.geometry import (
    _boundary_pts,
    _sh_clip_seq,
    _shoelace_seq,
    cluster_mbr_exact,
    mbr_exact_rows,
    mbr_road_overlap_exact,
)


def brute_mbr_area(xy: np.ndarray) -> float:
    """Oracle: rectangle area minimized over a fine angle sweep."""
    best = np.inf
    for ang in np.linspace(0, np.pi / 2, 5000, endpoint=False):
        rot = np.array([[np.cos(ang), np.sin(ang)], [-np.sin(ang), np.cos(ang)]])
        r = xy @ rot.T
        dims = r.max(axis=0) - r.min(axis=0)
        best = min(best, dims[0] * dims[1])
    return float(best)


def _mm_points(rng, n: int) -> list[tuple[int, int]]:
    return [tuple(map(int, p)) for p in rng.integers(-5000, 5000, size=(n, 2))]


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_mbr_matches_angle_sweep(seed):
    rng = np.random.default_rng(seed)
    pts = _mm_points(rng, 40)
    area, lsq, wsq, _cx, _cy = mbr_exact_rows(pts)
    assert lsq >= wsq
    assert area * area == pytest.approx(lsq * wsq, rel=1e-12)
    # the exact search is the minimum; the sweep lands just above it
    swept = brute_mbr_area(np.array(pts, dtype=float) / 1000.0)
    assert swept * (1 - 1e-3) <= area <= swept * (1 + 1e-9)


def test_hull_is_convex_superset():
    rng = np.random.default_rng(7)
    q = sorted(set(_mm_points(rng, 100)))
    boundary = _boundary_pts(q)
    # boundary points ⊆ inputs, and the lexicographic extremes are on it
    assert set(boundary) <= set(q)
    assert q[0] in boundary and q[-1] in boundary
    assert 3 <= len(boundary) < len(q)


def test_degenerate_components():
    # single point and collinear pair
    assert mbr_exact_rows([(2000, 3000)]) == (0.0, 0.0, 0.0, 2.0, 3.0)
    area, lsq, wsq, cx, cy = mbr_exact_rows([(0, 0), (3000, 4000)])
    assert (area, lsq, wsq) == (0.0, 25.0, 0.0)
    assert (cx, cy) == (1.5, 2.0)


def test_cluster_mbr_grouped_map(spark):
    rows = []
    # component 0: an axis-aligned 2×1 rectangle of points
    for x in (0.0, 1.0, 2.0):
        for y in (0.0, 1.0):
            rows.append((len(rows), x, y, 0))
    # component 1: single point
    rows.append((len(rows), 9.0, 9.0, 1))
    df = spark.createDataFrame(rows, ["page_id", "x", "y", "component"])
    got = {r["component"]: r for r in cluster_mbr_exact(df).collect()}
    assert got[0]["mbr_len_sq"] == 4.0
    assert got[0]["mbr_wid_sq"] == 1.0
    assert got[0]["mbr_area"] == 2.0
    assert got[0]["center_x"] == 1.0
    assert got[1]["mbr_len_sq"] == 0.0
    assert got[1]["n_points"] == 1


def test_clip_poly_to_rect_cases():
    def clipped(poly, *rect):
        return _shoelace_seq(_sh_clip_seq(poly, *rect))

    sq = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)]
    # fully inside
    assert clipped(sq, -1, -1, 3, 3) == pytest.approx(4.0)
    # half clipped
    assert clipped(sq, 1, -1, 3, 3) == pytest.approx(2.0)
    # disjoint
    assert clipped(sq, 5, 5, 6, 6) == 0.0
    # rotated 45-degree square (diamond with vertices on axes, area 2)
    # clipped to the upper-right quadrant -> one quarter
    dia = [(1.0, 0.0), (0.0, 1.0), (-1.0, 0.0), (0.0, -1.0)]
    assert clipped(dia, 0, 0, 2, 2) == pytest.approx(0.5)


def test_mbr_road_overlap_grouped_map(spark):
    rows = []
    # component 0: 45-degree-rotated square, corners (0,2),(2,0),(4,2),(2,4)
    for x, y in [(0, 2), (2, 0), (4, 2), (2, 4)]:
        rows.append((len(rows), float(x), float(y), 0))
    df = spark.createDataFrame(rows, ["page_id", "x", "y", "component"])
    # strip y in [0, 2] covers exactly half of the rotated square (area 8)
    strips = [(0, -10.0, 0.0, 10.0, 2.0)]
    got = {r["component"]: r for r in mbr_road_overlap_exact(df, strips).collect()}
    assert got[0]["mbr_area"] == pytest.approx(8.0)
    assert got[0]["road_area"] == pytest.approx(4.0)
    assert got[0]["road_pct"] == pytest.approx(50.0)


def test_mbr_exact_small_shapes():
    """On small shapes (3 to 14 points) the exact search finds the
    swept minimal area, length² · width² = area², and the rectangle's
    center lies inside the point bbox."""
    rng = np.random.default_rng(11)
    for _ in range(20):
        pts = _mm_points(rng, int(rng.integers(3, 15)))
        area, lsq, wsq, cx, cy = mbr_exact_rows(pts)
        xy = np.array(pts, dtype=float) / 1000.0
        swept = brute_mbr_area(xy)
        assert swept * (1 - 1e-3) - 1e-9 <= area <= swept * (1 + 1e-9) + 1e-9
        assert abs(lsq * wsq - area * area) < 1e-6
        lo, hi = xy.min(axis=0), xy.max(axis=0)
        assert lo[0] - 1e-9 <= cx <= hi[0] + 1e-9
        assert lo[1] - 1e-9 <= cy <= hi[1] + 1e-9
