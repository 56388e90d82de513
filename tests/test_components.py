"""Connected components: the one union-find (``min_root_components``),
the two-level ``grid_components`` (component = min cell key of the
global component) and ``pair_components`` over an undirected pair list."""

from __future__ import annotations

import math
import random
from collections import deque

import pytest

from urban_pointcloud_processing_spark.operators.components import (
    grid_components,
    min_root_components,
    pair_components,
)
from urban_pointcloud_processing_spark.sources.pages import synthetic_pages

SPAN = 1 << 31  # cell key = cx * 2^31 + cy


def _key(cx: int, cy: int) -> int:
    return cx * SPAN + cy


def _components(df) -> dict[int, int]:
    return {r["page_id"]: r["component"] for r in df.select("page_id", "component").collect()}


def _bfs_components(cells: dict[int, tuple[int, int]]) -> dict[int, int]:
    """page_id -> min cell key of its 8-connected component, by BFS over
    the occupied cells."""
    occupied = set(cells.values())
    comp: dict[tuple[int, int], int] = {}
    for start in occupied:
        if start in comp:
            continue
        seen, queue = {start}, deque([start])
        while queue:
            cx, cy = queue.popleft()
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nb = (cx + dx, cy + dy)
                    if nb in occupied and nb not in seen:
                        seen.add(nb)
                        queue.append(nb)
        root = min(_key(*c) for c in seen)
        comp.update((c, root) for c in seen)
    return {pid: comp[c] for pid, c in cells.items()}


@pytest.mark.parametrize(
    "xs, y, root",
    [
        (range(-150, 150), -3.5, _key(-150, -4)),
        (range(10, 310), -3.5, _key(10, -4)),
        (range(0, 300), 100.0, _key(0, 100)),
    ],
    ids=["negative-x-negative-y", "positive-x-negative-y", "positive-y"],
)
def test_line_across_blocks_is_one_component(spark, xs, y, root):
    # one point per cell on a straight line that crosses several
    # 64-cell block edges
    rows = [(i, float(x), y) for i, x in enumerate(xs)]
    out = grid_components(spark.createDataFrame(rows, ["page_id", "x", "y"]), 1.0)
    assert set(_components(out).values()) == {root}
    assert out.count() == len(rows)


def test_rows_without_a_cell_are_left_out(spark):
    rows = [
        (1, 1.5, 5.5), (2, 2.5, 5.5),                      # one real component
        (3, float("nan"), 5.5), (4, 0.5, float("nan")),
        (5, float("inf"), 5.5), (6, float("-inf"), 5.5),
        (7, 1e300, 5.5), (8, 0.5, -1e300),
        (9, None, 5.5), (10, 0.5, None),
    ]
    pts = spark.createDataFrame(rows, "page_id long, x double, y double")
    assert _components(grid_components(pts, 1.0)) == {1: _key(1, 5), 2: _key(1, 5)}


def test_grid_components_matches_bfs(spark):
    pts = synthetic_pages(spark, 5000).select("page_id", "x", "y")
    cells = {
        r["page_id"]: (math.floor(r["x"] / 1.0), math.floor(r["y"] / 1.0))
        for r in pts.collect()
    }
    want = _bfs_components(cells)
    assert len(set(want.values())) > 1
    assert _components(grid_components(pts, 1.0)) == want


def test_grid_components_on_zero_rows(spark):
    pts = spark.createDataFrame([], "page_id long, x double, y double")
    out = grid_components(pts, 1.0)
    assert out.columns == ["page_id", "x", "y", "component"]
    assert out.collect() == []


def test_grid_components_job_count(spark):
    """One call plus a count of its result submits no more Spark jobs
    than the two-level kernel of the previous release needed (11)."""
    sc = spark.sparkContext
    rows = [(i, float(x), -3.5) for i, x in enumerate(range(-150, 150))]
    pts = spark.createDataFrame(rows, ["page_id", "x", "y"])
    group = "test-grid-components-jobs"
    sc.setJobGroup(group, group)
    try:
        grid_components(pts, 1.0).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 11


def _path_components(spark, n: int) -> tuple[dict[int, int], int]:
    """(node -> component, Spark jobs) of ``pair_components`` on an
    n-node path. The ids are spread far apart and the pairs shuffled,
    half of them reversed, so almost every edge crosses blocks."""
    ids = [i * 10007 + 3 for i in range(n)]
    rng = random.Random(n)
    pairs = [p if rng.random() < 0.5 else p[::-1] for p in zip(ids, ids[1:])]
    rng.shuffle(pairs)
    sc = spark.sparkContext
    group = f"test-pair-components-path-{n}"
    sc.setJobGroup(group, group)
    try:
        out = pair_components(
            spark.createDataFrame(pairs, "src long, dst long"),
            spark.createDataFrame([(i,) for i in ids], "node long"),
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return {r["node"]: r["component"] for r in out}, jobs


def test_pair_components_long_path(spark):
    """A 200-node path resolves to its min id in one pass: it submits as
    many Spark jobs as a 20-node path (no round per path length)."""
    comp20, jobs20 = _path_components(spark, 20)
    comp200, jobs200 = _path_components(spark, 200)
    assert comp20 == dict.fromkeys(comp20, 3) and len(comp20) == 20
    assert comp200 == dict.fromkeys(comp200, 3) and len(comp200) == 200
    assert jobs200 == jobs20


def test_pair_components_without_pairs(spark):
    nodes = spark.createDataFrame([(9,), (-4,), (1 << 40,)], "node long")
    out = pair_components(spark.createDataFrame([], "src long, dst long"), nodes)
    assert {r["node"]: r["component"] for r in out.collect()} == {
        9: 9, -4: -4, 1 << 40: 1 << 40,
    }


def test_pair_components_collects_each_link_once(spark, monkeypatch):
    """The driver's root graph holds each cross-block link once, in
    (min, max) order: at most one row per pair, where handing both
    directions of every pair would give nearly two."""
    from urban_pointcloud_processing_spark.operators import components

    handed = []

    def recording(pairs, nodes=()):
        pairs = list(pairs)
        handed.append(pairs)
        return min_root_components(pairs, nodes)

    monkeypatch.setattr(components, "min_root_components", recording)
    ids = [i * 10007 + 3 for i in range(20)]
    pairs = list(zip(ids, ids[1:]))
    out = pair_components(
        spark.createDataFrame(pairs, "src long, dst long"),
        spark.createDataFrame([(i,) for i in ids], "node long"),
    ).collect()
    assert {r["node"]: r["component"] for r in out} == dict.fromkeys(ids, 3)
    [rows] = handed
    assert rows and all(a < b for a, b in rows)
    assert len(set(rows)) == len(rows) <= len(pairs)


def test_min_root_components_is_order_independent():
    pairs = [(5, 3), (3, 9), (9, 4), (7, 8), (1, 2)]
    want = {5: 3, 3: 3, 9: 3, 4: 3, 7: 7, 8: 7, 1: 1, 2: 1}
    assert min_root_components(pairs) == want
    rng = random.Random(7)
    for _ in range(20):
        shuffled = [p if rng.random() < 0.5 else p[::-1] for p in pairs]
        rng.shuffle(shuffled)
        assert min_root_components(shuffled) == want


def test_min_root_components_isolated_self_and_duplicate_pairs():
    pairs = [(4, 4), (2, 6), (6, 2), (2, 6)]
    assert min_root_components(pairs, nodes=[9, 6, 1]) == {9: 9, 6: 2, 1: 1, 4: 4, 2: 2}


def test_min_root_components_negative_and_wide_keys():
    big = (1 << 40) + 3
    pairs = [(big, -(1 << 33)), (-(1 << 33), 17), (-5, -6)]
    assert min_root_components(pairs) == {
        big: -(1 << 33), -(1 << 33): -(1 << 33), 17: -(1 << 33), -5: -6, -6: -6,
    }


def test_min_root_components_empty():
    assert min_root_components([]) == {}
    assert min_root_components([], nodes=[]) == {}
