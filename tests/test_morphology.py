"""Morphology kernels vs tiny independent oracles."""

from __future__ import annotations

import numpy as np

from urban_pointcloud_processing_spark.operators.morphology import (
    binary_dilate,
    binary_erode,
    cluster_morphology,
    label_regions,
)


def test_dilate_erode_close():
    g = np.zeros((7, 7), dtype=bool)
    g[2, 2] = g[2, 4] = True  # two pixels with a 1-gap
    d = binary_dilate(g)
    assert d[2, 3]  # gap bridged by dilation
    closed = binary_erode(d)
    assert closed[2, 3] and closed[2, 2] and closed[2, 4]
    # erosion of an isolated pixel removes it
    lone = np.zeros((5, 5), dtype=bool)
    lone[2, 2] = True
    assert not binary_erode(lone).any()


def test_label_regions_two_blobs():
    g = np.zeros((6, 6), dtype=bool)
    g[0:2, 0:2] = True
    g[4:6, 4:6] = True
    labels, n = label_regions(g)
    assert n == 2
    assert labels[0, 0] != labels[5, 5]
    assert (labels > 0).sum() == 8
    # diagonal touch is 8-connected → one region
    g2 = np.zeros((4, 4), dtype=bool)
    g2[0, 0] = g2[1, 1] = True
    _, n2 = label_regions(g2)
    assert n2 == 1


def _flood_labels(g: np.ndarray) -> tuple[np.ndarray, int]:
    """8-connected flood fill in raster-scan order: region k is the k-th
    region met by the scan."""
    labels = np.zeros(g.shape, dtype=np.int64)
    n = 0
    for i, j in zip(*np.nonzero(g)):
        if labels[i, j]:
            continue
        n += 1
        labels[i, j] = n
        stack = [(i, j)]
        while stack:
            a, b = stack.pop()
            for da in (-1, 0, 1):
                for db in (-1, 0, 1):
                    p, q = a + da, b + db
                    if (0 <= p < g.shape[0] and 0 <= q < g.shape[1]
                            and g[p, q] and not labels[p, q]):
                        labels[p, q] = n
                        stack.append((p, q))
    return labels, n


def test_label_regions_numbers_regions_in_scan_order():
    rng = np.random.default_rng(3)
    for _ in range(200):
        g = rng.random(tuple(rng.integers(1, 14, 2))) < rng.random()
        labels, n = label_regions(g)
        want, want_n = _flood_labels(g)
        assert n == want_n
        assert (labels == want).all()


def test_cluster_morphology_grouped(spark):
    rows = []
    # component 0: a 3×2 solid block of points at 1 m spacing
    for x in (10.0, 11.0, 12.0):
        for y in (20.0, 21.0):
            rows.append((len(rows), x, y, 0))
    # component 1: two far-apart points → after close(1,1) both erode away
    rows.append((len(rows), 50.0, 50.0, 1))
    rows.append((len(rows), 58.0, 58.0, 1))
    df = spark.createDataFrame(rows, ["page_id", "x", "y", "component"])
    got = {
        (r["component"], r["region"]): r
        for r in cluster_morphology(df, voxel=1.0).collect()
    }
    # block survives closing as one region of ≥6 voxels, 3×2 m extents
    solid = [k for k in got if k[0] == 0 and k[1] > 0]
    assert len(solid) == 1
    r = got[solid[0]]
    assert r["n_voxels"] >= 6
    assert r["width_x"] >= 3.0 and r["width_y"] >= 2.0
    # isolated pixels: dilate(1) then erode(1) keeps them (closing is
    # idempotent on isolated pixels: dilation grows 3×3, erosion returns
    # the center) → two small regions
    iso = [k for k in got if k[0] == 1 and k[1] > 0]
    assert len(iso) == 2


def test_search_armaturen_detects_hanging_blob(spark):
    """Straight cable at z=10 along x; a dense 1x1 m blob hanging 1 m
    below it at x~20 must be detected and accepted; a far-off-axis blob
    must be rejected by the axis-offset gate."""
    import numpy as np

    from urban_pointcloud_processing_spark.operators.morphology import (
        search_armaturen,
    )

    rows = []
    # cable points: every 0.25 m along x in [0, 40], y=0, z=10
    for i in range(161):
        rows.append((1, i * 0.25, 0.0, 10.0, True))
    # hanging blob: 1x1x1 m cube of points centered (20, 0, 8.5)
    for ix in range(5):
        for iy in range(5):
            for iz in range(5):
                rows.append((1, 19.5 + ix * 0.25, -0.5 + iy * 0.25,
                             8.0 + iz * 0.25, False))
    # off-axis blob at u ~ 2.5 m (inside w_buffer, beyond max_axis_off 2)
    for ix in range(5):
        for iy in range(5):
            for iz in range(5):
                rows.append((1, 30.0 + ix * 0.25, 2.0 + iy * 0.25,
                             8.0 + iz * 0.25, False))
    df = spark.createDataFrame(rows, ["cluster_id", "x", "y", "z", "is_cable"])
    got = search_armaturen(
        df, voxel=0.25, w_buffer=3.0, max_axis_off=2.0,
        width_window=(0.5, 3.0), height_window=(0.5, 3.0),
    ).collect()
    assert len(got) >= 1
    accepted = [r for r in got if r["accepted"] == 1]
    rejected = [r for r in got if r["accepted"] == 0]
    assert len(accepted) >= 1, got
    a = accepted[0]
    assert 0.5 <= a["width"] <= 2.5 and 0.5 <= a["height"] <= 2.5
    assert a["z_off"] > 0.25  # hangs below the cable line
    assert a["axis_off"] < 2.0
    # the off-axis blob appears but is NOT accepted
    assert any(r["axis_off"] >= 2.0 for r in rejected), got


def test_search_armaturen_no_blob_no_detection(spark):
    from urban_pointcloud_processing_spark.operators.morphology import (
        search_armaturen,
    )

    rows = [(1, i * 0.25, 0.0, 10.0, True) for i in range(81)]
    rows += [(1, 5.0, 1.0, 9.9, False)]  # lone point, not enough voxels
    df = spark.createDataFrame(rows, ["cluster_id", "x", "y", "z", "is_cable"])
    got = search_armaturen(df, voxel=0.25).collect()
    assert all(r["accepted"] == 0 for r in got)
