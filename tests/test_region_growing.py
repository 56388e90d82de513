"""RegionGrowing semantics on a hand-built two-plane fixture.

Reference behavior re-created (region_growing.py:15-170): seeds grow
across a smooth low-angle surface, are blocked where the normal angle
exceeds threshold_angle, and cannot pass THROUGH high-curvature
(rough) voxels although those may join the region as frontier.
"""

from __future__ import annotations

import pytest

from urban_pointcloud_processing_spark.operators.region_growing import (
    BLOCK_VOXELS,
    SHIFT,
    _voxel_block,
    region_grow,
    voxel_normals,
)
from urban_pointcloud_processing_spark.tiling import CELL_SPAN


def _plane_points(spark, seed_x_max=5.0):
    """3 voxel-columns wide in y, 12 in x (voxel=5): flat plane for
    x<30, 45-degree ramp for x>=30, rough voxel column at x in [20,25).
    4x4 grid of points per 5m voxel footprint => n=16 per column."""
    rows = []
    pid = 0
    for gx in range(48):          # x = gx * 1.25 in [0, 60)
        for gy in range(12):      # y = gy * 1.25 in [0, 15)
            x = gx * 1.25 + 0.5
            y = gy * 1.25 + 0.5
            if x < 30.0:
                z = 2.0
            else:
                z = 2.0 + (x - 30.0)  # 45-degree ramp: blocked
            if 20.0 <= x < 25.0:
                # deterministic rough jitter, +-2 m (double-mod scramble:
                # a single mod of the sequential pid is near-affine per
                # voxel and would fit the plane perfectly)
                z += (((pid * 2654435761) % 1000003) % 4001 - 2000) / 1000.0
            rows.append((pid, x, y, z, x < seed_x_max))
            pid += 1
    return spark.createDataFrame(rows, ["page_id", "x", "y", "z", "is_seed"])


def test_voxel_normals_flat_plane(spark):
    df = _plane_points(spark)
    vox = voxel_normals(df).filter("vx < 4").collect()
    assert vox, "flat zone should produce voxels with normals"
    for r in vox:
        # flat plane: normal is +z, curvature 0
        assert r["nx"] == 0.0 and r["ny"] == 0.0 and r["nz"] > 0
        assert r["curv"] == 0.0


def test_region_grow_gates(spark):
    df = _plane_points(spark)
    got = {r["page_id"]: r["grown"] for r in region_grow(df).collect()}
    pts = df.collect()
    for r in pts:
        if r["x"] < 20.0:
            assert got[r["page_id"]], f"smooth flat zone must grow (x={r['x']})"
        elif 25.0 <= r["x"] < 30.0:
            # beyond the rough column: unreachable (curvature gate)
            assert not got[r["page_id"]], (
                f"growth must not pass through the rough column (x={r['x']})"
            )
        elif r["x"] >= 35.0:
            # well inside the 45-degree ramp: angle gate blocks
            assert not got[r["page_id"]], (
                f"45-degree ramp must not grow (x={r['x']})"
            )


def test_region_grow_no_seeds_grows_nothing(spark):
    df = _plane_points(spark, seed_x_max=-1.0)
    grown = region_grow(df).filter("grown").count()
    assert grown == 0


def test_unsupported_voxel_points_blocked(spark):
    # 3 collinear points: degenerate xy spread -> det == 0 -> no normal
    rows = [(0, 1.0, 1.0, 0.0, True), (1, 2.0, 1.0, 0.0, False),
            (2, 3.0, 1.0, 0.0, False), (3, 4.0, 1.0, 0.0, False)]
    df = spark.createDataFrame(rows, ["page_id", "x", "y", "z", "is_seed"])
    assert voxel_normals(df).count() == 0
    got = {r["page_id"]: r["grown"] for r in region_grow(df).collect()}
    # seed voxel itself is always accepted; nothing else can be reached
    assert got[0] and got[1] and got[2] and got[3]  # all in the one seed voxel


def test_region_grow_matches_reference_bfs_closure(spark):
    """The two-level-CC + frontier implementation must equal the
    reference's BFS closure (region_growing.py:99-137: seeds expand to
    angle-passing neighbors; accepted neighbors become seeds iff their
    curvature passes) computed independently in Python over the same
    voxel attributes."""
    import numpy as np

    from urban_pointcloud_processing_spark.operators.region_growing import (
        DEFAULT_CURVE,
        SHIFT,
        _with_voxels,
        cos2_threshold,
        region_grow,
        voxel_normals,
    )

    rng = np.random.RandomState(11)
    rows = []
    pid = 0
    # random mixture: flat patches + sloped patches + noise blobs
    for patch in range(6):
        ox, oy = rng.randint(0, 8) * 5.0, rng.randint(0, 8) * 5.0
        kind = patch % 3
        for _ in range(60):
            x = ox + rng.rand() * 10.0
            y = oy + rng.rand() * 10.0
            if kind == 0:
                z = 2.0
            elif kind == 1:
                z = 2.0 + 0.08 * (x - ox)
            else:
                z = 2.0 + rng.rand() * 3.0  # rough
            rows.append((pid, round(x, 3), round(y, 3), round(z, 3),
                         x < 3.0 and y < 15.0))
            pid += 1
    df = spark.createDataFrame(rows, ["page_id", "x", "y", "z", "is_seed"])

    # engine result: voxel -> grown
    got = {
        r["page_id"]: r["grown"] for r in region_grow(df).collect()
    }

    # independent BFS closure over the SAME voxel attributes
    vox = {r["vcell"]: r for r in voxel_normals(df).collect()}
    ptsv = _with_voxels(df, 5.0).collect()
    seeds0 = {r["vcell"] for r in ptsv if r["is_seed"]}
    cos2 = cos2_threshold(20.0)

    def gate(a, b):
        dot = (a["nx"] * b["nx"] + a["ny"] * b["ny"]) + a["nz"] * b["nz"]
        na2 = (a["nx"] * a["nx"] + a["ny"] * a["ny"]) + a["nz"] * a["nz"]
        nb2 = (b["nx"] * b["nx"] + b["ny"] * b["ny"]) + b["nz"] * b["nz"]
        return dot > 0 and dot * dot > cos2 * (na2 * nb2)

    def neighbors(c):
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for dz in (-1, 0, 1):
                    if dx == dy == dz == 0:
                        continue
                    yield c + dx * SHIFT * SHIFT + dy * SHIFT + dz

    frontier = [c for c in seeds0 if c in vox]
    region_seeds = set(frontier)
    accepted = set(seeds0)
    while frontier:
        cur = frontier.pop()
        for nb in neighbors(cur):
            if nb not in vox or not gate(vox[cur], vox[nb]):
                continue
            accepted.add(nb)
            capable = vox[nb]["curv"] < DEFAULT_CURVE or nb in seeds0
            if capable and nb not in region_seeds:
                region_seeds.add(nb)
                frontier.append(nb)

    want = {r["page_id"]: (r["vcell"] in accepted) for r in ptsv}
    assert got == want


def test_voxel_block_decodes_signed_fields(spark):
    """_voxel_block recovers (vx, vy) from the packed key
    ((vx·SHIFT)+vy)·SHIFT+vz exactly when vy or vz is negative: (5, 0,
    −1) shares the block of (5, 0, 0), and (5, −1, 0) does not alias
    it."""
    from pyspark.sql import functions as F

    voxels = [(5, 0, -1), (5, 0, 0), (5, -1, 0), (-3, -2, -1),
              (17, -17, 5), (-40000, 40000, -65536), (65535, -65536, 65535)]
    rows = [(i, (vx * SHIFT + vy) * SHIFT + vz)
            for i, (vx, vy, vz) in enumerate(voxels)]
    df = spark.createDataFrame(rows, "i int, key long")
    got = dict(df.select("i", _voxel_block(F.col("key"))).collect())
    want = {i: (vx // BLOCK_VOXELS) * CELL_SPAN + vy // BLOCK_VOXELS
            for i, (vx, vy, _) in enumerate(voxels)}
    assert got == want
    assert got[0] == got[1] != got[2]
    assert got[3] == -1 * CELL_SPAN - 1  # block (floor(-3/16), floor(-2/16))
