"""RegionGrowing: seeded surface growth gated by normal angle + curvature.

Reference: src/upcp/region_growing/region_growing.py:15-170 — BFS from
seed-labelled points; a neighbor joins the region when the angle between
its normal and the expanding seed's normal is below ``threshold_angle``
(:121-127), and itself becomes a seed when its local curvature
(λ_min/Σλ of the neighborhood covariance, :60-75) is below
``threshold_curve`` (:130-137). Used by the building/light/sign/tree
grower stages of the canonical pipeline.

Spark-first re-expression (voxel-level, like the rest of the engine):

1. Points quantize to voxels; per-voxel surface NORMAL comes from the
   least-squares plane z = a·x + b·y + c over the voxel's points, and
   CURVATURE is the unexplained-variance fraction
   (Czz − explained)/(Cxx+Cyy+Czz) — the planar-residual analog of the
   reference's λ_min/Σλ. Both are closed-form RATIONAL functions of
   exact integer millimetre moments (one-pass corner-centered sums —
   central moments are shift-invariant), so Spark and the DuckDB oracle produce
   bit-identical doubles — no eigen-solver, no libm calls. The normal
   is kept unnormalized, N ∝ (−(CxzCyy−CyzCxy), −(CyzCxx−CxzCxy), det),
   det = CxxCyy−Cxy² > 0 ⇒ Nz > 0, so there is no sign ambiguity.
2. The reference's per-seed angle test is order-independent reachability
   (a failed test does not mark a point processed, :117-127), so region
   growth is exactly: connected components over the "capable" subgraph
   (curvature < threshold, or an initial seed) with edges gated by
   angle(Na, Nb) < threshold_angle — evaluated as
   dot > 0 AND dot² > cos²θ·|Na|²·|Nb|² (pure products, no acos) —
   plus ONE final frontier expansion for accepted-but-not-seed voxels.
   That CC is ``components.edge_components`` over the gated edge list,
   with blocks of ``BLOCK_VOXELS`` × ``BLOCK_VOXELS`` voxel columns.

Scale notes (100 TB): the point→voxel aggregation is a map-side partial
agg on the voxel key; everything after operates on the voxel table
(orders of magnitude smaller). The 26-neighbor edge build is an
explode + equi-join on the linear voxel key. Integer moments stay exact
for ≤ ~10⁴ points per voxel at 5 m voxels (documented bound — pick the
voxel size so counts stay bounded; beyond that moments degrade to
double precision, not wrong components).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tiling import cell_key
from .components import edge_components

SHIFT = 1 << 17  # voxel key packing: ((vx*SHIFT)+vy)*SHIFT+vz
BLOCK_VOXELS = 16  # edge-CC block side, in voxels

DEFAULT_VOXEL = 5.0
DEFAULT_ANGLE_DEG = 20.0  # reference default threshold_angle=20
DEFAULT_CURVE = 0.05
DEFAULT_MIN_POINTS = 4

_OFFSETS = [
    (dx, dy, dz)
    for dx in (-1, 0, 1)
    for dy in (-1, 0, 1)
    for dz in (-1, 0, 1)
    if not (dx == 0 and dy == 0 and dz == 0)
]


def cos2_threshold(angle_deg: float) -> float:
    """cos²(threshold) as a Python double — the SAME literal is embedded
    in the Spark plan and the oracle SQL, so the gate compares against
    an identical constant on both engines."""
    return math.cos(math.radians(angle_deg)) ** 2


def _mm(c):
    return F.round(c * F.lit(1000.0)).cast("long")


def _with_voxels(points: DataFrame, voxel: float) -> DataFrame:
    vx = F.floor(F.col("x") / F.lit(voxel)).cast("long")
    vy = F.floor(F.col("y") / F.lit(voxel)).cast("long")
    vz = F.floor(F.col("z") / F.lit(voxel)).cast("long")
    return points.withColumns(
        {
            "vx": vx,
            "vy": vy,
            "vz": vz,
        }
    ).withColumn(
        "vcell",
        (F.col("vx") * F.lit(SHIFT) + F.col("vy")) * F.lit(SHIFT) + F.col("vz"),
    )


def voxel_normals(
    points: DataFrame,
    voxel: float = DEFAULT_VOXEL,
    min_points: int = DEFAULT_MIN_POINTS,
) -> DataFrame:
    """(vcell, vx, vy, vz, n_points, nx, ny, nz, curv) for voxels with a
    well-defined plane fit (n ≥ min_points and det > 0). Accepts either
    raw (x, y, z) points or an already-voxelized frame (vcell present)."""
    voxed = points if "vcell" in points.columns else _with_voxels(
        points, voxel
    )
    # Center on the voxel CORNER (vx·voxel in mm) instead of the per-voxel
    # min: the n²-scaled central moments below are exactly invariant under
    # any per-group integer shift, and the corner is a pure function of
    # the voxel key — so the first-pass min aggregation + join-back of the
    # old two-pass scheme is unnecessary. ONE shuffle (map-side partial
    # agg on the voxel key) replaces two shuffles + a broadcast join.
    # dx stays in [0, voxel·1000], the same magnitude bound min-centering
    # gave, so the ≤ ~10⁴-points-per-voxel exactness bound is unchanged.
    vmm = int(round(voxel * 1000))
    assert abs(voxel * 1000 - vmm) < 1e-9, "voxel must be a whole mm"
    pts = voxed.select(
        "vcell", "vx", "vy", "vz",
        (_mm(F.col("x")) - F.col("vx") * F.lit(vmm)).alias("dx"),
        (_mm(F.col("y")) - F.col("vy") * F.lit(vmm)).alias("dy"),
        (_mm(F.col("z")) - F.col("vz") * F.lit(vmm)).alias("dz"),
    )
    sums = pts.groupBy("vcell", "vx", "vy", "vz").agg(
        F.count("*").alias("n_points"),
        F.sum("dx").alias("sx"), F.sum("dy").alias("sy"), F.sum("dz").alias("sz"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dz") * F.col("dz")).alias("szz"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dz")).alias("sxz"),
        F.sum(F.col("dy") * F.col("dz")).alias("syz"),
    ).filter(F.col("n_points") >= min_points)
    n = F.col("n_points")
    # n²-scaled central moments — exact BIGINTs
    moms = sums.select(
        "vcell", "vx", "vy", "vz", "n_points",
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).alias("cxx"),
        (n * F.col("syy") - F.col("sy") * F.col("sy")).alias("cyy"),
        (n * F.col("szz") - F.col("sz") * F.col("sz")).alias("czz"),
        (n * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cxy"),
        (n * F.col("sxz") - F.col("sx") * F.col("sz")).alias("cxz"),
        (n * F.col("syz") - F.col("sy") * F.col("sz")).alias("cyz"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    det = d("cxx") * d("cyy") - d("cxy") * d("cxy")
    ax = d("cxz") * d("cyy") - d("cyz") * d("cxy")   # = a·det
    bx = d("cyz") * d("cxx") - d("cxz") * d("cxy")   # = b·det
    explained = (d("cxz") * ax + d("cyz") * bx) / det
    trace = (d("cxx") + d("cyy")) + d("czz")
    return (
        moms.withColumn("_det", det)
        .filter(F.col("_det") > 0)
        .select(
            "vcell", "vx", "vy", "vz", "n_points",
            (-(ax)).alias("nx"),
            (-(bx)).alias("ny"),
            F.col("_det").alias("nz"),
            ((d("czz") - explained) / trace).alias("curv"),
        )
    )


def _gated_edges(vox: DataFrame, cos2: float) -> DataFrame:
    """(src, dst) voxel pairs: 26-adjacent AND normal angle below the
    threshold (dot > 0 AND dot² > cos²θ·|Na|²·|Nb|²)."""
    nbrs = vox.select(
        F.col("vcell").alias("src"),
        F.col("nx").alias("nxa"), F.col("ny").alias("nya"),
        F.col("nz").alias("nza"),
        F.explode(
            F.array(
                *[
                    F.col("vcell")
                    + F.lit(ddx * SHIFT * SHIFT + ddy * SHIFT + ddz)
                    for (ddx, ddy, ddz) in _OFFSETS
                ]
            )
        ).alias("dst"),
    )
    b = vox.select(
        F.col("vcell").alias("dst"),
        F.col("nx").alias("nxb"), F.col("ny").alias("nyb"),
        F.col("nz").alias("nzb"),
    )
    dot = (
        F.col("nxa") * F.col("nxb") + F.col("nya") * F.col("nyb")
    ) + F.col("nza") * F.col("nzb")
    na2 = (
        F.col("nxa") * F.col("nxa") + F.col("nya") * F.col("nya")
    ) + F.col("nza") * F.col("nza")
    nb2 = (
        F.col("nxb") * F.col("nxb") + F.col("nyb") * F.col("nyb")
    ) + F.col("nzb") * F.col("nzb")
    return (
        nbrs.join(b, "dst")
        .filter((dot > 0) & (dot * dot > F.lit(cos2) * (na2 * nb2)))
        .select("src", "dst")
    )


def _voxel_block(key: Column) -> Column:
    """The ``BLOCK_VOXELS`` × ``BLOCK_VOXELS`` (x, y) column block of a
    packed voxel key. The signed fields are decoded exactly: the low
    field is the key's residue recentred into [−SHIFT/2, SHIFT/2), and
    removing it leaves a multiple of SHIFT to shift down."""
    bits, half = SHIFT.bit_length() - 1, F.lit(SHIFT // 2)

    def low(v: Column) -> Column:
        return F.pmod(v + half, F.lit(SHIFT)) - half

    vz = low(key)
    vxy = F.shiftright(key - vz, bits)
    vy = low(vxy)
    vx = F.shiftright(vxy - vy, bits)
    return cell_key(F.floor(vx / F.lit(BLOCK_VOXELS)), F.floor(vy / F.lit(BLOCK_VOXELS)))


def region_grow(
    points: DataFrame,
    seed_col: str = "is_seed",
    voxel: float = DEFAULT_VOXEL,
    angle_deg: float = DEFAULT_ANGLE_DEG,
    threshold_curve: float = DEFAULT_CURVE,
    min_points: int = DEFAULT_MIN_POINTS,
) -> DataFrame:
    """Append ``grown`` to each point: True iff its voxel is reached by
    region growing from the seed voxels (voxels containing ≥1 row with
    ``seed_col`` true). Gates per the reference: normal-angle edge test,
    curvature seed-capability test."""
    cos2 = cos2_threshold(angle_deg)
    # the voxelized point table feeds normals, seed detection and the
    # final label join — lazy persist (first use materializes; no
    # up-front blocking job like the old eager localCheckpoint, which
    # added a whole scheduling round before any useful work)
    ptsv = _with_voxels(points, voxel).persist()
    vox = voxel_normals(ptsv, voxel, min_points).persist()
    seed_vox = ptsv.filter(F.col(seed_col)).select("vcell").distinct()
    edges = _gated_edges(vox, cos2).persist()

    capable = vox.join(
        seed_vox.withColumn("_s", F.lit(True)), "vcell", "left"
    ).filter(
        (F.col("curv") < F.lit(threshold_curve)) | F.col("_s").isNotNull()
    ).select(F.col("vcell").alias("node"), F.col("_s").isNotNull().alias("_seed"))
    cap_edges = (
        edges.join(capable.select(F.col("node").alias("src")), "src")
        .join(capable.select(F.col("node").alias("dst")), "dst")
        .select("src", "dst")
    )
    comp = edge_components(capable.select("node"), cap_edges, _voxel_block)
    grown_comps = (
        comp.join(
            capable.filter(F.col("_seed")).select("node"), "node"
        )
        .select("component")
        .distinct()
    )
    region_seeds = comp.join(F.broadcast(grown_comps), "component").select(
        F.col("node").alias("vcell")
    )
    frontier = (
        edges.withColumnRenamed("src", "vcell")
        .join(region_seeds, "vcell")
        .select(F.col("dst").alias("vcell"))
    )
    # materialize the accepted-voxel set (voxel-table scale, tiny next to
    # the point table) in ONE job, so every upstream cache can be
    # released before the caller's action runs over the big point table
    accepted = (
        region_seeds.unionByName(frontier)
        .unionByName(seed_vox)
        .distinct()
        .withColumn("_grown", F.lit(True))
        .localCheckpoint(eager=True)
    )
    vox.unpersist()
    edges.unpersist()
    # accepted is checkpointed, so ptsv's only remaining consumer is the
    # single final join — unpersist now (recomputing the map-only voxel
    # columns once costs ~a cache read) so no cached plan outlives the
    # call in a long-lived session
    ptsv.unpersist()
    out = ptsv.join(F.broadcast(accepted), "vcell", "left").withColumn(
        "grown", F.col("_grown").isNotNull()
    )
    return out.drop("_grown", "vcell", "vx", "vy", "vz")


# ----------------------------------------------------------------------
# Oracle SQL builder (DuckDB): identical arithmetic, recursive-CTE reach
# ----------------------------------------------------------------------

def region_grow_sql(
    pts_cte: str,
    seed_pred: str,
    voxel: float = DEFAULT_VOXEL,
    angle_deg: float = DEFAULT_ANGLE_DEG,
    threshold_curve: float = DEFAULT_CURVE,
    min_points: int = DEFAULT_MIN_POINTS,
) -> str:
    """Full query over a CTE producing (page_id, x, y, z); seed_pred is
    a boolean SQL expression over those columns. Returns
    (page_id, grown). Must be prefixed WITH RECURSIVE by the caller."""
    cos2 = repr(cos2_threshold(angle_deg))
    v = repr(float(voxel))
    vmm = int(round(voxel * 1000))
    return f"""
rg_pts AS ({pts_cte}),
rg_vox AS (
  SELECT page_id, x, y, z,
         CAST(floor(x / {v}) AS BIGINT) AS vx,
         CAST(floor(y / {v}) AS BIGINT) AS vy,
         CAST(floor(z / {v}) AS BIGINT) AS vz,
         (CAST(floor(x / {v}) AS BIGINT) * {SHIFT}
          + CAST(floor(y / {v}) AS BIGINT)) * {SHIFT}
          + CAST(floor(z / {v}) AS BIGINT) AS vcell,
         CAST(round(x * 1000.0) AS BIGINT) AS x_mm,
         CAST(round(y * 1000.0) AS BIGINT) AS y_mm,
         CAST(round(z * 1000.0) AS BIGINT) AS z_mm,
         ({seed_pred}) AS is_seed
  FROM rg_pts
),
rg_sums AS (
  -- one-pass corner-centered sums: central moments are shift-invariant
  -- in exact integer arithmetic, so centering on vx·{vmm} (the voxel
  -- corner in mm) gives the SAME cxx..cyz as min-centering would
  SELECT vcell, ANY_VALUE(vx) AS vx, ANY_VALUE(vy) AS vy,
         ANY_VALUE(vz) AS vz, COUNT(*) AS n_points,
         SUM(x_mm - vx * {vmm}) AS sx, SUM(y_mm - vy * {vmm}) AS sy,
         SUM(z_mm - vz * {vmm}) AS sz,
         SUM((x_mm - vx * {vmm}) * (x_mm - vx * {vmm})) AS sxx,
         SUM((y_mm - vy * {vmm}) * (y_mm - vy * {vmm})) AS syy,
         SUM((z_mm - vz * {vmm}) * (z_mm - vz * {vmm})) AS szz,
         SUM((x_mm - vx * {vmm}) * (y_mm - vy * {vmm})) AS sxy,
         SUM((x_mm - vx * {vmm}) * (z_mm - vz * {vmm})) AS sxz,
         SUM((y_mm - vy * {vmm}) * (z_mm - vz * {vmm})) AS syz
  FROM rg_vox GROUP BY vcell
  HAVING COUNT(*) >= {min_points}
),
rg_moms AS (
  SELECT vcell, vx, vy, vz, n_points,
         CAST(n_points * sxx - sx * sx AS BIGINT) AS cxx,
         CAST(n_points * syy - sy * sy AS BIGINT) AS cyy,
         CAST(n_points * szz - sz * sz AS BIGINT) AS czz,
         CAST(n_points * sxy - sx * sy AS BIGINT) AS cxy,
         CAST(n_points * sxz - sx * sz AS BIGINT) AS cxz,
         CAST(n_points * syz - sy * sz AS BIGINT) AS cyz
  FROM rg_sums
),
rg_nrm AS (
  SELECT vcell, vx, vy, vz, n_points,
         -(CAST(cxz AS DOUBLE) * CAST(cyy AS DOUBLE)
           - CAST(cyz AS DOUBLE) * CAST(cxy AS DOUBLE)) AS nx,
         -(CAST(cyz AS DOUBLE) * CAST(cxx AS DOUBLE)
           - CAST(cxz AS DOUBLE) * CAST(cxy AS DOUBLE)) AS ny,
         CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)
           - CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE) AS nz,
         (CAST(czz AS DOUBLE)
          - (CAST(cxz AS DOUBLE) * (CAST(cxz AS DOUBLE) * CAST(cyy AS DOUBLE)
                                    - CAST(cyz AS DOUBLE) * CAST(cxy AS DOUBLE))
             + CAST(cyz AS DOUBLE) * (CAST(cyz AS DOUBLE) * CAST(cxx AS DOUBLE)
                                      - CAST(cxz AS DOUBLE) * CAST(cxy AS DOUBLE)))
            / (CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)
               - CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE)))
         / ((CAST(cxx AS DOUBLE) + CAST(cyy AS DOUBLE)) + CAST(czz AS DOUBLE))
           AS curv
  FROM rg_moms
  WHERE CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)
        - CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE) > 0
),
rg_seedvox AS (SELECT DISTINCT vcell FROM rg_vox WHERE is_seed),
rg_edges AS (
  SELECT a.vcell AS src, b.vcell AS dst
  FROM rg_nrm a JOIN rg_nrm b
    ON abs(a.vx - b.vx) <= 1 AND abs(a.vy - b.vy) <= 1
   AND abs(a.vz - b.vz) <= 1 AND a.vcell != b.vcell
  WHERE (a.nx * b.nx + a.ny * b.ny) + a.nz * b.nz > 0
    AND ((a.nx * b.nx + a.ny * b.ny) + a.nz * b.nz)
        * ((a.nx * b.nx + a.ny * b.ny) + a.nz * b.nz)
      > {cos2} * ((((a.nx * a.nx + a.ny * a.ny) + a.nz * a.nz))
                  * (((b.nx * b.nx + b.ny * b.ny) + b.nz * b.nz)))
),
rg_cap AS (
  SELECT n.vcell, (s.vcell IS NOT NULL) AS is_seed
  FROM rg_nrm n LEFT JOIN rg_seedvox s ON s.vcell = n.vcell
  WHERE n.curv < {threshold_curve} OR s.vcell IS NOT NULL
),
rg_capedges AS (
  SELECT e.src, e.dst FROM rg_edges e
  JOIN rg_cap ca ON ca.vcell = e.src
  JOIN rg_cap cb ON cb.vcell = e.dst
),
rg_reach(node) AS (
  SELECT vcell FROM rg_cap WHERE is_seed
  UNION
  SELECT e.dst FROM rg_reach r JOIN rg_capedges e ON e.src = r.node
),
rg_accepted AS (
  SELECT node AS vcell FROM rg_reach
  UNION
  SELECT e.dst AS vcell FROM rg_edges e JOIN rg_reach r ON e.src = r.node
  UNION
  SELECT vcell FROM rg_seedvox
)
SELECT p.page_id, (a.vcell IS NOT NULL) AS grown
FROM rg_vox p
LEFT JOIN (SELECT DISTINCT vcell FROM rg_accepted) a ON a.vcell = p.vcell
"""
