"""The canonical 15-stage labelling pipeline as ONE query.

Reference: notebooks/`0. Complete solution.ipynb` assembles the
product's acceptance pipeline as

    process_sequence = (npz_ground_fuser, road_part_fuser, noise_filter,
                        bgt_building_fuser, cable_fuser, car_fuser,
                        tree_fuser, light_fuser, sign_fuser,
                        rubbish_bin_fuser, city_bench_fuser,
                        building_grower, light_grower, sign_grower,
                        tree_grower)

and src/upcp/pipeline.py:88-95 folds it with ``mask = labels == 0``
before every stage — first-writer-wins, each stage DETECTING on the
still-unlabelled subset (every reference fuser computes its clusters /
candidates over points[mask]).

Spark re-expression: an ordered fold over an enriched base table
(raster ground/building z + PIP road/building flags computed ONCE).
Each stage is a claims function ``u -> (page_id, lbl)`` evaluated on
the current unlabelled subset; the fold is a left join + CASE. The
stages run through ``Pipeline.run`` (plans/pipeline.py), which
localCheckpoints every stage boundary (the reference's per-tile
caching / intermediate writes) so the 15-stage plan never nests; with
a ``checkpoint_dir`` the same runner writes parquet (Iceberg at
cluster scale) stage tables instead.

Same-shape stage FAMILIES are fused (VERDICT r03 item 3): the three
pole stages (7-9) and the two furniture stages (10-11) each run ONE
detection pass with bgt_type as a data column, claims carrying their
stage index, and a per-page (stage, lbl) argmin in the fold —
first-writer-wins order preserved. Furniture fusing is exact by
construction; pole fusing is verified output-identical to the
sequential chain on the fixtures (tests/test_full_pipeline.py).
Cuts 3 detection passes + 3 full-table fold materializations
(sf0.01 local[8]: engine 53 s → 26 s, engine+oracle 119 s → 48 s).

The DuckDB oracle mirrors every stage with identical arithmetic in one
WITH RECURSIVE query: chained ``l{k}`` label states, per-stage
prefixed CTE chains (grid-CC reachability closures, three DBSCAN
chains, PCA linearity, rectangle-overlap, seed-fraction growth).

Each fuser's detector is defined once, here, and takes its input
frame (page_id, x, y, z, gz) and, for the pole and furniture fusers,
its (stage, bgt_type, label) stages as arguments: the fold calls it on
the unlabelled subset with the raster ``gz``; the standalone queries
in queries.py call the same function on all pages with the
closed-form ground height (``raster.ground_z_col``), and they read
their fixture-scaled parameters from the constants below. The oracle
SQL of both stays separate text (queries.py, ``full_pipeline_sql``).

The one omission vs the reference chain: CableFuser's armatuur
(suspended-streetlight) sub-step stays the standalone
`armatuur_search` composite (NumPy morphology grouped-map, oracle-exact
there); its CABLE/TRAM_CABLE labelling is stage 5 here.
The reference only runs the armatuur search on cable clusters with
> 100 points (cable_fuser.py:683 ``np.sum(cable_mask) > 100``) — the
fixture's densest cable cell has 8 points (sf0.01), so the sub-step
provably claims nothing at any test scale and folding it in would add
its full grouped-map + oracle cost for a guaranteed-empty claim set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import geocode as G
from ..labels import Labels
from ..operators.components import grid_components, size_filter
from ..operators.dbscan import dbscan_sql, dbscan_windows
from ..operators.geometry import (
    cluster_stats,
    cluster_stats_sql,
    segment_d2,
    segment_d2_sql,
)
from ..operators.neighbors import binned_statistic_2d
from ..operators.pca import pca_cell_features
from ..sources import raster as R
from ..sources.layers import (
    ROAD_TYPES,
    line_segments_df,
    line_segments_values_sql,
    point_layer_df,
    point_layer_values_sql,
    road_strips_values_sql,
    roads_meta_df,
)
from ..session import per_session
from ..sources.pages import pages_from_orders
from .pipeline import Pipeline, Processor

# ---------------------------------------------------------------------
# Stage parameters (fixture-scaled, identical to the standalone queries)
# ---------------------------------------------------------------------

GROUND_EPS = 0.2                    # ahn_fuser.py:159 epsilon
REFINE_BAND = (0.2, 1.5)            # ahn_fuser.py:96-125 (ref 0.02/0.5)
REFINE_GRID = 1.5                   # ref grid_size 0.4 (sparse pages)
REFINE_MIN_COMP = 5                 # ref min_comp_size 50
NOISE_EPS = 0.2                     # noise_filter.py:72-74
NOISE_MIN_COMP = 5                  # noise_filter.py:66-67 (ref 100)
NOISE_GRID = 1.0
BUILD_EPS = 0.2                     # building_fuser.py:83-95 offset
CABLE_RES = 5.0                     # cable_fuser.py:133-149
CABLE_LIN = 0.9
CABLE_MIN_PTS = 4
TRAM_BUF = 2.5                      # tram rule: track buffer ~2 + cable
                                    # line buffer 0.5
TRAM_MAX_H = 8.0                    # ref max_tramcable_height, scaled
CAR_BAND = (-0.2, 2.0)              # car_fuser.py: above-surface window
# 1.5 m CC grid: at sf0.01 band density a 3 m grid percolates into one
# giant component that the ≤20 m dimension window rejects (car stage
# would claim nothing); 1.5 m keeps components window-sized.
CAR_GRID = 1.5
CAR_MAX_EXT = 20.0
CAR_PAD = 0.5
CAR_MIN_PCT = 20.0                  # car_fuser.py:107 min_component_overlap
# pole_fuser.py:60-290, fixture-scaled (reference defaults in parens —
# the sf fixture is ~10⁴× sparser than LiDAR, so radii/eps scale up
# while the chain's semantics stay identical): search_pad 6 (1.5), seed
# z-band [0.5, 6.0] above ground (plane_height±0.1), DBSCAN eps 2.5
# (0.05) / min_samples 4 (5), max_r 6 (0.5), candidate match buffer 3
# (0.1), r_mult 1.5 (1.5), label_height 8 (4), object match radius 15
# (1.2).
POLE = {
    "search_r": 6.0, "zlo": 0.5, "zhi": 6.0,
    "eps": 2.5, "min_samples": 4,
    "max_r": 6.0, "match_buf": 3.0,
    "r_mult": 1.5, "label_h": 8.0,
    "obj_max_dist_sq": 225.0,
}
SF_BAND = (0.2, 1.0)                # street_furniture_fuser.py:40-110
SF_GRID = 2.0                       # CC grid (denser band than ground)
SF_HEIGHT = (0.4, 1.0)              # cluster height above mean ground
SF_EXT = (1.5, 20.0)                # axis-extent window (reference MBR
                                    # window; rotated MBR: car_fuser_mbr)
SF_MAX_D2 = 400.0                   # ≤ 20 m to a registry object
GROW_BAND = (0.5, 2.5)              # layer_lcc.py:70-136 (one band here)
GROW_GRID = 1.0
GROW_FRAC = 0.1

# (stage index, bgt_type, label) for the three BGTPoleFuser stages and
# the two BGTStreetFurnitureFuser stages — notebook order.
POLE_STAGES = (
    (7, "boom", Labels.TREE),
    (8, "lichtmast", Labels.STREET_LIGHT),
    (9, "verkeersbord", Labels.TRAFFIC_SIGN),
)
FURN_STAGES = (
    (10, "afvalbak", Labels.RUBBISH_BIN),
    (11, "bank", Labels.CITY_BENCH),
)
GROWER_STAGES = (
    (12, Labels.BUILDING),
    (13, Labels.STREET_LIGHT),
    (14, Labels.TRAFFIC_SIGN),
    (15, Labels.TREE),
)



# ---------------------------------------------------------------------
# Engine side
# ---------------------------------------------------------------------

def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enriched base table: raster z's + both PIP flags, computed once
    (the RasterEnricher / PipEnricher compute-early pattern)."""
    from ..operators.fusers import PipEnricher, RasterEnricher

    pages = pages_from_orders(spark, sf_dir)
    enriched = RasterEnricher(R.raster_df(spark))(pages)
    flagged = PipEnricher(
        None, {"_in_road": list(ROAD_TYPES), "_in_building": ["pand"]}
    )(enriched)
    return flagged.select(
        "page_id", "tile_x", "tile_y", "x", "y", "z",
        F.col("ground_z").alias("gz"), F.col("building_z").alias("bz"),
        F.col("_in_road").alias("in_road"),
        F.col("_in_building").alias("in_building"),
    )


def ground_refine(u: DataFrame) -> DataFrame:
    """AHNFuser ground with refine_ground (ahn_fuser.py:96-125): every
    ground-band point of ``u`` (|z − gz| < GROUND_EPS) with ``removed``
    true where it lies under the one-cell-dilated footprint of a
    ≥REFINE_MIN_COMP component of the non-ground points just above the
    surface. The reference buffers an alpha-shape hull of each
    component; on the gridded fixture the footprint is exactly the
    component's occupied cells dilated by one cell. (page_id, removed)"""
    is_g = F.abs(F.col("z") - F.col("gz")) < GROUND_EPS
    ground = u.filter(is_g).select(
        "page_id",
        F.floor(F.col("x") / F.lit(REFINE_GRID)).cast("long").alias("cx"),
        F.floor(F.col("y") / F.lit(REFINE_GRID)).cast("long").alias("cy"),
    )
    unk = u.filter(
        (F.col("z") >= F.col("gz") - F.lit(REFINE_BAND[0]))
        & (F.col("z") <= F.col("gz") + F.lit(REFINE_BAND[1]))
        & ~is_g
    ).select("page_id", "x", "y")
    comps = size_filter(
        grid_components(unk, grid_size=REFINE_GRID),
        REFINE_MIN_COMP,
    ).filter(F.col("component") != -1)
    cells = comps.select(
        F.floor(F.col("x") / F.lit(REFINE_GRID)).cast("long").alias("cx"),
        F.floor(F.col("y") / F.lit(REFINE_GRID)).cast("long").alias("cy"),
    ).distinct()
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    fp = (
        cells.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("cx") + F.lit(dx)).alias("cx"),
                            (F.col("cy") + F.lit(dy)).alias("cy"),
                        )
                        for dx, dy in offs
                    ]
                )
            ).alias("c")
        )
        .select("c.cx", "c.cy")
        .distinct()
        .withColumn("_fp", F.lit(True))
    )
    return ground.join(F.broadcast(fp), ["cx", "cy"], "left").select(
        "page_id", F.col("_fp").isNotNull().alias("removed")
    )


def noise_pages(u: DataFrame) -> DataFrame:
    """NoiseFilter (noise_filter.py:15-84): the pages of ``u`` below the
    interpolated ground (z − gz < −NOISE_EPS, :72-74) or in a ground-band
    component of fewer than NOISE_MIN_COMP points (:66-67). (page_id)"""
    below = u.filter(F.col("z") - F.col("gz") < -NOISE_EPS).select("page_id")
    gb = u.filter(F.abs(F.col("z") - F.col("gz")) < NOISE_EPS).select(
        "page_id", "x", "y"
    )
    small = (
        size_filter(
            grid_components(gb, grid_size=NOISE_GRID),
            NOISE_MIN_COMP,
        )
        .filter(F.col("component") == -1)
        .select("page_id")
    )
    return below.unionByName(small).distinct()


def cable_cells(u: DataFrame) -> DataFrame:
    """CableFuser cable detection (cable_fuser.py:133-149): the
    CABLE_RES cells of ``u`` with PCA linearity above CABLE_LIN and at
    least CABLE_MIN_PTS points, each cell one cluster.
    (cell_x, cell_y, cluster_id)"""
    return (
        pca_cell_features(u, CABLE_RES, 3)
        .filter(
            (F.col("linearity") > CABLE_LIN)
            & (F.col("n_points") >= CABLE_MIN_PTS)
        )
        .select(
            "cell_x", "cell_y",
            (F.col("cell_x") * F.lit(100000) + F.col("cell_y")).alias(
                "cluster_id"
            ),
        )
    )


def cable_members(u: DataFrame) -> DataFrame:
    """The rows of ``u`` inside a cable cell, with its columns plus
    cell_x, cell_y and cluster_id."""
    return u.withColumns(
        {
            "cell_x": F.floor(F.col("x") / F.lit(CABLE_RES)).cast("long"),
            "cell_y": F.floor(F.col("y") / F.lit(CABLE_RES)).cast("long"),
        }
    ).join(F.broadcast(cable_cells(u)), ["cell_x", "cell_y"])


def tram_verdict(members: DataFrame) -> DataFrame:
    """Tram-cable rule (_classify_tram_cables, cable_fuser.py:462-503)
    per cable cluster of ``members`` (cluster_id, x, y, z, gz): TRAM when
    a member lies within TRAM_BUF of a tram-track segment and the
    lowest member is below TRAM_MAX_H above ground.
    (cluster_id, n_points, min_track_d2, min_height, is_tram)"""
    segs = line_segments_df(members.sparkSession).select("x1", "y1", "x2", "y2")
    trackd = (
        members.crossJoin(F.broadcast(segs))
        .groupBy("cluster_id")
        .agg(F.min(segment_d2(F.col("x"), F.col("y"))).alias("min_track_d2"))
    )
    stats = members.groupBy("cluster_id").agg(
        F.count("*").alias("n_points"),
        F.min(F.col("z") - F.col("gz")).alias("min_height"),
    )
    return stats.join(trackd, "cluster_id").select(
        "cluster_id", "n_points", "min_track_d2", "min_height",
        (
            (F.col("min_track_d2") <= F.lit(TRAM_BUF ** 2))
            & (F.col("min_height") < F.lit(TRAM_MAX_H))
        ).alias("is_tram"),
    )


def cable_claims(u: DataFrame) -> DataFrame:
    """CableFuser labelling (get_labels, cable_fuser.py:690-745): every
    cable-cluster member of ``u`` gets TRAM_CABLE where its cluster
    passes the tram rule, else CABLE. (page_id, lbl)"""
    members = (
        cable_members(u)
        .select("cluster_id", "page_id", "x", "y", "z", "gz")
        .localCheckpoint(eager=True)
    )
    return members.join(F.broadcast(tram_verdict(members)), "cluster_id").select(
        "page_id",
        F.when(F.col("is_tram"), F.lit(int(Labels.TRAM_CABLE)))
        .otherwise(F.lit(int(Labels.CABLE)))
        .alias("lbl"),
    )


def road_overlap(stats: DataFrame) -> DataFrame:
    """CarFuser footprint test (car_fuser.py:57-107) over
    ``cluster_stats`` rows: components within CAR_MAX_EXT on both axes,
    their bounding box padded by CAR_PAD (the half cell each point
    occupies), and the percentage of that box covered by road strips —
    exact rectangle intersections. Components touching no road are left
    out. (component, n_points, road_pct)"""
    ext_x = F.col("x_max") - F.col("x_min")
    ext_y = F.col("y_max") - F.col("y_min")
    dims = stats.filter((ext_x <= CAR_MAX_EXT) & (ext_y <= CAR_MAX_EXT)).select(
        "component", "n_points",
        (F.col("x_min") - CAR_PAD).alias("x0"),
        (F.col("x_max") + CAR_PAD).alias("x1"),
        (F.col("y_min") - CAR_PAD).alias("y0"),
        (F.col("y_max") + CAR_PAD).alias("y1"),
    )
    cond = (
        (F.col("rx0") < F.col("x1")) & (F.col("rx1") > F.col("x0"))
        & (F.col("ry0") < F.col("y1")) & (F.col("ry1") > F.col("y0"))
    )
    ia = (
        F.greatest(F.lit(0.0), F.least("x1", "rx1") - F.greatest("x0", "rx0"))
        * F.greatest(F.lit(0.0), F.least("y1", "ry1") - F.greatest("y0", "ry0"))
    )
    return (
        dims.join(F.broadcast(roads_meta_df(stats.sparkSession)), cond)
        .groupBy("component", "n_points", "x0", "x1", "y0", "y1")
        .agg(F.sum(ia).alias("_inter"))
        .select(
            "component", "n_points",
            (
                F.col("_inter")
                / ((F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0")))
                * F.lit(100.0)
            ).alias("road_pct"),
        )
    )


def _claims_car(u: DataFrame) -> DataFrame:
    """Stage 6 — CarFuser: CC over the above-surface band; components
    whose footprint overlaps the road by more than CAR_MIN_PCT are
    claimed whole."""
    dz = F.col("z") - F.col("gz")
    band = u.filter(
        (dz >= F.lit(CAR_BAND[0])) & (dz <= F.lit(CAR_BAND[1]))
    ).select("page_id", "x", "y")
    comps = grid_components(band, grid_size=CAR_GRID)
    passing = (
        road_overlap(cluster_stats(comps))
        .filter(F.col("road_pct") > CAR_MIN_PCT)
        .select("component")
    )
    return comps.join(F.broadcast(passing), "component").select(
        "page_id", F.lit(int(Labels.CAR)).alias("lbl")
    )


def _lookup(pairs, key: Column) -> Column:
    """``key`` mapped through the literal (key, value) ``pairs``."""
    return F.create_map(*[F.lit(v) for kv in pairs for v in kv])[key]


def pole_claims(u: DataFrame, stages) -> DataFrame:
    """BGTPoleFuser (pole_fuser.py:60-290) for the (stage, bgt_type,
    label) ``stages``, in one detection pass over ``u``: registry object
    → nearest pole-like 5 m voxel column → DBSCAN of its seed window →
    seed-cluster radius and containment check → the cylinder
    r_mult·r up to ground + label_h is claimed. Each claim carries its
    stage; the fold resolves a page by MIN(stage, lbl), the reference's
    first-writer-wins order (pipeline.py:88-95). Ground heights come
    from the registry objects, not from ``u``. (page_id, stage, lbl)

    Run on all three pole types at once, a later type detects over the
    pre-family unlabelled set instead of the set left by the earlier
    types; the two differ only when poles of different types interact
    within the search radius, and tests/test_full_pipeline.py pins the
    fused and per-type chains output-identical on the fixtures."""
    spark = u.sparkSession
    P = POLE
    pages = u.select("page_id", "x", "y", "z")
    bins = binned_statistic_2d(pages, res=5.0)
    poles = bins.filter(
        (F.col("z_max") - F.col("z_min") > 4.0)
        & (F.col("n_points") >= 5)
        & (F.abs(F.col("z_median") - (F.col("z_min") + F.col("z_max")) / 2) < 1.5)
    ).select(
        "bin_x", "bin_y",
        (F.col("bin_x") * 5.0 + 2.5).alias("wx"),
        (F.col("bin_y") * 5.0 + 2.5).alias("wy"),
    )
    stage_of = _lookup([(t, k) for k, t, _ in stages], F.col("bgt_type"))
    # the window id carries the stage (obj_id·100 + stage): the matched
    # windows then feed the seed windows and the cluster pick with the
    # same columns, and Spark computes them once for both
    objs = (
        point_layer_df(spark)
        .filter(F.col("bgt_type").isin(*[t for _, t, _ in stages]))
        .select(
            (F.col("obj_id") * F.lit(100) + stage_of).alias("obj_id"),
            F.col("x").alias("ox"),
            F.col("y").alias("oy"),
            R.ground_z_col(F.floor(F.col("x")), F.floor(F.col("y"))).alias("gz"),
        )
    )
    d2 = (F.col("wx") - F.col("ox")) * (F.col("wx") - F.col("ox")) + (
        F.col("wy") - F.col("oy")
    ) * (F.col("wy") - F.col("oy"))
    wnd = Window.partitionBy("obj_id").orderBy(d2, F.col("bin_x"), F.col("bin_y"))
    pmatch = (
        F.broadcast(objs)
        .join(poles, d2 <= F.lit(P["obj_max_dist_sq"]))
        .withColumn("_rn", F.row_number().over(wnd))
        .filter(F.col("_rn") == 1)
        .select("obj_id", "gz", "wx", "wy")
    )
    wdist = (F.col("x") - F.col("wx")) * (F.col("x") - F.col("wx")) + (
        F.col("y") - F.col("wy")
    ) * (F.col("y") - F.col("wy"))
    wpts = (
        pages.join(F.broadcast(pmatch), wdist <= F.lit(P["search_r"] ** 2))
        .filter(
            (F.col("z") >= F.col("gz") + F.lit(P["zlo"]))
            & (F.col("z") <= F.col("gz") + F.lit(P["zhi"]))
        )
        .select(
            F.col("obj_id").alias("win_id"),
            F.col("page_id").alias("pid"),
            "x", "y",
        )
    )
    assign = dbscan_windows(
        wpts, eps=P["eps"], min_samples=P["min_samples"]
    ).filter(F.col("cluster") >= 0)
    xmm = F.round(F.col("x") * 1000.0).cast("long")
    ymm = F.round(F.col("y") * 1000.0).cast("long")
    clus = (
        assign.join(wpts, ["win_id", "pid"])
        .groupBy("win_id", "cluster")
        .agg(
            (F.sum(xmm).cast("double") / F.count("*") / F.lit(1000.0)).alias("ccx"),
            (F.sum(ymm).cast("double") / F.count("*") / F.lit(1000.0)).alias("ccy"),
            (
                F.greatest(F.max(xmm) - F.min(xmm), F.max(ymm) - F.min(ymm))
                / F.lit(2000.0)
            ).alias("cr"),
        )
    )
    pdist = (F.col("wx") - F.col("ccx")) * (F.col("wx") - F.col("ccx")) + (
        F.col("wy") - F.col("ccy")
    ) * (F.col("wy") - F.col("ccy"))
    wpick = Window.partitionBy("win_id").orderBy("cluster")
    pick = (
        clus.join(
            F.broadcast(pmatch.withColumnRenamed("obj_id", "win_id")), "win_id"
        )
        .filter(
            (F.col("cr") <= F.lit(P["max_r"]))
            & (
                pdist
                < (F.col("cr") + F.lit(P["match_buf"]))
                * (F.col("cr") + F.lit(P["match_buf"]))
            )
        )
        .withColumn("_rn", F.row_number().over(wpick))
        .filter(F.col("_rn") == 1)
        .select("win_id", "ccx", "ccy", "cr", "gz")
    )
    cdist = (F.col("x") - F.col("ccx")) * (F.col("x") - F.col("ccx")) + (
        F.col("y") - F.col("ccy")
    ) * (F.col("y") - F.col("ccy"))
    rr = F.lit(P["r_mult"]) * F.col("cr")
    stage = F.pmod(F.col("win_id"), F.lit(100))
    return (
        pages.join(F.broadcast(pick), cdist <= rr * rr)
        .filter(F.col("z") <= F.col("gz") + F.lit(P["label_h"]))
        .select(
            "page_id",
            stage.alias("stage"),
            _lookup([(k, int(lab)) for k, _, lab in stages], stage).alias("lbl"),
        )
        .distinct()
    )


def furniture_claims(u: DataFrame, stages) -> DataFrame:
    """BGTStreetFurnitureFuser (street_furniture_fuser.py:40-110) for the
    (stage, bgt_type, label) ``stages``, in one detection pass over
    ``u``: CC over the band SF_BAND above ``gz``; a component passing
    the height window (top z vs exact mean ground) and the extent window
    whose centroid lies within √SF_MAX_D2 of an object of a stage's
    type is claimed whole with that stage. (page_id, stage, lbl)

    One pass is exact, not just empirically equal to running the types
    one after another: claims are whole components, and removing whole
    components from the band leaves every other component and its stats
    unchanged."""
    dz = F.col("z") - F.col("gz")
    band = u.filter((dz > SF_BAND[0]) & (dz <= SF_BAND[1])).select(
        "page_id", "x", "y", "z", "gz"
    )
    comps = grid_components(band, grid_size=SF_GRID)
    # gz = 2 + k/100 ⇒ round(gz·100) recovers the integer 200 + k exactly
    assign = comps.select(
        "page_id", "component", "x", "y", "z",
        F.round(F.col("gz") * 100.0).cast("long").alias("gz_c"),
    )
    xmm = F.round(F.col("x") * 1000.0).cast("long")
    ymm = F.round(F.col("y") * 1000.0).cast("long")
    stats = assign.groupBy("component").agg(
        F.max("z").alias("top_z"),
        (F.sum("gz_c").cast("double") / F.count("*") / F.lit(100.0)).alias(
            "mean_gz"
        ),
        F.min("x").alias("x_min"), F.max("x").alias("x_max"),
        F.min("y").alias("y_min"), F.max("y").alias("y_max"),
        (F.sum(xmm).cast("double") / F.count("*") / F.lit(1000.0)).alias(
            "center_x"
        ),
        (F.sum(ymm).cast("double") / F.count("*") / F.lit(1000.0)).alias(
            "center_y"
        ),
    )
    h = F.col("top_z") - F.col("mean_gz")
    ext_x = F.col("x_max") - F.col("x_min")
    ext_y = F.col("y_max") - F.col("y_min")
    dims_ok = stats.filter(
        (h >= SF_HEIGHT[0]) & (h <= SF_HEIGHT[1])
        & (ext_x >= SF_EXT[0]) & (ext_x <= SF_EXT[1])
        & (ext_y >= SF_EXT[0]) & (ext_y <= SF_EXT[1])
    )
    btype = F.col("bgt_type")
    objs = (
        point_layer_df(u.sparkSession)
        .filter(btype.isin(*[t for _, t, _ in stages]))
        .select(
            F.col("x").alias("ox"), F.col("y").alias("oy"),
            _lookup([(t, k) for k, t, _ in stages], btype).alias("stage"),
            _lookup([(t, int(lab)) for _, t, lab in stages], btype).alias("lbl"),
        )
    )
    d2 = (F.col("center_x") - F.col("ox")) * (F.col("center_x") - F.col("ox")) + (
        F.col("center_y") - F.col("oy")
    ) * (F.col("center_y") - F.col("oy"))
    near = (
        dims_ok.join(F.broadcast(objs), d2 <= F.lit(SF_MAX_D2))
        .select("component", "stage", "lbl")
        .distinct()
    )
    return assign.join(F.broadcast(near), "component").select(
        "page_id", "stage", "lbl"
    )


def _claims_grower(lbl_df: DataFrame, label: int) -> DataFrame:
    """Stages 12-15 — LayerLCC grower for one label: band CC over
    (unlabelled ∪ already-label-L) points; components whose label-L
    seed fraction exceeds the threshold grow L onto their unlabelled
    members (layer_lcc.py:70-136)."""
    dz = F.col("z") - F.col("gz")
    band = lbl_df.filter(
        (dz >= F.lit(GROW_BAND[0])) & (dz < F.lit(GROW_BAND[1]))
        & ((F.col("label") == 0) | (F.col("label") == int(label)))
    ).select("page_id", "x", "y", "label")
    comps = grid_components(band, grid_size=GROW_GRID)
    frac = comps.groupBy("component").agg(
        (
            F.sum((F.col("label") == int(label)).cast("int")).cast("double")
            / F.count("*")
        ).alias("_f")
    )
    grown = frac.filter(F.col("_f") > GROW_FRAC).select("component")
    return (
        comps.join(F.broadcast(grown), "component")
        .filter(F.col("label") == 0)
        .select("page_id", F.lit(int(label)).alias("lbl"))
    )


def _fold(cur: DataFrame, claims: DataFrame) -> DataFrame:
    """First-writer-wins claim fold (NOT materialized — the runner
    decides between localCheckpoint and a parquet stage table)."""
    c = claims.groupBy("page_id").agg(F.min("lbl").alias("_lbl"))
    return (
        cur.join(c, "page_id", "left")
        .withColumn(
            "label",
            F.when(
                (F.col("label") == 0) & F.col("_lbl").isNotNull(),
                F.col("_lbl"),
            ).otherwise(F.col("label")),
        )
        .drop("_lbl")
    )


def _fold_family(cur: DataFrame, claims: DataFrame) -> DataFrame:
    # claims = (page_id, stage, lbl) from a fused stage family;
    # MIN(stage, lbl) per page == first-writer-wins in stage order
    c = claims.groupBy("page_id").agg(
        F.min(F.struct("stage", "lbl")).alias("_s")
    )
    return (
        cur.join(c, "page_id", "left")
        .withColumn(
            "label",
            F.when(
                (F.col("label") == 0) & F.col("_s").isNotNull(),
                F.col("_s.lbl"),
            ).otherwise(F.col("label")),
        )
        .drop("_s")
    )


def _unl(cur: DataFrame) -> DataFrame:
    return cur.filter(F.col("label") == 0)


def _as(pages: DataFrame, label: int) -> DataFrame:
    return pages.select("page_id", F.lit(int(label)).alias("lbl"))


def pipeline_stages() -> list[tuple[str, list[int], object]]:
    """Ordered (name, labels_written, step) list — the single source of
    truth for the stage chain. ``step(lbl_state) -> lbl_state``; each
    step is one reference pipeline stage (or fused family).
    ``Pipeline.run`` materializes AFTER each step (localCheckpoint
    in-session, parquet stage tables for the resumable path).

    The three pole stages and two furniture stages run as single
    detection passes over the PRE-FAMILY unlabelled set, whereas the
    reference recomputes the mask before every processor
    (src/upcp/pipeline.py:88-95) — so on data where poles of different
    types fall within the same search radius the family output can
    deviate from the reference's sequential semantics (engine and
    oracle stay mutually consistent). ``pole_claims`` and
    ``furniture_claims`` called with one (stage, bgt_type, label) at a
    time over a freshly masked set give the strictly sequential chain;
    tests/test_full_pipeline.py pins the two chains output-identical
    on the fixture (ADVICE r04)."""
    L = Labels
    stages: list[tuple[str, list[int], object]] = [
        ("ground_refine", [int(L.GROUND)],
         lambda lbl: _fold(lbl, _as(
             ground_refine(_unl(lbl)).filter(~F.col("removed")), L.GROUND))),
        ("road_retarget", [int(L.ROAD)],
         lambda lbl: lbl.withColumn(
             "label",
             F.when(
                 (F.col("label") == int(L.GROUND)) & F.col("in_road"),
                 F.lit(int(L.ROAD)),
             ).otherwise(F.col("label")))),
        ("noise_filter", [int(L.NOISE)],
         lambda lbl: _fold(lbl, _as(noise_pages(_unl(lbl)), L.NOISE))),
        ("building_fuser", [int(L.BUILDING)],
         lambda lbl: lbl.withColumn(
             "label",
             F.when(
                 (F.col("label") == 0)
                 & F.col("in_building")
                 & (F.col("bz").isNull()
                    | (F.col("z") <= F.col("bz") + BUILD_EPS)),
                 F.lit(int(L.BUILDING)),
             ).otherwise(F.col("label")))),
        ("cable_fuser", [int(L.CABLE), int(L.TRAM_CABLE)],
         lambda lbl: _fold(lbl, cable_claims(_unl(lbl)))),
        ("car_fuser", [int(L.CAR)],
         lambda lbl: _fold(lbl, _claims_car(_unl(lbl)))),
        ("pole_family", [int(lab) for _, _, lab in POLE_STAGES],
         lambda lbl: _fold_family(lbl, pole_claims(_unl(lbl), POLE_STAGES))),
        ("furniture_family", [int(lab) for _, _, lab in FURN_STAGES],
         lambda lbl: _fold_family(
             lbl, furniture_claims(_unl(lbl), FURN_STAGES))),
    ]
    grower_name = {int(L.BUILDING): "grow_building",
                   int(L.STREET_LIGHT): "grow_light",
                   int(L.TRAFFIC_SIGN): "grow_sign",
                   int(L.TREE): "grow_tree"}
    for _, lab in GROWER_STAGES:
        stages.append(
            (grower_name[int(lab)], [int(lab)],
             lambda lbl, lab=lab: _fold(lbl, _claims_grower(lbl, lab)))
        )
    return stages


class StageProcessor(Processor):
    """One full-pipeline stage (or fused family) as a Pipeline stage.

    ``step`` is the claims-fold closure from ``pipeline_stages()`` —
    it consumes and returns the full label state, so ``apply`` is a
    straight delegation and ``Pipeline.run``'s materialisation,
    metrics, lineage and resume apply unchanged. Not usable with
    ``run_fused`` (these stages are join-shaped, not single-predicate)."""

    def __init__(self, name: str, labels: list[int], step) -> None:
        self.name = name
        self.label = list(labels)  # Pipeline metrics/lineage accept lists
        self._step = step

    def apply(self, df: DataFrame) -> DataFrame:
        return self._step(df)


def full_pipeline_processors() -> list[StageProcessor]:
    """The reference's 15-stage process_sequence as Pipeline stages
    (pole and furniture families fused, first-writer-wins preserved).
    Reads ``pipeline_stages`` at call time."""
    return [StageProcessor(n, labs, s) for n, labs, s in pipeline_stages()]


@per_session
def full_pipeline_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(page_id, label) after the 15-stage first-writer-wins fold.

    Memoised per session and sf_dir (``session.per_session``):
    ``Pipeline.run`` localCheckpoints every stage boundary, so the
    finished chain is a valid in-session artifact — `pipeline_full_hist`
    (and any later caller) reuses it instead of recomputing all 15
    stages. This is the local analog of the reference pipeline writing
    each stage's labels back to the tile file (pipeline.py:88-95) and of
    Iceberg stage tables at cluster scale
    (full_pipeline_labels_resumable)."""
    # checkpoint the enrichment once, or stage 0 computes it twice
    # (its fold joins the base against claims over the same base)
    base = _base(spark, sf_dir).withColumn("label", F.lit(0)).localCheckpoint()
    return Pipeline(full_pipeline_processors()).run(base).select("page_id", "label")


def full_pipeline_labels_resumable(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    run_id: str = "run0",
) -> tuple[DataFrame, list[str]]:
    """The same 15-stage fold with PARQUET stage tables (the in-sandbox
    Iceberg stand-in) instead of localCheckpoints: each stage's full
    label state persists to ``checkpoint_dir/stage_{i:02d}_{name}`` and
    per-tile lineage/metrics append to ``checkpoint_dir/_lineage``
    (north_rule resumability; reference analog
    scripts/ahn_batch_processor.py:53-57 — completed tiles skipped on
    rerun). A rerun over the same directory skips every stage whose
    table committed (``stage_table_committed``), so a killed job
    resumes at the first uncommitted stage with identical results
    (parquet round-trips the exact doubles). Returns
    (labels_df, resumed_stage_names)."""
    pipe = Pipeline(
        full_pipeline_processors(), checkpoint_dir=checkpoint_dir, run_id=run_id
    )
    lbl = pipe.run(_base(spark, sf_dir).withColumn("label", F.lit(0)))
    return lbl.select("page_id", "label"), pipe.resumed_stages


# ---------------------------------------------------------------------
# Oracle SQL (DuckDB) — identical arithmetic, one WITH RECURSIVE query
# ---------------------------------------------------------------------

_GXS = R.gx_sql("x")
_GYS = R.gx_sql("y")


def _cc_chain_sql(p: str, src: str) -> str:
    """Grid-CC closure over a CTE ``{src}`` with (cx, cy) columns:
    emits {p}cells/{p}adj/{p}reach/{p}comp (component = min cell key)."""
    return f"""
{p}cells AS (SELECT DISTINCT cx, cy, cx * 2147483648 + cy AS cell FROM {src}),
{p}adj AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM {p}cells a JOIN {p}cells b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
{p}reach(src, node) AS (
  SELECT cell, cell FROM {p}cells
  UNION
  SELECT r.src, e.dst FROM {p}reach r JOIN {p}adj e ON r.node = e.src
),
{p}comp AS (SELECT src AS cell, MIN(node) AS component FROM {p}reach GROUP BY src)"""


def _fold_sql(
    k: int,
    claims_cte: str | None,
    case_expr: str | None = None,
    prev: int | None = None,
) -> str:
    """l{k} from l{prev} (default k-1): a claims left-join fold or a
    pure CASE. ``prev`` skips label states absorbed by a fused stage
    family (e.g. l9 directly from l6 after the pole-family fold)."""
    pk = k - 1 if prev is None else prev
    cols = "b.page_id, b.x, b.y, b.z, b.gz, b.bz, b.in_road, b.in_building"
    if case_expr is not None:
        return f"""
l{k} AS MATERIALIZED (SELECT {cols}, {case_expr} AS label FROM l{pk} b)"""
    return f"""
l{k} AS MATERIALIZED (
  SELECT {cols},
         CASE WHEN b.label = 0 AND c.lbl IS NOT NULL THEN c.lbl
              ELSE b.label END AS label
  FROM l{pk} b LEFT JOIN {claims_cte} c ON c.page_id = b.page_id
)"""


def _pole_family_sql() -> str:
    """Stages 7-9 FUSED (mirrors pole_claims): one detection
    chain over u7 with bgt_type carried through; claims resolve per
    page by the (stage, lbl) argmin — first-writer-wins in notebook
    stage order. Emits c9 (the family claims) for the l6→l9 fold."""
    P = POLE
    p = "p7_"
    types_in = ", ".join(f"'{t}'" for _, t, _ in POLE_STAGES)
    stage_case = "CASE k2.bgt_type " + " ".join(
        f"WHEN '{t}' THEN {k}" for k, t, _ in POLE_STAGES
    ) + " END"
    lbl_case = "CASE k2.bgt_type " + " ".join(
        f"WHEN '{t}' THEN {int(lab)}" for _, t, lab in POLE_STAGES
    ) + " END"
    wpts_cte = f"""
SELECT m.obj_id AS win_id, p.page_id AS pid, p.x, p.y
FROM {p}match m JOIN u7 p
  ON (p.x - m.wx) * (p.x - m.wx) + (p.y - m.wy) * (p.y - m.wy)
     <= {P['search_r'] ** 2}
WHERE p.z >= m.gz + {P['zlo']} AND p.z <= m.gz + {P['zhi']}
"""
    gz_o = R.ground_z_sql(
        "CAST(floor(o.x) AS BIGINT)", "CAST(floor(o.y) AS BIGINT)"
    )
    return f"""
{p}bins AS (
  SELECT CAST(floor(x / 5.0) AS BIGINT) AS bin_x,
         CAST(floor(y / 5.0) AS BIGINT) AS bin_y,
         MIN(z) AS z_min, MAX(z) AS z_max,
         quantile_cont(z, 0.5) AS z_median, COUNT(z) AS n_points
  FROM u7 GROUP BY 1, 2
),
{p}poles AS (
  SELECT *, bin_x * 5.0 + 2.5 AS cx, bin_y * 5.0 + 2.5 AS cy
  FROM {p}bins
  WHERE z_max - z_min > 4.0 AND n_points >= 5
    AND abs(z_median - (z_min + z_max) / 2) < 1.5
),
{p}objs AS (
  SELECT obj_id, bgt_type, o.x AS ox, o.y AS oy, {gz_o} AS gz
  FROM {point_layer_values_sql()}
  WHERE bgt_type IN ({types_in})
),
{p}match AS (
  SELECT obj_id, bgt_type, ox, oy, gz, wx, wy FROM (
    SELECT o.*, p.cx AS wx, p.cy AS wy,
           row_number() OVER (
             PARTITION BY o.obj_id
             ORDER BY (p.cx - o.ox) * (p.cx - o.ox)
                    + (p.cy - o.oy) * (p.cy - o.oy), p.bin_x, p.bin_y) AS rn
    FROM {p}objs o JOIN {p}poles p
      ON (p.cx - o.ox) * (p.cx - o.ox) + (p.cy - o.oy) * (p.cy - o.oy)
         <= {P['obj_max_dist_sq']}
  ) WHERE rn = 1
),
{dbscan_sql(wpts_cte, P['eps'], P['min_samples'], prefix='p7').strip()},
{p}clus AS (
  SELECT a.win_id, a.cluster,
         CAST(SUM(CAST(round(w.x * 1000.0) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000.0 AS ccx,
         CAST(SUM(CAST(round(w.y * 1000.0) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000.0 AS ccy,
         GREATEST(MAX(CAST(round(w.x * 1000.0) AS BIGINT))
                  - MIN(CAST(round(w.x * 1000.0) AS BIGINT)),
                  MAX(CAST(round(w.y * 1000.0) AS BIGINT))
                  - MIN(CAST(round(w.y * 1000.0) AS BIGINT))) / 2000.0 AS cr
  FROM p7_assign a
  JOIN p7_wpts w ON w.win_id = a.win_id AND w.pid = a.pid
  WHERE a.cluster >= 0
  GROUP BY a.win_id, a.cluster
),
{p}pick AS (
  SELECT win_id, bgt_type, ccx, ccy, cr, gz FROM (
    SELECT c.*, m.bgt_type, m.gz,
           row_number() OVER (PARTITION BY c.win_id ORDER BY c.cluster) AS rn
    FROM {p}clus c JOIN {p}match m ON m.obj_id = c.win_id
    WHERE c.cr <= {P['max_r']}
      AND (m.wx - c.ccx) * (m.wx - c.ccx) + (m.wy - c.ccy) * (m.wy - c.ccy)
          < (c.cr + {P['match_buf']}) * (c.cr + {P['match_buf']})
  ) WHERE rn = 1
),
c9 AS (
  SELECT page_id, lbl FROM (
    SELECT page_id, stage, lbl,
           row_number() OVER (PARTITION BY page_id
                              ORDER BY stage, lbl) AS rn
    FROM (
      SELECT DISTINCT q.page_id, {stage_case} AS stage, {lbl_case} AS lbl
      FROM u7 q JOIN {p}pick k2
        ON (q.x - k2.ccx) * (q.x - k2.ccx) + (q.y - k2.ccy) * (q.y - k2.ccy)
           <= ({P['r_mult']} * k2.cr) * ({P['r_mult']} * k2.cr)
      WHERE q.z <= k2.gz + {P['label_h']}
    )
  ) WHERE rn = 1
)"""


def _furniture_family_sql() -> str:
    """Stages 10-11 FUSED (mirrors furniture_claims): one band
    CC + stats chain over u10; per-type near-object gates; claims
    resolve per page by the (stage, lbl) argmin. Fusing is exact —
    claimed components are whole CC classes, and removing whole
    classes leaves the remaining partition unchanged. Emits c11 for
    the l9→l11 fold."""
    p = "f10_"
    types_in = ", ".join(f"'{t}'" for _, t, _ in FURN_STAGES)
    stage_case = "CASE n.bgt_type " + " ".join(
        f"WHEN '{t}' THEN {k}" for k, t, _ in FURN_STAGES
    ) + " END"
    lbl_case = "CASE n.bgt_type " + " ".join(
        f"WHEN '{t}' THEN {int(lab)}" for _, t, lab in FURN_STAGES
    ) + " END"
    return f"""
{p}band AS (
  SELECT page_id, x, y, z,
         CAST(round(gz * 100.0) AS BIGINT) AS gz_c,
         CAST(floor(x / {SF_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {SF_GRID}) AS BIGINT) AS cy
  FROM u10
  WHERE z - gz > {SF_BAND[0]} AND z - gz <= {SF_BAND[1]}
),
{_cc_chain_sql(p, f'{p}band').strip()},
{p}assign AS MATERIALIZED (
  SELECT b.page_id, c.component, b.x, b.y, b.z, b.gz_c
  FROM {p}band b JOIN {p}comp c ON b.cx * 2147483648 + b.cy = c.cell
),
{p}stats AS (
  SELECT component,
         MAX(z) AS top_z,
         CAST(SUM(gz_c) AS DOUBLE) / COUNT(*) / 100.0 AS mean_gz,
         MIN(x) AS x_min, MAX(x) AS x_max,
         MIN(y) AS y_min, MAX(y) AS y_max,
         CAST(SUM(CAST(round(x * 1000.0) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000.0 AS center_x,
         CAST(SUM(CAST(round(y * 1000.0) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000.0 AS center_y
  FROM {p}assign GROUP BY component
),
{p}dims AS (
  SELECT s.component, s.center_x, s.center_y FROM {p}stats s
  WHERE s.top_z - s.mean_gz >= {SF_HEIGHT[0]}
    AND s.top_z - s.mean_gz <= {SF_HEIGHT[1]}
    AND s.x_max - s.x_min >= {SF_EXT[0]} AND s.x_max - s.x_min <= {SF_EXT[1]}
    AND s.y_max - s.y_min >= {SF_EXT[0]} AND s.y_max - s.y_min <= {SF_EXT[1]}
),
{p}near AS (
  SELECT DISTINCT d.component, o.bgt_type
  FROM {p}dims d JOIN {point_layer_values_sql()}
    ON o.bgt_type IN ({types_in})
   AND (d.center_x - o.x) * (d.center_x - o.x)
     + (d.center_y - o.y) * (d.center_y - o.y) <= {SF_MAX_D2}
),
c11 AS (
  SELECT page_id, lbl FROM (
    SELECT page_id, stage, lbl,
           row_number() OVER (PARTITION BY page_id
                              ORDER BY stage, lbl) AS rn
    FROM (
      SELECT a.page_id, {stage_case} AS stage, {lbl_case} AS lbl
      FROM {p}assign a JOIN {p}near n ON n.component = a.component
    )
  ) WHERE rn = 1
)"""


def _grower_stage_sql(k: int, label: int) -> str:
    p = f"g{k}_"
    return f"""
{p}band AS (
  SELECT page_id, label,
         CAST(floor(x / {GROW_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {GROW_GRID}) AS BIGINT) AS cy
  FROM l{k - 1}
  WHERE z - gz >= {GROW_BAND[0]} AND z - gz < {GROW_BAND[1]}
    AND (label = 0 OR label = {int(label)})
),
{_cc_chain_sql(p, f'{p}band').strip()},
{p}assign AS MATERIALIZED (
  SELECT b.page_id, b.label, c.component
  FROM {p}band b JOIN {p}comp c ON b.cx * 2147483648 + b.cy = c.cell
),
{p}frac AS (
  SELECT component,
         CAST(SUM(CASE WHEN label = {int(label)} THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS f
  FROM {p}assign GROUP BY component
),
c{k} AS (
  SELECT page_id, MIN(lbl) AS lbl FROM (
    SELECT a.page_id, {int(label)} AS lbl
    FROM {p}assign a JOIN {p}frac f ON f.component = a.component
    WHERE f.f > {GROW_FRAC} AND a.label = 0
  ) GROUP BY page_id
)"""


def full_pipeline_sql(final_select: str | None = None) -> str:
    """The whole 15-stage oracle. ``final_select`` overrides the output
    projection over the final label state ``l15``."""
    road_in = ", ".join(f"'{t}'" for t in ROAD_TYPES)
    parts: list[str] = []
    parts.append(f"pts0 AS MATERIALIZED ({G.pages_cte_sql('orders', 'o_orderkey')})")
    # base enrichment: raster z's + PIP flags, once
    parts.append(f"""
pip0 AS MATERIALIZED (
  SELECT p.page_id, e.bgt_type,
         SUM(CASE WHEN ((e.y1 > p.y) != (e.y2 > p.y))
                   AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END) AS crossings
  FROM pts0 p
  JOIN {_edges_values()}
    ON p.x >= e.px_min AND p.x <= e.px_max
   AND p.y >= e.py_min AND p.y <= e.py_max
  GROUP BY p.page_id, e.polygon_id, e.bgt_type
)""")
    parts.append(f"""
l0 AS MATERIALIZED (
  SELECT p.page_id, p.x, p.y, p.z,
         {R.ground_z_sql(_GXS, _GYS)} AS gz,
         {R.building_z_sql(_GXS, _GYS)} AS bz,
         COALESCE(BOOL_OR(pip0.crossings % 2 = 1
                          AND pip0.bgt_type IN ({road_in})), FALSE) AS in_road,
         COALESCE(BOOL_OR(pip0.crossings % 2 = 1
                          AND pip0.bgt_type = 'pand'), FALSE) AS in_building,
         0 AS label
  FROM pts0 p LEFT JOIN pip0 ON p.page_id = pip0.page_id
  GROUP BY 1, 2, 3, 4
)""")
    # --- stage 1: ground + refine
    parts.append("u1 AS MATERIALIZED (SELECT * FROM l0 WHERE label = 0)")
    parts.append(f"""
r_ground AS (
  SELECT page_id,
         CAST(floor(x / {REFINE_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {REFINE_GRID}) AS BIGINT) AS cy
  FROM u1 WHERE abs(z - gz) < {GROUND_EPS}
),
r_unk AS (
  SELECT page_id,
         CAST(floor(x / {REFINE_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {REFINE_GRID}) AS BIGINT) AS cy
  FROM u1
  WHERE z >= gz - {REFINE_BAND[0]} AND z <= gz + {REFINE_BAND[1]}
    AND NOT abs(z - gz) < {GROUND_EPS}
),
{_cc_chain_sql('r_', 'r_unk').strip()},
r_size AS (
  SELECT c.component, COUNT(*) AS n
  FROM r_unk u JOIN r_comp c ON u.cx * 2147483648 + u.cy = c.cell
  GROUP BY c.component
),
r_big AS (SELECT component FROM r_size WHERE n >= {REFINE_MIN_COMP}),
r_fp AS (
  SELECT DISTINCT uc.cx + dx.d AS cx, uc.cy + dy.d AS cy
  FROM r_cells uc
  JOIN r_comp c ON c.cell = uc.cell
  JOIN r_big b ON b.component = c.component
  CROSS JOIN (VALUES (-1), (0), (1)) AS dx(d)
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(d)
),
c1 AS (
  SELECT g.page_id, {int(Labels.GROUND)} AS lbl
  FROM r_ground g LEFT JOIN r_fp f ON f.cx = g.cx AND f.cy = g.cy
  WHERE f.cx IS NULL
)""")
    parts.append(_fold_sql(1, "c1").strip())
    # --- stage 2: road retarget
    parts.append(_fold_sql(
        2, None,
        f"CASE WHEN b.label = {int(Labels.GROUND)} AND b.in_road "
        f"THEN {int(Labels.ROAD)} ELSE b.label END",
    ).strip())
    # --- stage 3: noise
    parts.append("u3 AS MATERIALIZED (SELECT * FROM l2 WHERE label = 0)")
    parts.append(f"""
n_g AS (
  SELECT page_id,
         CAST(floor(x / {NOISE_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {NOISE_GRID}) AS BIGINT) AS cy
  FROM u3 WHERE abs(z - gz) < {NOISE_EPS}
),
{_cc_chain_sql('n_', 'n_g').strip()},
n_sizes AS (
  SELECT c.component, COUNT(*) AS n
  FROM n_g g JOIN n_comp c ON g.cx * 2147483648 + g.cy = c.cell
  GROUP BY c.component
),
n_small AS (
  SELECT g.page_id
  FROM n_g g JOIN n_comp c ON g.cx * 2147483648 + g.cy = c.cell
  JOIN n_sizes s ON s.component = c.component
  WHERE s.n < {NOISE_MIN_COMP}
),
c3 AS (
  SELECT page_id, {int(Labels.NOISE)} AS lbl FROM (
    SELECT page_id FROM u3 WHERE z - gz < -{NOISE_EPS}
    UNION
    SELECT page_id FROM n_small
  )
)""")
    parts.append(_fold_sql(3, "c3").strip())
    # --- stage 4: building (pure predicate)
    parts.append(_fold_sql(
        4, None,
        f"CASE WHEN b.label = 0 AND b.in_building "
        f"AND (b.bz IS NULL OR b.z <= b.bz + {BUILD_EPS}) "
        f"THEN {int(Labels.BUILDING)} ELSE b.label END",
    ).strip())
    # --- stage 5: cable
    parts.append("u5 AS MATERIALIZED (SELECT * FROM l4 WHERE label = 0)")
    parts.append(f"""
c5_pcells AS (
  SELECT CAST(floor(x / {CABLE_RES}) AS BIGINT) AS cell_x,
         CAST(floor(y / {CABLE_RES}) AS BIGINT) AS cell_y,
         CAST(round(x * 1000.0) AS BIGINT) AS x_mm,
         CAST(round(y * 1000.0) AS BIGINT) AS y_mm
  FROM u5
),
c5_mins AS (
  SELECT cell_x, cell_y, MIN(x_mm) AS min_x, MIN(y_mm) AS min_y,
         COUNT(*) AS n_points
  FROM c5_pcells GROUP BY cell_x, cell_y
),
c5_sums AS (
  SELECT c.cell_x, c.cell_y, m.n_points,
         SUM(c.x_mm - m.min_x) AS sx, SUM(c.y_mm - m.min_y) AS sy,
         SUM((c.x_mm - m.min_x) * (c.x_mm - m.min_x)) AS sxx,
         SUM((c.y_mm - m.min_y) * (c.y_mm - m.min_y)) AS syy,
         SUM((c.x_mm - m.min_x) * (c.y_mm - m.min_y)) AS sxy
  FROM c5_pcells c JOIN c5_mins m
    ON m.cell_x = c.cell_x AND m.cell_y = c.cell_y
  WHERE m.n_points >= 3
  GROUP BY c.cell_x, c.cell_y, m.n_points
),
c5_cov AS (
  SELECT cell_x, cell_y, n_points,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
            / CAST(n_points AS DOUBLE)) / CAST(n_points AS DOUBLE) / 1e6 AS cov_xx,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
            / CAST(n_points AS DOUBLE)) / CAST(n_points AS DOUBLE) / 1e6 AS cov_yy,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
            / CAST(n_points AS DOUBLE)) / CAST(n_points AS DOUBLE) / 1e6 AS cov_xy
  FROM c5_sums
),
c5_eig AS (
  SELECT cell_x, cell_y, n_points,
         ((cov_xx + cov_yy) + sqrt((cov_xx - cov_yy) * (cov_xx - cov_yy)
                                   + 4.0 * cov_xy * cov_xy)) / 2.0 AS lambda1,
         ((cov_xx + cov_yy) - sqrt((cov_xx - cov_yy) * (cov_xx - cov_yy)
                                   + 4.0 * cov_xy * cov_xy)) / 2.0 AS lambda2
  FROM c5_cov
),
c5_cables AS (
  SELECT cell_x, cell_y, cell_x * 100000 + cell_y AS cluster_id
  FROM c5_eig
  WHERE CASE WHEN lambda1 > 0 THEN (lambda1 - lambda2) / lambda1
             ELSE 0.0 END > {CABLE_LIN}
    AND n_points >= {CABLE_MIN_PTS}
),
c5_members AS MATERIALIZED (
  SELECT c.cluster_id, p.page_id, p.x, p.y, p.z - p.gz AS h
  FROM u5 p JOIN c5_cables c
    ON CAST(floor(p.x / {CABLE_RES}) AS BIGINT) = c.cell_x
   AND CAST(floor(p.y / {CABLE_RES}) AS BIGINT) = c.cell_y
),
c5_trackd AS (
  SELECT m.cluster_id, MIN({segment_d2_sql('m.x', 'm.y')}) AS min_track_d2
  FROM c5_members m CROSS JOIN {line_segments_values_sql()}
  GROUP BY m.cluster_id
),
c5_h AS (
  SELECT cluster_id, MIN(h) AS min_height FROM c5_members GROUP BY cluster_id
),
c5_verdict AS (
  SELECT s.cluster_id,
         (t.min_track_d2 <= {TRAM_BUF ** 2}
          AND s.min_height < {TRAM_MAX_H}) AS is_tram
  FROM c5_h s JOIN c5_trackd t ON t.cluster_id = s.cluster_id
),
c5 AS (
  SELECT page_id, MIN(lbl) AS lbl FROM (
    SELECT m.page_id,
           CASE WHEN v.is_tram THEN {int(Labels.TRAM_CABLE)}
                ELSE {int(Labels.CABLE)} END AS lbl
    FROM c5_members m JOIN c5_verdict v ON v.cluster_id = m.cluster_id
  ) GROUP BY page_id
)""")
    parts.append(_fold_sql(5, "c5").strip())
    # --- stage 6: car
    parts.append("u6 AS MATERIALIZED (SELECT * FROM l5 WHERE label = 0)")
    parts.append(f"""
a6_band AS (
  SELECT page_id, x, y,
         CAST(floor(x / {CAR_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {CAR_GRID}) AS BIGINT) AS cy
  FROM u6
  WHERE z - gz >= {CAR_BAND[0]} AND z - gz <= {CAR_BAND[1]}
),
{_cc_chain_sql('a6_', 'a6_band').strip()},
a6_assign AS MATERIALIZED (
  SELECT b.page_id, c.component, b.x, b.y
  FROM a6_band b JOIN a6_comp c ON b.cx * 2147483648 + b.cy = c.cell
),
a6_stats AS ({cluster_stats_sql('a6_assign').strip()}),
a6_dims AS (
  SELECT component,
         x_min - {CAR_PAD} AS x0, x_max + {CAR_PAD} AS x1,
         y_min - {CAR_PAD} AS y0, y_max + {CAR_PAD} AS y1
  FROM a6_stats
  WHERE x_max - x_min <= {CAR_MAX_EXT} AND y_max - y_min <= {CAR_MAX_EXT}
),
a6_pass AS (
  SELECT component FROM (
    SELECT d.component,
           SUM(GREATEST(0.0, LEAST(d.x1, r.rx1) - GREATEST(d.x0, r.rx0))
             * GREATEST(0.0, LEAST(d.y1, r.ry1) - GREATEST(d.y0, r.ry0)))
             / ((d.x1 - d.x0) * (d.y1 - d.y0)) * 100.0 AS road_pct
    FROM a6_dims d JOIN {road_strips_values_sql()}
      ON r.rx0 < d.x1 AND r.rx1 > d.x0
     AND r.ry0 < d.y1 AND r.ry1 > d.y0
    GROUP BY d.component, d.x0, d.x1, d.y0, d.y1
  ) WHERE road_pct > {CAR_MIN_PCT}
),
c6 AS (
  SELECT page_id, MIN(lbl) AS lbl FROM (
    SELECT a.page_id, {int(Labels.CAR)} AS lbl
    FROM a6_assign a JOIN a6_pass p2 ON p2.component = a.component
  ) GROUP BY page_id
)""")
    parts.append(_fold_sql(6, "c6").strip())
    # --- stages 7-9: pole fusers, fused family (one detection chain;
    # per-page (stage, lbl) argmin in c9; l9 folds directly from l6)
    parts.append("u7 AS MATERIALIZED (SELECT * FROM l6 WHERE label = 0)")
    parts.append(_pole_family_sql().strip())
    parts.append(_fold_sql(9, "c9", prev=6).strip())
    # --- stages 10-11: furniture fusers, fused family (exact)
    parts.append("u10 AS MATERIALIZED (SELECT * FROM l9 WHERE label = 0)")
    parts.append(_furniture_family_sql().strip())
    parts.append(_fold_sql(11, "c11", prev=9).strip())
    # --- stages 12-15: growers (operate on the labelled state)
    for k, lab in GROWER_STAGES:
        parts.append(_grower_stage_sql(k, lab).strip())
        parts.append(_fold_sql(k, f"c{k}").strip())
    body = ",\n".join(parts)
    final = final_select or "SELECT page_id, label FROM l15"
    return f"WITH RECURSIVE\n{body}\n{final}"


def _edges_values() -> str:
    from ..sources.layers import polygon_edges_values_sql

    return polygon_edges_values_sql()
