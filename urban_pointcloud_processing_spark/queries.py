"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus a DuckDB oracle SQL string.

This is the driver-facing surface (`__spark_entry__.py` re-exports it).
Each entry cites the reference operator it re-creates (SURVEY.md §2).
Column names are aliased identically on both sides; floating-point
results that cross an aggregation re-order boundary are rounded so the
order-insensitive value hash is stable (SURVEY.md §7.3 item 1).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import geocode as G
from .functions.pip import pip_hits, pip_hits_sql
from .labels import Labels
from .sources import raster as R
from .sources.layers import (
    ROAD_TYPES,
    point_layer_values_sql,
    polygon_edges_df,
    polygon_edges_values_sql,
)
from .operators.geometry import segment_d2, segment_d2_sql
from .plans import full_pipeline as FP
from .sources.pages import pages_from_orders
from .tiling import tile_x_sql, tile_y_sql

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

PAGES_CTE = G.pages_cte_sql("orders", "o_orderkey")


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# ----------------------------------------------------------------------
# Tiling (reference las_utils.py:24-53 — the tile-assignment operator)
# ----------------------------------------------------------------------

@register(
    "tile_assign",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT page_id, {tile_x_sql('x')} AS tile_x, {tile_y_sql('y')} AS tile_y
FROM pts
""",
)
def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-page tile assignment (the north-rule row-level match)."""
    return pages_from_orders(spark, sf_dir).select("page_id", "tile_x", "tile_y")


@register(
    "tile_histogram",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT {tile_x_sql('x')} AS tile_x, {tile_y_sql('y')} AS tile_y,
       COUNT(*) AS n_pages
FROM pts GROUP BY 1, 2
""",
)
def q_tile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages per tile — scan→project→groupBy, map-side combined."""
    return (
        pages_from_orders(spark, sf_dir)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_pages"))
    )


@register(
    "tile_histogram_salted",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT {tile_x_sql('x')} AS tile_x, {tile_y_sql('y')} AS tile_y,
       COUNT(*) AS n_pages
FROM pts GROUP BY 1, 2
""",
)
def q_tile_histogram_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage variant of tile_histogram (north_rule:
    explicit salting for dense cells): partial counts per (tile, salt),
    final per tile — identical result, bounded per-task key width."""
    from .operators.skew import salted_count

    return salted_count(
        pages_from_orders(spark, sf_dir), ["tile_x", "tile_y"], salt_mod=16
    ).withColumnRenamed("n_rows", "n_pages")


# ----------------------------------------------------------------------
# Point-in-polygon join (reference clip_utils.py:193-238 + fusers)
# ----------------------------------------------------------------------

@register(
    "pip_join",
    pip_hits_sql(PAGES_CTE, polygon_edges_values_sql()),
)
def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full (page × polygon) containment pairs over all layers.

    Round 6: the polygon layer is a plan-build-time dimension list, so
    the containment pairs come from the map-only mapInArrow kernel
    (pip_hits_arrow) — no bbox θ-join, no pair-aggregation exchange;
    identical pairs (same per-edge IEEE ops, parity == odd crossing
    count)."""
    from .functions.pip import pip_hits_arrow
    from .sources.layers import polygon_layer

    pages = pages_from_orders(spark, sf_dir)
    return pip_hits_arrow(pages, polygon_layer())


_ROAD_FILTER = "e.bgt_type IN ({})".format(
    ", ".join(f"'{t}'" for t in ROAD_TYPES)
)


@register(
    "pip_roads",
    pip_hits_sql(PAGES_CTE, polygon_edges_values_sql(), type_filter=_ROAD_FILTER),
)
def q_pip_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-filtered PIP join (reference BGTRoadFuser type vocabulary,
    src/upcp/fusion/road_fuser.py:36-38,85-87)."""
    from .functions.pip import pip_hits_arrow
    from .sources.layers import polygon_layer

    pages = pages_from_orders(spark, sf_dir)
    return pip_hits_arrow(pages, polygon_layer(), types=list(ROAD_TYPES))


# ----------------------------------------------------------------------
# Raster lookup join (reference FastGridInterpolator,
# src/upcp/utils/interpolation.py:336-348) + AHN fuser predicates
# ----------------------------------------------------------------------

_GX = R.gx_sql("x")
_GY = R.gx_sql("y")


@register(
    "raster_lookup",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT page_id, {R.ground_z_sql(_GX, _GY)} AS ground_z,
       {R.building_z_sql(_GX, _GY)} AS building_z
FROM pts
""",
)
def q_raster_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector enrichment: floor-key equi-join against the
    long-format raster table (broadcast at this scale)."""
    pages = pages_from_orders(spark, sf_dir)
    joined = R.with_raster(pages, R.raster_df(spark))
    return joined.select("page_id", "ground_z", "building_z")


@register(
    "ground_fuser",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT page_id, 9 AS label
FROM pts
WHERE abs(z - {R.ground_z_sql(_GX, _GY)}) < 0.2
""",
)
def q_ground_fuser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AHNFuser ground predicate: |z − ground_z| < ε, ε=0.2
    (src/upcp/fusion/ahn_fuser.py:159; ε from notebooks/0.)"""
    pages = pages_from_orders(spark, sf_dir)
    joined = R.with_raster(pages, R.raster_df(spark))
    return (
        joined.filter(F.abs(F.col("z") - F.col("ground_z")) < 0.2)
        .select("page_id", F.lit(9).alias("label"))
    )


@register(
    "building_fuser",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT page_id, 10 AS label
FROM pts
WHERE {R.building_z_sql(_GX, _GY)} IS NOT NULL
  AND z < {R.building_z_sql(_GX, _GY)} + 0.2
""",
)
def q_building_fuser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AHNFuser building predicate: z < building_z + ε
    (src/upcp/fusion/ahn_fuser.py:169-170)."""
    pages = pages_from_orders(spark, sf_dir)
    joined = R.with_raster(pages, R.raster_df(spark))
    return (
        joined.filter(
            F.col("building_z").isNotNull()
            & (F.col("z") < F.col("building_z") + 0.2)
        )
        .select("page_id", F.lit(10).alias("label"))
    )


# AHNFuser refine_ground (reference ahn_fuser.py:96-125 + _refine_layer
# :76-108): components of UNKNOWN points just above the ground surface
# cast an object footprint; ground points under that footprint are
# un-grounded (detector: full_pipeline.ground_refine).
_GZ = R.ground_z_sql(_GX, _GY)
_BZ = R.building_z_sql(_GX, _GY)


def _pages_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pages with the ground height ``gz`` the fuser detectors of
    plans/full_pipeline.py read: the closed-form raster value, the
    oracle's ``_GZ``."""
    return pages_from_orders(spark, sf_dir).select(
        "page_id", "x", "y", "z",
        R.ground_z_col(F.floor(F.col("x")), F.floor(F.col("y"))).alias("gz"),
    )

_REFINE_CC = f"""
ground AS (
  SELECT page_id, x, y,
         CAST(floor(x / {FP.REFINE_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {FP.REFINE_GRID}) AS BIGINT) AS cy
  FROM pts WHERE abs(z - {_GZ}) < 0.2
),
unk AS (
  SELECT page_id,
         CAST(floor(x / {FP.REFINE_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {FP.REFINE_GRID}) AS BIGINT) AS cy
  FROM pts
  WHERE z >= {_GZ} - {FP.REFINE_BAND[0]} AND z <= {_GZ} + {FP.REFINE_BAND[1]}
    AND NOT abs(z - {_GZ}) < 0.2
),
ucells AS (SELECT DISTINCT cx, cy, cx * 2147483648 + cy AS cell FROM unk),
uadj AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM ucells a JOIN ucells b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
ureach(src, node) AS (
  SELECT cell, cell FROM ucells
  UNION
  SELECT r.src, e.dst FROM ureach r JOIN uadj e ON r.node = e.src
),
ucomp AS (SELECT src AS cell, MIN(node) AS component FROM ureach GROUP BY src),
usize AS (
  SELECT c.component, COUNT(*) AS n
  FROM unk u JOIN ucomp c ON u.cx * 2147483648 + u.cy = c.cell
  GROUP BY c.component
),
big AS (SELECT component FROM usize WHERE n >= {FP.REFINE_MIN_COMP}),
fp AS (
  SELECT DISTINCT uc.cx + dx.d AS cx, uc.cy + dy.d AS cy
  FROM ucells uc
  JOIN ucomp c ON c.cell = uc.cell
  JOIN big b ON b.component = c.component
  CROSS JOIN (VALUES (-1), (0), (1)) AS dx(d)
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(d)
)
"""


@register(
    "ground_refine",
    f"""
WITH RECURSIVE pts AS ({PAGES_CTE}),
{_REFINE_CC}
SELECT g.page_id, (f.cx IS NOT NULL) AS removed
FROM ground g LEFT JOIN fp f ON f.cx = g.cx AND f.cy = g.cy
""",
)
def q_ground_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AHNFuser refine_ground: for every ground point, whether it falls
    under the dilated footprint of a ≥min-size UNKNOWN component in the
    band just above ground (and is therefore removed from GROUND)."""
    # the pages feed both the ground and the unknown band — one scan
    return FP.ground_refine(_pages_gz(spark, sf_dir).localCheckpoint(eager=True))


# ----------------------------------------------------------------------
# Pipeline fold — first-writer-wins ordered labelling
# (reference src/upcp/pipeline.py:88-95; fuser order per notebooks/0.)
# ----------------------------------------------------------------------

def _pipeline_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.fusers import (
        BelowGroundNoiseFilter,
        BuildingFuser,
        GroundSurfaceFuser,
        PipEnricher,
        RasterEnricher,
        RoadFuser,
    )
    from .plans.pipeline import Pipeline

    edges = polygon_edges_df(spark)
    pages = RasterEnricher(R.raster_df(spark))(pages_from_orders(spark, sf_dir))
    # one Arrow pass computes both PIP flags (roads + buildings)
    pages = PipEnricher(
        None,
        {"_in_road": list(ROAD_TYPES), "_in_building": ["pand"]},
    )(pages)
    pipe = Pipeline(
        [
            GroundSurfaceFuser(epsilon=0.2),
            RoadFuser(edges.filter(F.col("bgt_type").isin(*ROAD_TYPES))),
            BelowGroundNoiseFilter(epsilon=0.2),
            BuildingFuser(
                edges.filter(F.col("bgt_type") == "pand"), ahn_eps=0.2
            ),
        ]
    )
    return pipe.run_fused(pages)


_PIPELINE_ORACLE = f"""
WITH pts AS ({PAGES_CTE}),
pip AS (
  SELECT p.page_id, e.bgt_type,
         SUM(CASE WHEN ((e.y1 > p.y) != (e.y2 > p.y))
                   AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END) AS crossings
  FROM pts p
  JOIN {polygon_edges_values_sql()}
    ON p.x >= e.px_min AND p.x <= e.px_max
   AND p.y >= e.py_min AND p.y <= e.py_max
  GROUP BY p.page_id, e.polygon_id, e.bgt_type
),
flags AS (
  SELECT p.page_id, p.z, {_GZ} AS gz, {_BZ} AS bz,
         COALESCE(BOOL_OR(pip.crossings % 2 = 1
                          AND pip.bgt_type IN ('rijbaan_lokale_weg', 'fietspad', 'voetpad')), FALSE) AS in_road,
         COALESCE(BOOL_OR(pip.crossings % 2 = 1 AND pip.bgt_type = 'pand'), FALSE) AS in_building
  FROM pts p LEFT JOIN pip ON p.page_id = pip.page_id
  GROUP BY 1, 2, 3, 4
)
SELECT page_id,
       CASE WHEN abs(z - gz) < 0.2 AND in_road THEN 1
            WHEN abs(z - gz) < 0.2 THEN 9
            WHEN z - gz < -0.2 THEN 99
            WHEN in_building AND (bz IS NULL OR z <= bz + 0.2) THEN 10
            ELSE 0 END AS label
FROM flags
"""


@register("pipeline_labels", _PIPELINE_ORACLE)
def q_pipeline_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ordered fold: ground → road → below-ground noise → building,
    first-writer-wins per reference pipeline.py:88-95."""
    return _pipeline_df(spark, sf_dir).select("page_id", "label")


@register(
    "label_stats_pct",
    f"""
WITH labelled AS ({_PIPELINE_ORACLE}),
tot AS (SELECT COUNT(*) AS t FROM labelled)
SELECT label, COUNT(*) AS n_points,
       CAST(floor(COUNT(*) * 10000.0 / (SELECT t FROM tot)) AS BIGINT)
         AS pct_e2
FROM labelled GROUP BY label
""",
)
def q_label_stats_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label statistics with percentages (reference
    analysis_tools.get_label_stats + pipeline.py:135-136); the
    percentage is ×100-quantized (floor) for cross-engine exactness."""
    labelled = _pipeline_df(spark, sf_dir)
    total = labelled.count()
    return (
        labelled.groupBy("label")
        .agg(F.count("*").alias("n_points"))
        .withColumn(
            "pct_e2",
            F.floor(F.col("n_points") * F.lit(10000.0) / F.lit(float(total)))
            .cast("long"),
        )
    )


@register(
    "label_histogram",
    f"WITH labelled AS ({_PIPELINE_ORACLE}) "
    "SELECT label, COUNT(*) AS n_points FROM labelled GROUP BY label",
)
def q_label_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label statistics (reference analysis/analysis_tools.py:8-18)."""
    return _pipeline_df(spark, sf_dir).groupBy("label").agg(
        F.count("*").alias("n_points")
    )


# ----------------------------------------------------------------------
# bbox range join: tile ↔ layer overlap (reference bgt_utils.py:150-152)
# ----------------------------------------------------------------------

from .sources.layers import polygons_meta_df, polygons_meta_values_sql  # noqa: E402


@register(
    "bbox_join",
    f"""
WITH pts AS ({PAGES_CTE}),
tiles AS (
  SELECT DISTINCT {tile_x_sql('x')} AS tile_x, {tile_y_sql('y')} AS tile_y
  FROM pts
)
SELECT t.tile_x, t.tile_y, g.polygon_id, g.layer, g.bgt_type
FROM tiles t
JOIN {polygons_meta_values_sql()}
  ON g.x_min < (t.tile_x + 1) * 50.0 AND g.x_max > t.tile_x * 50.0
 AND g.y_min < (t.tile_y + 1) * 50.0 AND g.y_max > t.tile_y * 50.0
""",
)
def q_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap theta join between occupied tiles and layer
    polygon bboxes — strict inequalities per reference bgt_utils.py:150-152."""
    tiles = pages_from_orders(spark, sf_dir).select("tile_x", "tile_y").distinct()
    polys = polygons_meta_df(spark)
    tx, ty = F.col("tile_x"), F.col("tile_y")
    cond = (
        (F.col("x_min") < (tx + 1) * 50.0)
        & (F.col("x_max") > tx * 50.0)
        & (F.col("y_min") < (ty + 1) * 50.0)
        & (F.col("y_max") > ty * 50.0)
    )
    return tiles.join(F.broadcast(polys), cond).select(
        "tile_x", "tile_y", "polygon_id", "layer", "bgt_type"
    )


# ----------------------------------------------------------------------
# Distance joins (reference street_furniture_fuser.py:80-85,
# interpolation.py:119-308)
# ----------------------------------------------------------------------

from .operators.neighbors import binned_statistic_2d, knn_idw, nearest_match  # noqa: E402
from .sources.layers import point_layer_df  # noqa: E402


@register(
    "nearest_object",
    f"""
WITH pts AS ({PAGES_CTE}),
cand AS (
  SELECT p.page_id, o.obj_id, o.bgt_type,
         (p.x - o.x) * (p.x - o.x) + (p.y - o.y) * (p.y - o.y) AS dist_sq
  FROM pts p JOIN {point_layer_values_sql()}
    ON (p.x - o.x) * (p.x - o.x) + (p.y - o.y) * (p.y - o.y) <= 225.0
)
SELECT page_id, obj_id, bgt_type, dist_sq FROM (
  SELECT *, row_number() OVER (PARTITION BY page_id ORDER BY dist_sq, obj_id) AS rn
  FROM cand
) WHERE rn = 1
""",
)
def q_nearest_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest point-object within 15 m per page (distance-capped
    argmin join with deterministic tie-break)."""
    pages = pages_from_orders(spark, sf_dir)
    return nearest_match(
        pages, point_layer_df(spark), max_dist=15.0
    ).select("page_id", "obj_id", "bgt_type", "dist_sq")


@register(
    "knn_idw",
    f"""
WITH pts AS ({PAGES_CTE}),
cand AS (
  SELECT p.page_id, o.obj_id, o.z,
         (p.x - o.x) * (p.x - o.x) + (p.y - o.y) * (p.y - o.y) AS dist_sq
  FROM pts p JOIN {point_layer_values_sql()}
    ON (p.x - o.x) * (p.x - o.x) + (p.y - o.y) * (p.y - o.y) <= 1600.0
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY page_id ORDER BY dist_sq, obj_id) AS rn
    FROM cand
  ) WHERE rn <= 4
)
SELECT page_id, COUNT(*) AS n_neighbors,
       SUM((1.0 / (dist_sq + 0.000000001)) * z ORDER BY dist_sq, obj_id)
     / SUM(1.0 / (dist_sq + 0.000000001) ORDER BY dist_sq, obj_id) AS idw
FROM topk GROUP BY page_id
""",
)
def q_knn_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded kNN (k=4, max 40 m) + IDW p=2 via the cell-neighborhood
    broadcast index; ordered fold keeps float sums deterministic."""
    pages = pages_from_orders(spark, sf_dir)
    return knn_idw(
        pages, point_layer_df(spark), k=4, max_dist=40.0, power=2, reg=1e-9
    ).select("page_id", "n_neighbors", "idw")


@register(
    "binned_stats",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT CAST(floor(x / 5.0) AS BIGINT) AS bin_x,
       CAST(floor(y / 5.0) AS BIGINT) AS bin_y,
       MIN(z) AS z_min, MAX(z) AS z_max,
       quantile_cont(z, 0.5) AS z_median, COUNT(z) AS n_points
FROM pts GROUP BY 1, 2
""",
)
def q_binned_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D binned statistics per 5 m voxel column (reference
    pole_fuser.py:171-196); exact median, not approx."""
    return binned_statistic_2d(pages_from_orders(spark, sf_dir), res=5.0)


# ----------------------------------------------------------------------
# Connected components + region growing (reference
# label_connected_comp.py:81-135) — oracle via recursive CTE
# ----------------------------------------------------------------------

_CC_BASE = f"""
pts AS ({PAGES_CTE}),
ground AS (
  SELECT page_id, CAST(floor(x) AS BIGINT) AS cx, CAST(floor(y) AS BIGINT) AS cy
  FROM pts WHERE abs(z - {_GZ}) < 0.2
),
cells AS (SELECT DISTINCT cx, cy, cx * 2147483648 + cy AS cell FROM ground),
adj AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM cells a JOIN cells b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
reach(src, node) AS (
  SELECT cell, cell FROM cells
  UNION
  SELECT r.src, e.dst FROM reach r JOIN adj e ON r.node = e.src
),
comp AS (SELECT src AS cell, MIN(node) AS component FROM reach GROUP BY src)
"""


@register(
    "connected_components",
    f"""
WITH RECURSIVE {_CC_BASE}
SELECT g.page_id, c.component
FROM ground g JOIN comp c ON g.cx * 2147483648 + g.cy = c.cell
""",
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid CC (1 m cells, 8-neighborhood) over ground-band pages;
    component id canonicalized to min cell key. Engine side runs the
    two-level ``grid_components``: one union-find per 64×64-cell block,
    then a driver merge of the roots of adjacent blocks."""
    from .operators.components import grid_components

    pages = pages_from_orders(spark, sf_dir)
    enriched = R.with_raster(pages, R.raster_df(spark))
    ground = enriched.filter(F.abs(F.col("z") - F.col("ground_z")) < 0.2).select(
        "page_id", "x", "y"
    )
    return grid_components(ground, grid_size=1.0).select("page_id", "component")


@register(
    "component_sizes",
    f"""
WITH RECURSIVE {_CC_BASE}
SELECT c.component, COUNT(*) AS n_points
FROM ground g JOIN comp c ON g.cx * 2147483648 + g.cy = c.cell
GROUP BY c.component
""",
)
def q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component size histogram (reference size filter input,
    label_connected_comp.py:92-97)."""
    df = q_connected_components(spark, sf_dir)
    return df.groupBy("component").agg(F.count("*").alias("n_points"))


@register(
    "cluster_rank",
    f"""
WITH RECURSIVE {_CC_BASE},
sizes AS (
  SELECT c.component, COUNT(*) AS n_points,
         CAST(floor((c.component // 2147483648) / 50.0) AS BIGINT) AS tile_x,
         CAST(floor((c.component % 2147483648) / 50.0) AS BIGINT) AS tile_y
  FROM ground g JOIN comp c ON g.cx * 2147483648 + g.cy = c.cell
  GROUP BY c.component
)
SELECT component, n_points, tile_x, tile_y,
       CAST(row_number() OVER (PARTITION BY tile_x, tile_y
                               ORDER BY n_points DESC, component)
            AS BIGINT) AS size_rank
FROM sizes
""",
)
def q_cluster_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-first cluster rank (reference processes components in
    descending size order WITHIN a tile's cluster loop,
    cable_fuser.py:340; deterministic (size desc, component)
    tie-break).

    Scale note (VERDICT r02 item 1): the window is partitioned by the
    component's home tile — decoded from the canonical min-cell key, so
    no extra join/shuffle — instead of a global orderBy window that
    would funnel every component row through one task at 100 TB.
    Cell coords here are non-negative (RD meters), so the pairing-key
    decode is plain div/mod."""
    from pyspark.sql import Window

    sizes = q_component_sizes(spark, sf_dir)
    sized = sizes.select(
        "component", "n_points",
        F.floor(F.expr("component div 2147483648") / 50.0)
        .cast("long").alias("tile_x"),
        F.floor(F.expr("component % 2147483648") / 50.0)
        .cast("long").alias("tile_y"),
    )
    w = Window.partitionBy("tile_x", "tile_y").orderBy(
        F.desc("n_points"), F.col("component")
    )
    return sized.select(
        "component", "n_points", "tile_x", "tile_y",
        F.row_number().over(w).cast("long").alias("size_rank"),
    )


# ----------------------------------------------------------------------
# Training-data pipeline: text analysis over `documents`
# (SURVEY.md §2 extension — lang-ID, quality, tokens, fingerprints)
# ----------------------------------------------------------------------

from .functions import text as T  # noqa: E402
from .operators import dedup as D  # noqa: E402
from .operators import multimodal as M  # noqa: E402
from .operators import similarity as S  # noqa: E402


from .sources.pages import read_fixture, spread_small_scan  # noqa: E402


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min_bytes=0: documents are small in BYTES but heavy in per-row
    # compute (tokenize/gram/regex chains) — leaving them on one split
    # serialized span_dedup/quality_filter/repetition_ngrams (measured
    # 2× at sf0.1), unlike the arithmetic-light pages scans where the
    # size floor wins
    return spread_small_scan(
        read_fixture(spark, sf_dir, "documents"),
        f"{sf_dir}/documents.parquet",
        min_bytes=0,
    )


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min_bytes=0: per-row 64-dim float math (IVF/ANN signatures,
    # k-means training) wants all cores even at fixture byte sizes
    return spread_small_scan(
        read_fixture(spark, sf_dir, "embeddings"),
        f"{sf_dir}/embeddings.parquet",
        min_bytes=0,
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_fixture(spark, sf_dir, "events")


_QC_SQL = T.quality_cols_sql("text")


@register(
    "text_stats",
    f"""
SELECT doc_id,
       {_QC_SQL['n_tokens']} AS n_tokens,
       {_QC_SQL['n_stopwords']} AS n_stopwords,
       {_QC_SQL['stop_ratio_e6']} AS stop_ratio_e6,
       {_QC_SQL['mean_token_len_e6']} AS mean_token_len_e6,
       {_QC_SQL['quality_e6']} AS quality_e6
FROM documents
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring — pure JVM higher-order
    functions, single scan, no shuffle."""
    cols = T.quality_cols_expr(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )

_QF_SQL = T.quality_filter_cols_sql("text")


@register(
    "quality_filter",
    f"""
SELECT doc_id,
       {_QF_SQL['n_tokens']} AS n_tokens,
       {_QF_SQL['distinct_ratio_e6']} AS distinct_ratio_e6,
       {_QF_SQL['reasons']} AS reasons,
       {_QF_SQL['kept']} AS kept
FROM documents
""",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality FILTER (the Gopher/C4-style gate): token
    count, mean token length, stopword ratio and distinct-token
    (repetition) rules as a reason bitmask + kept verdict — the
    decision layer on top of text_stats, one scan, no shuffle."""
    cols = T.quality_filter_cols_expr(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


@register(
    "pii_scrub",
    f"""
WITH t AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0
                      THEN ' Contact: user' || CAST(doc_id AS VARCHAR)
                           || '@example.com or +31 6 1234 '
                           || CAST(doc_id AS VARCHAR)
                      ELSE '' END AS t2
  FROM documents
),
c AS (
  SELECT doc_id, t2,
         CAST(len(regexp_extract_all(t2, '{T.PII_EMAIL_RE}')) AS BIGINT)
           AS n_emails,
         CAST(len(regexp_extract_all(t2, '{T.PII_PHONE_RE}')) AS BIGINT)
           AS n_phones
  FROM t
)
SELECT doc_id, n_emails, n_phones,
       (n_emails + n_phones) > 0 AS has_pii,
       sha256(regexp_replace(
          regexp_replace(t2, '{T.PII_EMAIL_RE}', '<EMAIL>', 'g'),
          '{T.PII_PHONE_RE}', '<PHONE>', 'g')) AS clean_hash
FROM c
""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub step of a training-data
    pipeline: count email/phone matches per document and emit the
    sha-256 of the redacted text (emails replaced first, then phones).
    Pure JVM regexp_count/regexp_replace — one scan, no shuffle, no
    Python; the patterns use only constructs with identical Java-regex
    (engine) and RE2 (oracle) semantics. A deterministic contact
    footer is appended to every 7th document so the fixture actually
    exercises both patterns (the analog of synth_media's payloads);
    the oracle builds the identical footer."""
    i = F.col("doc_id")
    footer = F.concat(
        F.lit(" Contact: user"), i.cast("string"),
        F.lit("@example.com or +31 6 1234 "), i.cast("string"),
    )
    t2 = F.concat(
        F.col("text"),
        F.when(i % 7 == 0, footer).otherwise(F.lit("")),
    )
    base = _docs(spark, sf_dir).select("doc_id", t2.alias("t2"))
    n_emails = F.regexp_count(
        F.col("t2"), F.lit(T.PII_EMAIL_RE)
    ).cast("long")
    n_phones = F.regexp_count(
        F.col("t2"), F.lit(T.PII_PHONE_RE)
    ).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t2"), T.PII_EMAIL_RE, "<EMAIL>"),
        T.PII_PHONE_RE, "<PHONE>",
    )
    return base.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        ((n_emails + n_phones) > 0).alias("has_pii"),
        F.sha2(redacted, 256).alias("clean_hash"),
    )


@register(
    "source_mix",
    f"""
SELECT source, lang, COUNT(*) AS n_docs,
       SUM(CASE WHEN {_QF_SQL['kept']} THEN 1 ELSE 0 END) AS n_kept,
       CAST((CAST(SUM(n_chars) AS HUGEINT) * 1000000) // COUNT(*)
            AS DOUBLE) / 1000000.0 AS mean_chars,
       CAST((CAST(SUM(CASE WHEN {_QF_SQL['kept']} THEN 1 ELSE 0 END)
                  AS HUGEINT) * 1000000) // COUNT(*)
            AS DOUBLE) / 1000000.0 AS p_kept
FROM documents GROUP BY source, lang
""",
)
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-MIXING report a pipeline owner reads before setting
    mixture weights: per (source, lang) stratum — document count,
    quality-gate survivors, exact mean length and keep rate. One scan
    + one map-side-combined aggregate; the means are exact integer
    sums floor-e6-quantized through decimal(38,0) (mirrors DuckDB
    HUGEINT — an i64 ×1e6 would overflow past ~9e12 total chars per
    stratum, real at 10^12-document scale)."""
    kept = T.quality_filter_cols_expr(F.col("text"))["kept"]
    base = _docs(spark, sf_dir).select(
        "source", "lang", "n_chars",
        kept.cast("long").alias("_k"),
    )
    agg = base.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("_k").alias("n_kept"),
        F.sum("n_chars").alias("_sum_chars"),
    )
    # `a div b` = exact integral quotient (decimal-safe) — a decimal
    # `/` would round the quotient at the result scale before any
    # floor(), which can step past the true floor near integers
    def floor_e6_div(num_col: str, den_col: str):
        return F.expr(
            f"CAST(CAST({num_col} AS DECIMAL(38,0)) * 1000000 "
            f"DIV {den_col} AS DOUBLE)"
        ) / F.lit(1000000.0)

    return agg.select(
        "source", "lang", "n_docs", "n_kept",
        floor_e6_div("_sum_chars", "n_docs").alias("mean_chars"),
        floor_e6_div("n_kept", "n_docs").alias("p_kept"),
    )


@register(
    "url_domains",
    """
WITH u AS (
  SELECT doc_id, lang, n_chars,
         'https://' ||
         CASE doc_id % 3 WHEN 0 THEN 'www' WHEN 1 THEN 'blog'
              ELSE 'cdn.media' END
         || '.site' || CAST(doc_id % 37 AS VARCHAR) || '.' ||
         CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
              WHEN 2 THEN 'co.uk' ELSE 'nl' END
         || '/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
h AS (
  SELECT doc_id, lang, n_chars,
         regexp_extract(url, '^https?://([^/]+)/', 1) AS host
  FROM u
),
r AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN host LIKE '%.co.uk'
              THEN array_to_string((string_split(host, '.'))[-3:], '.')
              ELSE array_to_string((string_split(host, '.'))[-2:], '.')
         END AS reg_domain
  FROM h
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM documents)
SELECT reg_domain,
       COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(*) * CAST(1000000 AS BIGINT) // tot AS share_e6
FROM r CROSS JOIN tot
GROUP BY reg_domain, tot
""",
)
def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain rollup — the per-site report of a
    Common-Crawl-style crawl (input_hint's url column): parse the host
    out of each page URL, collapse it to the registrable domain with a
    public-suffix-style rule (multi-label suffixes like `co.uk` keep
    three labels, everything else two), and aggregate docs / distinct
    languages / total chars / corpus share per domain.

    The documents fixture has no url column, so a deterministic URL is
    synthesized from doc_id (subdomain, site id, TLD — the pii_scrub
    footer pattern); the oracle builds the identical string. Scale
    shape: one scan, map-only string work (JVM regexp + split — the
    suffix rule is a Column CASE, no Python), then a map-side-combined
    aggregate on the domain key (cardinality = number of sites, ≪
    corpus); the corpus total broadcasts as a one-row dim. Share uses
    integer ×1e6 DIV — exact, order-free."""
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(i % 3 == 0, F.lit("www"))
        .when(i % 3 == 1, F.lit("blog"))
        .otherwise(F.lit("cdn.media")),
        F.lit(".site"), (i % 37).cast("string"), F.lit("."),
        F.when(i % 4 == 0, F.lit("com"))
        .when(i % 4 == 1, F.lit("org"))
        .when(i % 4 == 2, F.lit("co.uk"))
        .otherwise(F.lit("nl")),
        F.lit("/p/"), i.cast("string"),
    )
    host = F.regexp_extract(url, r"^https?://([^/]+)/", 1)
    base = _docs(spark, sf_dir).select(
        "lang", "n_chars", host.alias("host")
    )
    parts = F.split(F.col("host"), r"\.")
    reg = F.when(
        F.col("host").endswith(".co.uk"),
        F.array_join(F.slice(parts, -3, 3), "."),
    ).otherwise(F.array_join(F.slice(parts, -2, 2), "."))
    agg = (
        base.select("lang", "n_chars", reg.alias("reg_domain"))
        .groupBy("reg_domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    tot = _docs(spark, sf_dir).agg(F.count("*").alias("tot"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "reg_domain", "n_docs", "n_langs", "total_chars",
        F.expr("n_docs * CAST(1000000 AS BIGINT) DIV tot")
        .alias("share_e6"),
    )


from .operators.pagerank import domain_pagerank, domain_pagerank_sql  # noqa: E402


@register("domain_pagerank", domain_pagerank_sql(5))
def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-reputation PageRank: 5 exact integer-arithmetic damping
    iterations over the synthesized per-page domain→domain link graph
    (iterative weighted fixed point — the ranking sibling of the
    engine's connected-components machinery). The only corpus-sized
    stage is the edge aggregate; each iteration is a domain-sized
    join + dst-keyed sum with a localCheckpointed frontier. Every
    division is an integer DIV mirrored in the oracle's unrolled
    CTEs, so all 5 iterations reproduce bit-exactly — see
    operators/pagerank.py for bounds and the mass-leak semantics."""
    return domain_pagerank(_docs(spark, sf_dir), 5)


from .operators.packing import pack_chunks, pack_chunks_sql  # noqa: E402


@register("seq_pack", pack_chunks_sql(128))
def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING manifest (GPT-style concat-and-chunk): per
    document its global token offset and first/last 128-token training
    chunk. The global offset is an exclusive prefix sum over the
    doc_id total order — computed with the scalable two-pass form
    (range-bucketed partial sums → broadcast offsets → bucket-local
    window), NEVER a partition-less global window; see
    operators/packing.py for the 100 TB analysis."""
    return pack_chunks(_docs(spark, sf_dir), ctx=128)


_TOP_TERMS_HOT_DF = 200  # fixture df range is 25..402 → both paths live


@register(
    "top_terms",
    f"""
WITH toks0 AS (
  SELECT doc_id, unnest({T.tokens_sql('text')}) AS tok FROM documents
),
toks AS (SELECT doc_id, tok FROM toks0 WHERE tok <> ''),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
dfv AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, tok, tf, df, n_docs, rk FROM (
  SELECT t.doc_id, t.tok, t.tf AS tf, d.df AS df,
         (SELECT n_docs FROM nd) AS n_docs,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY t.tf DESC, d.df ASC, t.tok ASC) AS rk
  FROM tf t JOIN dfv d ON d.tok = t.tok)
WHERE rk <= 3
""",
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 DISTINCTIVE terms — the tf·idf-style term
    extraction step, ranked by the integer-only total order
    (tf DESC, df ASC, token): highest in-doc frequency, rarest in the
    corpus, deterministic tie-break. The exact (tf, df, n_docs)
    triple is emitted so any idf weighting can be applied downstream
    without re-scanning (ranking by a float tf·ln(N/df) directly
    would hang cross-engine parity on libm's non-correctly-rounded
    log — SURVEY.md §7.3 item 1).

    Scale shape: tf is a map-side-combined (doc, token) aggregate; the
    df join is the classic Zipf-skew hazard (every document of a
    100 TB corpus contains "the", so shuffling tf⋈df on token funnels
    the head of the vocabulary into single reducers). The join is
    therefore SPLIT: document-frequency head (df > _TOP_TERMS_HOT_DF)
    joins by BROADCAST — by Zipf the head is tiny — and only the
    hot-key-free tail takes the shuffle path. The final top-3 window is
    per-document (doc-vocabulary-bounded), and Spark's rank-limit
    pushdown (WindowGroupLimit) prunes to ≤3 rows per doc BEFORE the
    window shuffle. Because the hot/cold split consumes tf twice, tf
    is materialized ONCE as a scratch-parquet stage table (the
    `_shingle_stage` pattern) — without it each union branch re-runs
    the corpus tokenize + aggregate, the query's dominant cost."""
    docs = _docs(spark, sf_dir)
    # split() of an empty/whitespace-only doc yields [''] — drop the
    # empty token so it can't rank as a "distinctive term" (mirrored
    # in the oracle's toks CTE)
    toks = docs.select(
        "doc_id", F.explode(T.tokens_expr(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    tmp = _stream_scratch(spark, sf_dir, "upcp_tt_tf_")
    toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")).write.mode(
        "overwrite"
    ).parquet(f"{tmp}/tf")
    tf = spark.read.schema("doc_id bigint, tok string, tf bigint").parquet(
        f"{tmp}/tf"
    )
    # vocabulary-sized; localCheckpoint so the hot/cold split doesn't
    # recompute the corpus aggregate three times (house style for
    # small reused tables — operators/dedup.py)
    dfv = (
        tf.groupBy("tok").agg(F.count("*").alias("df")).localCheckpoint()
    )
    hot = dfv.filter(F.col("df") > _TOP_TERMS_HOT_DF)
    cold = dfv.filter(F.col("df") <= _TOP_TERMS_HOT_DF)
    tagged = tf.join(F.broadcast(hot), "tok", "left")
    scored = tagged.filter(F.col("df").isNotNull()).unionByName(
        tagged.filter(F.col("df").isNull()).drop("df").join(cold, "tok")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "tok", "tf", "df", "n_docs", "rk")
    )


@register("repetition_ngrams", T.repetition_sql("text"))
def q_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-word-3-gram repetition signal (Gopher repetition-rule
    analog): per doc the fraction of 3-gram OCCURRENCES that repeat an
    earlier occurrence, plus a flag above the fixture-scaled threshold.
    Pure higher-order-function expressions — one scan, zero shuffle,
    zero Python; complements quality_filter's distinct-TOKEN rule with
    the phrase-level boilerplate signal. The token array is bound in
    its own projection so the gram lambda never re-tokenizes per
    element (O(n·L) not O(n·L²) per doc)."""
    toked = _docs(spark, sf_dir).select(
        "doc_id", "text", T.tokens_expr(F.col("text")).alias("_t")
    )
    cols = T.repetition_cols_expr(F.col("text"), toks=F.col("_t"))
    return toked.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


@register(
    "lang_id",
    f"SELECT doc_id, {T.pred_lang_sql('text')} AS pred_lang FROM documents",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via stopword-marker scoring (n-gram heuristic),
    deterministic tie-break."""
    return _docs(spark, sf_dir).select(
        "doc_id", T.pred_lang_expr(F.col("text")).alias("pred_lang")
    )


@register(
    "doc_fingerprint",
    f"""
WITH {D.shingle_cte_sql(3)},
mins AS (SELECT doc_id, MIN(sid) AS min_shingle FROM shingles GROUP BY doc_id)
SELECT d.doc_id, {T.str_hash_sql('d.text')} AS fingerprint, m.min_shingle
FROM documents d JOIN mins m ON m.doc_id = d.doc_id
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-text rolling hash + min shingle
    hash (winnowing-style representative)."""
    docs = _docs(spark, sf_dir)
    mins = (
        D.shingle_table(docs, 3)
        .groupBy("doc_id")
        .agg(F.min("sid").alias("min_shingle"))
    )
    fp = docs.select(
        "doc_id", T.str_hash_udf()(F.col("text")).alias("fingerprint")
    )
    return fp.join(mins, "doc_id")


# ----------------------------------------------------------------------
# Training-data pipeline: deduplication over `documents`
# ----------------------------------------------------------------------


@register("exact_dedup", D.EXACT_DEDUP_SQL)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via 256-bit content-hash groupBy (the shuffle carries
    32-byte hashes, not document bodies)."""
    return D.exact_dedup(_docs(spark, sf_dir))


@register(
    "corpus_clean",
    f"""
WITH ded AS ({D.dedup_clusters_sql(3, 0.5).strip()}),
qf AS (SELECT doc_id, {_QF_SQL['kept']} AS quality_kept FROM documents),
dec AS ({D.decontaminate_sql(3, 97, 3).strip()}),
g AS (
  SELECT d.doc_id, q.quality_kept, d.contaminated,
         (q.quality_kept AND NOT d.contaminated) AS passes,
         de.canonical_id
  FROM dec d
  JOIN qf q ON q.doc_id = d.doc_id
  JOIN ded de ON de.doc_id = d.doc_id
),
elect AS (
  SELECT canonical_id, MIN(doc_id) AS survivor_id
  FROM g WHERE passes GROUP BY canonical_id
)
SELECT g.doc_id, g.quality_kept, g.contaminated,
       COALESCE(g.doc_id = e.survivor_id, FALSE) AS is_survivor,
       (g.passes AND COALESCE(g.doc_id = e.survivor_id, FALSE)) AS kept
FROM g LEFT JOIN elect e ON e.canonical_id = g.canonical_id
""",
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-pipeline capstone composite (the `pipeline_full` of the
    training-data side): one verdict row per TRAINING document — kept
    iff it passes the Gopher-style quality gate AND is not contaminated
    against the eval slice AND is the ELECTED survivor of its
    MinHash+LSH near-dup cluster. Survivor election runs AMONG the
    gate-passing cluster members (min doc_id), so a cluster whose
    min-id member fails a gate still contributes its best clean copy —
    pre-gate canonical election would silently drop such clusters'
    content entirely. Composes three separately-green operators over
    ONE shared cached shingle table; each keeps its proven distributed
    shape (quality = map-only scan, contamination = broadcast eval
    shingles, dedup CC = one two-level pass over the dup subgraph).

    The shared shingle table is a scratch parquet STAGE TABLE
    (_shingle_stage): at 100 TB the shingle table is corpus-sized —
    executor storage can't hold it, and a cached plan would leak in a
    long-lived session (ADVICE/VERDICT r04)."""
    docs = _docs(spark, sf_dir)
    sh = _shingle_stage(spark, sf_dir, 3, "upcp_corpus_sh_")
    qf = docs.select(
        "doc_id",
        T.quality_filter_cols_expr(F.col("text"))["kept"].alias(
            "quality_kept"
        ),
    )
    dec = D.decontaminate(docs, 3, 97, 3, sh=sh).select(
        "doc_id", "contaminated"
    )
    clus = D.dedup_clusters(docs, 3, 0.5, sh=sh).select(
        "doc_id", "canonical_id"
    )
    g = (
        dec.join(qf, "doc_id")
        .join(clus, "doc_id")
        .withColumn(
            "passes", F.col("quality_kept") & ~F.col("contaminated")
        )
    )
    elect = (
        g.filter(F.col("passes"))
        .groupBy("canonical_id")
        .agg(F.min("doc_id").alias("survivor_id"))
    )
    is_surv = F.coalesce(
        F.col("doc_id") == F.col("survivor_id"), F.lit(False)
    )
    return g.join(elect, "canonical_id", "left").select(
        "doc_id", "quality_kept", "contaminated",
        is_surv.alias("is_survivor"),
        (F.col("passes") & is_surv).alias("kept"),
    )


@register(
    "stratified_sample",
    """
SELECT doc_id, lang,
       ((doc_id % 1000003) * 2654435761) % 1000003 % 1000 AS bucket
FROM documents
WHERE ((doc_id % 1000003) * 2654435761) % 1000003 % 1000 <
      CASE lang WHEN 'en' THEN 800 WHEN 'de' THEN 500
                WHEN 'fr' THEN 500 ELSE 250 END
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing step of a
    training-data pipeline (per-language keep rates, e.g. upsample
    English, downsample the tail): each doc hashes to a bucket in
    [0, 1000) via a fixed multiplicative hash of doc_id, kept iff
    bucket < its stratum's rate. Reproducible across runs and engines
    (no RNG), map-only, trivially composable with the filter chain.
    doc_id is reduced mod 1000003 BEFORE the multiply — identical
    buckets for non-negative ids, and (10^6)·2654435761 < 2^63 so the
    product can never wrap at web-scale id ranges (the unreduced form
    overflows i64 past doc_id ≈ 3.5e9)."""
    bucket = (
        (F.col("doc_id") % F.lit(1000003)) * F.lit(2654435761)
    ) % F.lit(1000003) % F.lit(1000)
    rate = (
        F.when(F.col("lang") == "en", F.lit(800))
        .when(F.col("lang") == "de", F.lit(500))
        .when(F.col("lang") == "fr", F.lit(500))
        .otherwise(F.lit(250))
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


def _lang_quantile_hist_exprs(q: float, name: str) -> list:
    """Exact interpolated quantile of v per group from a value
    HISTOGRAM (columns v, cum, n — cum = #rows with value <= v):
    rank = (n-1)·q, the order statistic at 0-indexed rank r is the
    smallest v with cum >= r+1 (cum is monotone in v, so MIN over the
    qualifying rows selects it), value = v_floor + frac·(v_ceil −
    v_floor). The rank expressions are PER-ROW (n is constant within
    a group) and enter the aggregate through MIN/MAX, so neither
    engine nests aggregates. Every double op mirrors the oracle's
    row_number-based selection — the selected VALUES are identical
    (tie order within equal v cannot change them), so the
    interpolation arithmetic is bit-exact."""
    rank_row = (F.col("n") - F.lit(1)).cast("double") * F.lit(q)
    fl_row = F.floor(rank_row)
    vlo = F.min(F.when(F.col("cum") >= fl_row + 1, F.col("v")))
    vhi = F.coalesce(
        F.min(F.when(F.col("cum") >= fl_row + 2, F.col("v"))), vlo
    )
    frac = F.max(rank_row) - F.max(fl_row.cast("double"))
    return [(vlo + frac * (vhi - vlo)).alias(name)]


# per-row rank columns fl{t}/rk{t} are precomputed in the j CTE so the
# interpolation references each expression once (no copy-sync hazard)
_LQ_SQL_TMPL = """
  MAX(CASE WHEN rn = fl{t} THEN v END)
  + (MAX(rk{t}) - MAX(CAST(fl{t} AS DOUBLE)))
  * (COALESCE(MAX(CASE WHEN rn = fl{t} + 1 THEN v END),
              MAX(CASE WHEN rn = fl{t} THEN v END))
     - MAX(CASE WHEN rn = fl{t} THEN v END)) AS {name}"""


@register(
    "lang_quantiles",
    f"""
WITH base AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS v, doc_id FROM documents
  WHERE n_chars IS NOT NULL
),
cnt AS (SELECT lang, COUNT(*) AS n FROM base GROUP BY lang),
rnk AS (
  SELECT lang, v,
         row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) - 1 AS rn
  FROM base
),
j AS (
  SELECT r.lang, r.v, r.rn, c.n AS mx_n,
         CAST(c.n - 1 AS DOUBLE) * 0.5 AS rk50,
         CAST(floor(CAST(c.n - 1 AS DOUBLE) * 0.5) AS BIGINT) AS fl50,
         CAST(c.n - 1 AS DOUBLE) * 0.9 AS rk90,
         CAST(floor(CAST(c.n - 1 AS DOUBLE) * 0.9) AS BIGINT) AS fl90
  FROM rnk r JOIN cnt c ON c.lang = r.lang
)
SELECT lang, CAST(MAX(mx_n) AS BIGINT) AS n_docs,
{_LQ_SQL_TMPL.format(t=50, name='median_chars')},
{_LQ_SQL_TMPL.format(t=90, name='p90_chars')}
FROM j GROUP BY lang
""",
)
def q_lang_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language doc-length quantiles (median + p90) via a
    VALUE HISTOGRAM + rank selection — the scalable exact alternative
    to both approx_percentile and per-group corpus sorts.

    Scale shape (the r04 version ranked each language's entire corpus
    in ONE window task — a 100-TB-English killer): the only
    corpus-sized operation here is groupBy(lang, v) with map-side
    combine, fully parallel. Everything after runs on the HISTOGRAM,
    whose size is bounded by |langs| x |distinct doc lengths| (the
    value domain, ~1e6 rows max per language regardless of corpus
    size), so the per-lang cumulative window is tiny-bounded, not
    corpus-sized. Rank r's value = min v with cum_count > r.
    Tie order (equal v) cannot change the interpolated result, so the
    oracle's row_number-based selection yields identical values."""
    from pyspark.sql import Window

    # NULL guard mirrored in the oracle: Spark orders NULLS FIRST,
    # DuckDB NULLS LAST — a NULL n_chars would shift every rank
    base = (
        _docs(spark, sf_dir)
        .filter(F.col("n_chars").isNotNull())
        .select("lang", F.col("n_chars").cast("double").alias("v"))
    )
    hist = base.groupBy("lang", "v").agg(F.count("*").alias("c"))
    cnt = hist.groupBy("lang").agg(F.sum("c").alias("n"))
    # cum = #corpus rows with value <= v; window input is the
    # histogram (value-domain-sized), never the corpus
    w = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h2 = hist.withColumn("cum", F.sum("c").over(w)).join(
        F.broadcast(cnt), "lang"
    )
    return h2.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"),
        *_lang_quantile_hist_exprs(0.5, "median_chars"),
        *_lang_quantile_hist_exprs(0.9, "p90_chars"),
    )


@register("boilerplate_shingles", D.boilerplate_frac_sql(3, 2))
def q_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate signal (CCNet common-fragment analog
    for flat web text): per doc, the fraction of its distinct word-
    3-gram shingles whose corpus document-frequency exceeds 2. The
    doc-frequency table is vocabulary-sized; shuffles scale with the
    corpus shingle count."""
    sh = _shingle_stage(spark, sf_dir, 3, "upcp_sh_boil_")
    return D.boilerplate_frac(_docs(spark, sf_dir), 3, 2, sh=sh)


@register(
    "token_histogram",
    f"""
SELECT tok, COUNT(*) AS n_occurrences
FROM (SELECT unnest({T.tokens_sql('text')}) AS tok FROM documents)
GROUP BY tok ORDER BY n_occurrences DESC, tok LIMIT 20
""",
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-20 (deterministic count-then-token
    tie-break) — the tokenizer-training / vocabulary-analysis scan.
    Map-side combine on the token key; top-k after the agg."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(T.tokens_expr(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(20)
    )


from .operators import sketch as SK  # noqa: E402


@register("cms_heavy_hitters", SK.cms_heavy_hitters_sql(T.tokens_sql("text")))
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters — frequency estimation with a
    FIXED d×w counter grid instead of a vocabulary-sized exact table
    (the counting sibling of hll_distinct): per distinct token its
    exact count, its CMS estimate (min over d=4 hashed counter rows;
    w=32 forces real collisions at fixture scale so the sketch is
    exercised, not vacuous) and the ≥3.3%-of-corpus heavy-hitter
    verdict FROM THE SKETCH. All-integer on both engines — see
    operators/sketch.py for the 100 TB shape (the d·w grid is what
    ships between stages, never the vocabulary)."""
    return SK.cms_heavy_hitters(
        _docs(spark, sf_dir), T.tokens_expr(F.col("text"))
    )


@register("ngram_jaccard", D.jaccard_pairs_sql(3, 0.5))
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (shingle equi-join, never a
    cross join)."""
    sh = _shingle_stage(spark, sf_dir, 3, "upcp_sh_njac_")
    return D.jaccard_pairs(_docs(spark, sf_dir), 3, 0.5, sh=sh)


def _shingle_stage(spark: SparkSession, sf_dir: str, n: int,
                   prefix: str) -> DataFrame:
    """Materialize the word-n-gram shingle table as a scratch parquet
    STAGE TABLE (owner-pid swept) and return its read. The shingle
    family's registered queries all consume this instead of an
    in-session localCheckpoint: at 100 TB the shingle table is
    corpus-sized — executor storage can't hold it and a lost executor
    would kill a checkpointed-lineage job, whereas a stage table on
    the cluster FS is exactly the Iceberg-shaped pattern the label
    pipeline already uses (plans/full_pipeline.py). ``prefix`` is
    per-query so one query's rewrite can never clobber a table
    another live plan still reads."""
    tmp = _stream_scratch(spark, sf_dir, prefix)
    # the shingle UDF is the stage's compute — spread it across cores
    # even below the generic size floor (quarter-width keeps per-task
    # Arrow batches large; measured 0.67 s → 0.46 s at sf0.1). A
    # many-split production scan is left alone (repartition-up only).
    cores = spark.sparkContext.defaultParallelism
    src = spread_small_scan(
        read_fixture(spark, sf_dir, "documents"),
        f"{sf_dir}/documents.parquet",
        target=max(1, cores // 4), min_bytes=0,
    )
    D.shingle_table(src, n).write.mode("overwrite").parquet(f"{tmp}/sh")
    # schema known (we just wrote it): skip the read-back footer
    # inference on the driver (~90 ms of plan-build time)
    return spark.read.schema("doc_id bigint, sid bigint").parquet(f"{tmp}/sh")


@register("span_dedup", D.span_dedup_sql(8))
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup — repeated ≥8-token passages
    shared ACROSS documents, reported as maximal merged token
    intervals per doc (the "dedup repeated 50-token passages" step of
    a training pipeline, ExactSubstr re-expressed relationally:
    positional k-gram keys → cross-doc frequency gate → per-doc
    interval union). All shuffles are shingle-linear; the interval
    merge window is per-document (doc-length-bounded), never
    corpus-sized."""
    return D.span_dedup(_docs(spark, sf_dir), 8)


@register("minhash_lsh", D.minhash_lsh_sql(3, 0.5))
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4×4) candidates verified with exact Jaccard —
    the shingle→minhash→band→bucket-join scale path."""
    sh = _shingle_stage(spark, sf_dir, 3, "upcp_sh_mlsh_")
    return D.minhash_lsh_dedup(_docs(spark, sf_dir), 3, 0.5, sh=sh)


@register("dedup_clusters", D.dedup_clusters_sql(3, 0.5))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the step AFTER near-dup pair detection:
    connected components over the MinHash+LSH pair graph (one
    two-level pass, components.pair_components), canonical = min
    doc_id per cluster. Every doc gets a row;
    singletons survive as their own canonical."""
    sh = _shingle_stage(spark, sf_dir, 3, "upcp_sh_dcl_")
    return D.dedup_clusters(_docs(spark, sf_dir), 3, 0.5, sh=sh)


@register("decontaminate", D.decontaminate_sql(3, 97, 3))
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥3
    distinct word-3-gram shingles with the held-out eval slice
    (doc_id % 97 == 0). The eval shingle set broadcasts — the corpus
    is scanned once, no shuffle grows with the eval side."""
    sh = _shingle_stage(spark, sf_dir, 3, "upcp_sh_dec_")
    return D.decontaminate(_docs(spark, sf_dir), 3, 97, 3, sh=sh)


@register("bloom_decontaminate", D.bloom_decontaminate_sql(3, 97, 3))
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a FIXED-SIZE Bloom bitset instead of the
    broadcast shingle-ID set: the eval slice's shingles set k=4 bits
    each in a 2^16-bit array; a training shingle counts as a hit when
    all four of its probe bits are set — k arithmetic bit-probes per
    shingle, no join on the eval side, broadcast size independent of
    the benchmark suite. Deterministic false positives make flagging a
    superset of `decontaminate`'s; both engines build the identical
    bitset so results still compare bit-exactly (see
    operators/dedup.py § Bloom for the equivalence argument)."""
    sh = _shingle_stage(spark, sf_dir, 3, "upcp_sh_bdec_")
    return D.bloom_decontaminate(_docs(spark, sf_dir), 3, 97, 3, sh=sh)


@register("simhash", D.simhash_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (token-multiplicity weighted)."""
    return D.simhash(_docs(spark, sf_dir))


@register("simhash_neardup", D.simhash_neardup_sql())
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming ≤ 3 SimHash pairs via the pigeonhole 4×15-bit-block
    equi-join (exact recall, 32768-value buckets; the oracle
    brute-forces the same answer)."""
    return D.simhash_neardup(_docs(spark, sf_dir))


# ----------------------------------------------------------------------
# Training-data pipeline: similarity search over `embeddings`
# ----------------------------------------------------------------------


@register("cosine_topk", S.cosine_topk_sql(10, 50))
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 per query vector (vec_id%50==0);
    ordered fold → bit-identical cosines across engines."""
    return S.cosine_topk(_embs(spark, sf_dir), 10, 50)


@register("cosine_neardup", S.cosine_neardup_sql(0.35))
def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ 0.35 (the synthetic
    embeddings are near-random — max pairwise cosine ≈ 0.48 — so 0.35
    exercises the threshold join with a non-trivial result set)."""
    return S.cosine_neardup(_embs(spark, sf_dir), 0.35)


@register("cosine_neardup_lsh", S.cosine_neardup_lsh_sql(0.35))
def q_cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for cosine near-dup: hyperplane-LSH band equi-join
    candidates + exact verification — sub-quadratic, never a cross
    join. Deterministic planes → the oracle reproduces the identical
    candidate set, so values compare exactly."""
    return S.cosine_neardup_lsh(_embs(spark, sf_dir), 0.35)


@register("ivf_topk", S.ivf_topk_sql(10, 50, 20, 3))
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10: deterministic coarse centroids (vec_id%20==0),
    nearest-centroid inverted lists, nprobe=3 probing — each query
    scans ~nprobe/C of the corpus instead of all of it. Exact ordered
    folds keep it oracle-reproducible."""
    return S.ivf_topk(_embs(spark, sf_dir), 10, 50, 20, 3)


@register("ivf_kmeans_topk", S.ivf_kmeans_topk_sql(10, 50, 20, 3, 2, 3))
def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 over TRAINED coarse centroids (VERDICT r02 item
    8): modulo seeds + 2 deterministic Lloyd iterations with exact
    µ-quantized integer-sum updates — TRAINED on the deterministic
    vec_id%3 sample (VERDICT r03 item 4: at 100 TB Lloyd must not scan
    the full corpus per iteration), full corpus assigned afterwards —
    then inverted-list probing (nprobe=3). Value-exact vs the unrolled
    k-means SQL oracle (same sample predicate); recall vs brute force
    on a clustered fixture measured in `bench.py --ivfrecall`."""
    return S.ivf_kmeans_topk(_embs(spark, sf_dir), 10, 50, 20, 3, 2, 3)


@register(
    "embed_quantize",
    """
WITH q AS (
  SELECT vec_id,
         CASE WHEN list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) > 0
              THEN list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) / 127.0
              ELSE 1.0 END AS scale,
         embedding
  FROM embeddings
),
qq AS (
  SELECT vec_id, scale,
         CAST(len(embedding) AS INTEGER) AS n_dims,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) AS qv,
         embedding
  FROM q
)
SELECT vec_id, scale, n_dims,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(qv, v -> v * v)),
         (a, b) -> a + b) AS q_l2,
       round(list_reduce(
         list_prepend(0.0,
           list_transform(range(1, n_dims + 1),
             i -> (CAST(embedding[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE) * scale)
                  * (CAST(embedding[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE) * scale))),
         (a, b) -> a + b), 9) AS sse
FROM qq
""",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the vector-store
    compression step of an embedding pipeline: scale = max|x|/127,
    q_i = round(x_i/scale); emits the integer ||q||² (exact) and the
    float reconstruction SSE (ordered left fold, round-9). Pure
    higher-order functions, one scan, no shuffle; the int8 payload
    itself would be `transform(...).cast('array<tinyint>')` on write."""
    c = F.col("embedding")
    absmax = F.array_max(F.transform(c, lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    emb = _embs(spark, sf_dir).select(
        "vec_id", scale.alias("scale"), "embedding",
        F.size(c).alias("n_dims"),
    )
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") / F.col("scale")).cast("long"),
    )
    with_q = emb.select("vec_id", "scale", "n_dims", "embedding",
                        qv.alias("qv"))
    err = F.zip_with(
        F.col("embedding"), F.col("qv"),
        lambda x, q: (x.cast("double") - q.cast("double") * F.col("scale"))
        * (x.cast("double") - q.cast("double") * F.col("scale")),
    )
    return with_q.select(
        "vec_id", "scale", "n_dims",
        F.aggregate(
            F.transform(F.col("qv"), lambda v: v * v),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ).alias("q_l2"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda a, b: a + b), 9
        ).alias("sse"),
    )


@register("ann_lsh_topk", S.ann_lsh_topk_sql(10, 50))
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-10 — candidates from signature-band
    equi-joins (the 100 TB path); deterministic planes keep it
    oracle-reproducible."""
    return S.ann_lsh_topk(_embs(spark, sf_dir), 10, 50)


# ----------------------------------------------------------------------
# html→text extraction (input_hint per-row invariant: byte-identical
# extracted text per url/doc)
# ----------------------------------------------------------------------

from .functions.html import extract_text_col, extract_text_sql  # noqa: E402

_HTML_WRAP_SQL = (
    "'<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || "
    "'</h1><p>' || text || '</p>&amp;copy;</body></html>'"
)


@register(
    "html_extract",
    f"SELECT doc_id, {extract_text_sql(_HTML_WRAP_SQL)} AS extracted FROM documents",
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical html→text: wrap each document in deterministic
    html (binary), extract with the Arrow pandas UDF, compare against
    an independent RE2 implementation in the oracle."""
    docs = _docs(spark, sf_dir)
    html = F.encode(
        F.concat(
            F.lit("<html><body><h1>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p>&amp;copy;</body></html>"),
        ),
        "UTF-8",
    )
    return docs.select("doc_id", extract_text_col(html).alias("extracted"))


# ----------------------------------------------------------------------
# Clip predicate family (reference clip_utils.py:22-116) — box variant
# ----------------------------------------------------------------------

from .functions.clip import box_clip  # noqa: E402


@register(
    "clip_box",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT page_id FROM pts
WHERE x >= 119300.0 AND x <= 119350.0
  AND y >= 485100.0 AND y <= 485150.0
  AND z >= 2.0 AND z <= 8.0
""",
)
def q_clip_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """box_clip selection predicate (reference clip_utils.py:43-65):
    the center demo tile between z 2..8 — pure Catalyst filter, pushed
    to the scan."""
    pages = pages_from_orders(spark, sf_dir)
    return pages.filter(
        box_clip(
            F.col("x"), F.col("y"), F.col("z"),
            119300.0, 485100.0, 119350.0, 485150.0, 2.0, 8.0,
        )
    ).select("page_id")


@register(
    "clip_cylinder",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT page_id FROM pts
WHERE (x - 119325.0) * (x - 119325.0) + (y - 485125.0) * (y - 485125.0)
      <= 400.0
  AND z >= 1.0 AND z <= 9.0
""",
)
def q_clip_cylinder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cylinder_clip predicate (reference clip_utils.py:92-116):
    r=20 m cylinder about the demo-tile center between z 1..9."""
    from .functions.clip import cylinder_clip

    pages = pages_from_orders(spark, sf_dir)
    return pages.filter(
        cylinder_clip(
            F.col("x"), F.col("y"), F.col("z"),
            119325.0, 485125.0, 20.0, 1.0, 9.0,
        )
    ).select("page_id")


@register(
    "noise_filter",
    f"""
WITH RECURSIVE {_CC_BASE},
assign AS (
  SELECT g.page_id, c.component
  FROM ground g JOIN comp c ON g.cx * 2147483648 + g.cy = c.cell
),
sizes AS (SELECT component, COUNT(*) AS n FROM assign GROUP BY component),
small AS (
  SELECT a.page_id FROM assign a JOIN sizes s ON s.component = a.component
  WHERE s.n < 5
)
SELECT p.page_id,
       (sm.page_id IS NOT NULL OR p.z - {_GZ} < -0.2) AS is_noise
FROM pts p LEFT JOIN small sm ON sm.page_id = p.page_id
WHERE (sm.page_id IS NOT NULL OR p.z - {_GZ} < -0.2)
""",
)
def q_noise_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete NoiseFilter (reference noise_filter.py:15-84): a point
    is noise if its ground-band component is too small (< 5 points,
    component == −1 after the size filter, :66-67) OR it lies below the
    interpolated ground (z − ground_z < −ε, :72-74)."""
    return FP.noise_pages(_pages_gz(spark, sf_dir)).select(
        "page_id", F.lit(True).alias("is_noise")
    )


# ----------------------------------------------------------------------
# Component size filter + seed-threshold region fill (reference
# label_connected_comp.py:92-135) and kNN-max surface
# ----------------------------------------------------------------------

from .operators.components import seed_fill, size_filter  # noqa: E402
from .operators.neighbors import knn_max  # noqa: E402


@register(
    "component_size_filter",
    f"""
WITH RECURSIVE {_CC_BASE},
assign AS (
  SELECT g.page_id, c.component
  FROM ground g JOIN comp c ON g.cx * 2147483648 + g.cy = c.cell
),
sizes AS (SELECT component, COUNT(*) AS n FROM assign GROUP BY component)
SELECT a.page_id,
       CASE WHEN s.n < 5 THEN -1 ELSE a.component END AS component
FROM assign a JOIN sizes s ON s.component = a.component
""",
)
def q_component_size_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small components (<5 points) become noise id −1 (reference
    label_connected_comp.py:92-97)."""
    df = q_connected_components(spark, sf_dir)
    return size_filter(df, min_component_size=5).select("page_id", "component")


_REGION_FILL_ORACLE = f"""
WITH RECURSIVE {_CC_BASE},
road_pip AS (
  SELECT p.page_id,
         SUM(CASE WHEN ((e.y1 > p.y) != (e.y2 > p.y))
                   AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END) AS crossings
  FROM pts p
  JOIN {polygon_edges_values_sql()}
    ON p.x >= e.px_min AND p.x <= e.px_max
   AND p.y >= e.py_min AND p.y <= e.py_max
  WHERE {_ROAD_FILTER}
  GROUP BY p.page_id, e.polygon_id
),
road AS (SELECT DISTINCT page_id FROM road_pip WHERE crossings % 2 = 1),
assign AS (
  SELECT g.page_id, c.component,
         (r.page_id IS NOT NULL) AS is_road
  FROM ground g
  JOIN comp c ON g.cx * 2147483648 + g.cy = c.cell
  LEFT JOIN road r ON r.page_id = g.page_id
),
frac AS (
  SELECT component,
         CAST(SUM(CASE WHEN is_road THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS f
  FROM assign GROUP BY component
)
SELECT a.page_id, a.component,
       CASE WHEN a.is_road THEN 1 WHEN f.f > 0.3 THEN 1 ELSE 0 END AS label
FROM assign a JOIN frac f ON f.component = a.component
"""


@register("region_fill", _REGION_FILL_ORACLE)
def q_region_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-threshold region fill (reference label_connected_comp.py:
    111-123): ground-band components where >30% of points are road-PIP
    seeds get the road label grown to every point."""
    from .operators.components import grid_components

    pages = pages_from_orders(spark, sf_dir)
    enriched = R.with_raster(pages, R.raster_df(spark))
    ground = enriched.filter(F.abs(F.col("z") - F.col("ground_z")) < 0.2)
    road_edges = polygon_edges_df(spark).filter(F.col("bgt_type").isin(*ROAD_TYPES))
    road_ids = pip_hits(ground, road_edges).select("page_id").distinct()
    seeded = ground.join(
        road_ids.withColumn("_is_road", F.lit(True)), "page_id", "left"
    ).withColumn(
        "label", F.when(F.col("_is_road"), F.lit(1)).otherwise(F.lit(0))
    )
    comps = grid_components(
        seeded.select("page_id", "x", "y"), grid_size=1.0
    ).select("page_id", "component")
    with_comp = seeded.select("page_id", "label").join(comps, "page_id")
    filled = seed_fill(with_comp, seed_label=1, threshold=0.3)
    return filled.select("page_id", "component", "label")


@register(
    "knn_max",
    f"""
WITH pts AS ({PAGES_CTE}),
cand AS (
  SELECT p.page_id, o.obj_id, CAST(o.z AS DOUBLE) AS z,
         (p.x - o.x) * (p.x - o.x) + (p.y - o.y) * (p.y - o.y) AS dist_sq
  FROM pts p JOIN {point_layer_values_sql()}
    ON (p.x - o.x) * (p.x - o.x) + (p.y - o.y) * (p.y - o.y) <= 1600.0
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY page_id ORDER BY dist_sq, obj_id) AS rn
    FROM cand
  ) WHERE rn <= 4
)
SELECT page_id, MAX(z) AS max_val, COUNT(*) AS n_neighbors
FROM topk GROUP BY page_id
""",
)
def q_knn_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN 'max' variant (reference interpolation.py:302-303) — builds
    the building-surface raster."""
    pages = pages_from_orders(spark, sf_dir)
    return knn_max(
        pages, point_layer_df(spark), k=4, max_dist=40.0
    ).select("page_id", "max_val", "n_neighbors")


# ----------------------------------------------------------------------
# kNN label fusion (north_star: cell-bucketed shuffle join, no
# broadcast of the data-sized labeled side)
# ----------------------------------------------------------------------


@register(
    "knn_label_fusion",
    f"""
WITH labelled AS ({_PIPELINE_ORACLE}),
pts AS ({PAGES_CTE}),
pos AS (
  SELECT l.page_id, p.x, p.y, l.label
  FROM labelled l JOIN pts p ON p.page_id = l.page_id
),
cand AS (
  SELECT a.page_id, b.page_id AS nb_id, b.label,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
  FROM pos a JOIN pos b
    ON b.label != 0
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 4.0
  WHERE a.label = 0
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY page_id ORDER BY dist_sq, nb_id) AS rn
    FROM cand
  ) WHERE rn <= 5
),
votes AS (
  SELECT page_id, label, COUNT(*) AS n_votes FROM topk GROUP BY page_id, label
)
SELECT page_id, label AS fused_label, n_votes FROM (
  SELECT *, row_number() OVER (
    PARTITION BY page_id ORDER BY n_votes DESC, label) AS r
  FROM votes
) WHERE r = 1
""",
)
def q_knn_label_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propagate pipeline labels to still-unlabelled pages by majority
    vote of the 5 nearest labelled pages within 2 m — shuffle
    cell-join (the labeled side scales with the data; the radius is
    sized to the fixture's ~7 pages/m² density so per-probe candidate
    sets stay bounded)."""
    from .operators.neighbors import knn_label_fusion

    # the labelled table feeds BOTH the probe and the build side —
    # materialize the pipeline (PIP UDF pass included) once
    labelled = _pipeline_df(spark, sf_dir).select(
        "page_id", "x", "y", "label"
    ).localCheckpoint(eager=True)
    probe = labelled.filter(F.col("label") == 0)
    build = labelled.filter(F.col("label") != 0).withColumnRenamed(
        "page_id", "nb_id"
    )
    return knn_label_fusion(probe, build, k=5, max_dist=2.0)


# ----------------------------------------------------------------------
# Sessionization over events (gap-based sessions — window lag +
# cumulative sum)
# ----------------------------------------------------------------------


@register(
    "sessionize",
    """
WITH ev AS (
  SELECT event_id, user_id, CAST(epoch(ts) AS BIGINT) AS t
  FROM events
),
flagged AS (
  SELECT event_id, user_id, t,
         CASE WHEN t - lag(t) OVER w > 1800 OR lag(t) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
)
SELECT event_id, user_id,
       CAST(SUM(is_new) OVER (
         PARTITION BY user_id ORDER BY t, event_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
FROM flagged
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session):
    lag → new-session flag → running sum per user."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.col("t") - F.lag("t").over(w) > 1800, F.lit(1)
        ).otherwise(
            F.when(F.lag("t").over(w).isNull(), F.lit(1)).otherwise(F.lit(0))
        ),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.select(
        "event_id", "user_id",
        F.sum("is_new").over(wsum).alias("session_idx"),
    )


@register(
    "event_asof",
    """
WITH ev AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS t_us
  FROM events
),
c AS (
  SELECT event_id, user_id, event_type, t_us,
         last_value(CASE WHEN event_type = 'click' THEN event_id END
                    IGNORE NULLS) OVER w AS click_event_id,
         last_value(CASE WHEN event_type = 'click' THEN t_us END
                    IGNORE NULLS) OVER w AS click_t_us,
         last_value(CASE WHEN event_type = 'click' THEN value END
                    IGNORE NULLS) OVER w AS click_value
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, click_event_id, click_value,
       t_us - click_t_us AS gap_us
FROM c WHERE event_type = 'error'
""",
)
def q_event_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each `error` event matched to the same user's most
    recent preceding `click` (stream order = (microsecond ts,
    event_id) — microseconds so sub-second orderings agree across
    engines, event_id so exact ties are deterministic). Expressed as
    one per-user carry-forward window over a SINGLE scan of events —
    no self-join, no range explosion; the same shape `sessionize`
    uses, partition size bounded by the hottest user's history (for a
    pathological single-user firehose, the two-pass time-bucketed
    carry — operators/packing.py's prefix pattern with per-(user,
    bucket) local carries — drops in without changing results).
    `click_value` is carried verbatim (no float arithmetic), `gap_us`
    is exact integer microseconds."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value",
        # parquet ts is TIMESTAMP_NTZ; the cast interprets it in the
        # session timezone (UTC here) — the same convention
        # sessionize's unix_timestamp path relies on
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    c = ev.select(
        "event_id", "user_id", "event_type", "t_us",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w).alias("click_event_id"),
        F.last(F.when(is_click, F.col("t_us")), ignorenulls=True)
        .over(w).alias("click_t_us"),
        F.last(F.when(is_click, F.col("value")), ignorenulls=True)
        .over(w).alias("click_value"),
    )
    return c.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "click_event_id", "click_value",
        (F.col("t_us") - F.col("click_t_us")).alias("gap_us"),
    )


@register(
    "event_props_agg",
    """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS k_sum,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type
""",
)
def q_event_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured scan: extract the integer `$.k` field out of the
    JSON `props` column and aggregate it per event type — the metadata
    parse every webtext pipeline runs over its crawl sidecars.
    `get_json_object` is a JVM expression (Jackson inside codegen; no
    Python, no Arrow), so the parse rides the same scan as the
    aggregate: one pass, map-side combined, all-integer measures. At
    100 TB the JSON column dominates the scan bytes; the plan reads
    only (event_type, props) — column pruning is what matters, and a
    stored `k` (schema'd at ingest) would drop the parse entirely."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@register(
    "event_rollup",
    """
SELECT event_type,
       epoch_us(ts) // 86400000000 AS day_bkt,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING(epoch_us(ts) // 86400000000) AS BIGINT) AS g_day,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS BIGINT)
         AS v_sum_e6
FROM events
GROUP BY ROLLUP (event_type, epoch_us(ts) // 86400000000)
""",
)
def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP report: (event_type, UTC-day) leaf cells
    plus per-type subtotals plus the grand total in ONE aggregate —
    the grouping-sets operator class. Spark expands the rollup into a
    single Expand + hash-aggregate (one scan, map-side partials for
    every grouping set simultaneously); explicit GROUPING flags
    disambiguate subtotal rows from genuine NULL keys. The day bucket
    is integer microseconds DIV 86.4e9 — no calendar/timezone
    function, so both engines bucket identically — and the double
    `value` is floored to integer micro-units before SUM so every
    total is order-free (bigint) rather than a float reduction whose
    value depends on partitioning."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(CAST(ts AS timestamp)) DIV 86400000000")
        .alias("day_bkt"),
        F.floor(F.col("value") * F.lit(1000000.0))
        .cast("long")
        .alias("v_e6"),
    )
    return (
        ev.rollup("event_type", "day_bkt")
        .agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("day_bkt").cast("long").alias("g_day"),
            F.count("*").alias("n"),
            F.sum("v_e6").alias("v_sum_e6"),
        )
        .select(
            "event_type", "day_bkt", "g_type", "g_day", "n", "v_sum_e6"
        )
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "event_pivot",
    f"""
SELECT user_id,
       {", ".join(
           f"CAST(COALESCE(SUM(CASE WHEN event_type = '{t}' THEN 1 END), 0)"
           f" AS BIGINT) AS n_{t}" for t in _PIVOT_TYPES)},
       CAST(COALESCE(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)), 0)
         AS BIGINT) AS v_sum_e6
FROM events
WHERE event_type IN ({", ".join(f"'{t}'" for t in _PIVOT_TYPES)})
GROUP BY user_id
""",
)
def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user wide activity profile — one column per event
    type — via Spark's relational pivot operator. The pivot VALUES are
    passed explicitly ({_PIVOT_TYPES!r}), which matters twice at
    scale: it skips the extra distinct-values job Spark otherwise
    runs, and it fixes the output schema. The input is FILTERED to the
    profiled type universe (mirrored in the oracle's WHERE), so every
    measure — including the total — is defined over exactly the
    pivoted types; without the filter, Spark's pivot would silently
    drop out-of-universe rows that a plain conditional aggregation
    keeps, a cross-engine divergence on open-world data. Per-type and
    total sums coalesce to 0 (a user whose every profiled event has a
    NULL value totals 0, not NULL, in both engines). The plan is a
    two-level hash aggregate keyed on user_id — map-side combined, no
    Expand. The oracle is the equivalent conditional aggregation
    (pivot is syntactic sugar over it)."""
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("event_type").isin(_PIVOT_TYPES))
        .select(
            "user_id",
            "event_type",
            F.floor(F.col("value") * F.lit(1000000.0))
            .cast("long")
            .alias("v_e6"),
        )
    )
    counted = (
        ev.groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(
            # count(*) is invalid inside Pivot — count a literal
            F.count(F.lit(1)).alias("n"),
            F.sum("v_e6").alias("s"),
        )
    )
    v_sum = reduce(
        lambda a, b: a + b,
        [F.coalesce(F.col(f"{t}_s"), F.lit(0)) for t in _PIVOT_TYPES],
    )
    return counted.select(
        "user_id",
        *[
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}")
            for t in _PIVOT_TYPES
        ],
        v_sum.alias("v_sum_e6"),
    )


from .operators.sketch import hll_distinct, hll_distinct_sql  # noqa: E402

_WEEK_US = 604_800_000_000  # 7 × 86 400 × 10^6


@register(
    "cohort_retention",
    f"""
WITH su AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
act AS (
  SELECT e.user_id,
         su.s_us // {_WEEK_US} AS cohort_week,
         (epoch_us(e.ts) // {_WEEK_US}) - (su.s_us // {_WEEK_US})
           AS week_offset
  FROM events e JOIN su ON su.user_id = e.user_id
)
SELECT cohort_week, week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM act WHERE week_offset >= 0
GROUP BY cohort_week, week_offset
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by signup week (their first
    `signup` event), counted DISTINCT per (cohort_week, week_offset)
    over all their subsequent activity — the canonical product-
    analytics rollup, and the registry's exact distinct-aggregate
    class. Spark plans the single count(DISTINCT) as a de-dup regroup
    (partial aggregate keyed (cohort, offset, user) → count) — no
    Expand needed below two distinct aggs — so the distinct de-dup,
    not the low-cardinality final group, carries the shuffle.
    All-integer epoch-µs week arithmetic, so both engines
    bucket identically with no calendar/timezone semantics. The
    signup dim and the activity scan co-partition on user_id (one
    shuffle each side of the equi-join); negative offsets (same-week
    activity before the signup row resolves to week 0; earlier weeks
    are pre-signup) are excluded identically in both engines."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS timestamp))").alias("t_us"),
    )
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t_us").alias("s_us"))
    )
    act = ev.join(su, "user_id").select(
        "user_id",
        F.expr(f"s_us DIV {_WEEK_US}").alias("cohort_week"),
        (
            F.expr(f"t_us DIV {_WEEK_US}") - F.expr(f"s_us DIV {_WEEK_US}")
        ).alias("week_offset"),
    )
    return (
        act.filter(F.col("week_offset") >= 0)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "funnel_steps",
    """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t, event_id AS eid
  FROM events
),
v AS (
  SELECT user_id, t, eid FROM (
    SELECT user_id, t, eid,
           row_number() OVER (PARTITION BY user_id ORDER BY t, eid) AS rn
    FROM ev WHERE event_type = 'view') q
  WHERE rn = 1
),
c AS (
  SELECT user_id, t, eid FROM (
    SELECT e.user_id, e.t, e.eid,
           row_number() OVER (PARTITION BY e.user_id
                              ORDER BY e.t, e.eid) AS rn
    FROM ev e JOIN v USING (user_id)
    WHERE e.event_type = 'click'
      AND (e.t > v.t OR (e.t = v.t AND e.eid > v.eid))) q
  WHERE rn = 1
),
p AS (
  SELECT user_id FROM (
    SELECT e.user_id,
           row_number() OVER (PARTITION BY e.user_id
                              ORDER BY e.t, e.eid) AS rn
    FROM ev e JOIN c USING (user_id)
    WHERE e.event_type = 'purchase'
      AND (e.t > c.t OR (e.t = c.t AND e.eid > c.eid))) q
  WHERE rn = 1
)
SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
       (SELECT COUNT(*) FROM v) AS n_users
UNION ALL
SELECT CAST(2 AS BIGINT), 'click', (SELECT COUNT(*) FROM c)
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase', (SELECT COUNT(*) FROM p)
""",
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase (first-touch
    semantics: a user's FIRST view anchors the funnel, then their
    first click strictly after it, then their first purchase strictly
    after that click — the standard product-analytics funnel; NOT the
    max-matching any-subsequence variant). Stream order is (epoch µs,
    event_id) so exact-timestamp ties resolve identically in both
    engines.

    Spark shape: ONE groupBy(user_id) collects each user's per-step
    timestamps as sorted struct arrays, then JVM higher-order
    `filter`/`get` walk the three steps per user — a single shuffle
    keyed user_id, per-user state bounded by that user's event count
    (the same hottest-user bound sessionize carries), and the final
    rollup is a 3-long-column partial aggregate down to one row. No
    self-joins, no per-row Python, no giant-partition windows — at
    10^12 events this is a hash aggregate plus a map-side total.

    Assumes `ts IS NOT NULL` (the events fixture guarantees it —
    TESTDATA.md): a NULL ts would sort first in Spark's struct
    comparison but last under the oracle's ORDER BY default, so the
    first-view pick could diverge (round-5 ADVICE; documented rather
    than filtered because oracle SQL is frozen this round)."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS timestamp))").alias("t_us"),
        "event_id",
    )

    def _step_arr(etype: str):
        # collect_list drops the NULLs the when() emits for other
        # event types; sort_array orders structs lexicographically,
        # i.e. by (t, eid) — exactly the oracle's window order
        return F.sort_array(
            F.collect_list(
                F.when(
                    F.col("event_type") == etype,
                    F.struct(
                        F.col("t_us").alias("t"),
                        F.col("event_id").alias("eid"),
                    ),
                )
            )
        )

    per_user = ev.groupBy("user_id").agg(
        _step_arr("view").alias("views"),
        _step_arr("click").alias("clicks"),
        _step_arr("purchase").alias("purchases"),
    )

    def _first_after(arr, ref):
        # first element strictly after ref in (t, eid) order; a NULL
        # ref nulls the predicate, filter drops the row → empty array
        # → F.get(..., 0) yields NULL (never raises, unlike ANSI
        # element_at) — exactly the "previous step missing" semantics
        return F.get(
            F.filter(
                arr,
                lambda s: (s["t"] > ref["t"])
                | ((s["t"] == ref["t"]) & (s["eid"] > ref["eid"])),
            ),
            0,
        )

    t1 = F.get("views", 0)
    steps = per_user.select(
        t1.isNotNull().cast("long").alias("s1"),
        _first_after(F.col("clicks"), t1).alias("c1"),
        F.col("purchases"),
    ).select(
        "s1",
        F.col("c1").isNotNull().cast("long").alias("s2"),
        _first_after(F.col("purchases"), F.col("c1"))
        .isNotNull()
        .cast("long")
        .alias("s3"),
    )
    # coalesce: sum over an EMPTY per-user table is NULL in Spark but
    # the oracle's COUNT(*) is 0 — align the degenerate empty corpus
    tot = steps.agg(
        F.coalesce(F.sum("s1"), F.lit(0).cast("long")).alias("n1"),
        F.coalesce(F.sum("s2"), F.lit(0).cast("long")).alias("n2"),
        F.coalesce(F.sum("s3"), F.lit(0).cast("long")).alias("n3"),
    )
    return tot.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("step_idx"),
                    F.lit("view").alias("step"),
                    F.col("n1").alias("n_users"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("step_idx"),
                    F.lit("click").alias("step"),
                    F.col("n2").alias("n_users"),
                ),
                F.struct(
                    F.lit(3).cast("long").alias("step_idx"),
                    F.lit("purchase").alias("step"),
                    F.col("n3").alias("n_users"),
                ),
            )
        ).alias("s")
    ).select("s.*")


@register(
    "hll_distinct",
    hll_distinct_sql("events", "CAST(user_id AS VARCHAR)"),
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch (m=64, deterministic sha-256
    hash, bit-exact in BOTH engines — see operators/sketch.py). The
    register table is 64 integers whatever the input size; the partial
    aggregate is map-side max(rho), and two sketches merge by
    element-wise max (pinned exactly by tests/test_sketch.py). Emits
    (m, v_zero, s55, est_e3): the integer harmonic sum keeps the
    distributed reduction order-free; only the single final estimate
    expression touches doubles."""
    ev = _events(spark, sf_dir)
    return hll_distinct(ev, "CAST(user_id AS STRING)")


def _stream_scratch(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Fresh scratch dir for a streaming query's input copy +
    checkpoint + sink, cleared at the start of every invocation so
    repeated driver/bench runs don't accumulate state (ADVICE r02).
    Keyed on the Spark app id so concurrent sessions never share a
    checkpoint dir; the sf_dir digest is a STABLE hashlib hash (a
    salted built-in hash() would make every process's path unique and
    the cleanup a no-op). Stale siblings from DEAD runs are swept:
    each dir carries an `owner.pid` marker written at creation, and a
    sweep only removes a dir whose owner process no longer exists
    (mtime alone is unsafe — nested checkpoint writes don't refresh
    the top dir's mtime, so a long-lived concurrent run could look
    stale; ADVICE r03). The marker records pid AND the process start
    time (so PID reuse can't make a dead owner's dir immortal) and is
    written atomically via os.replace (a crash between makedirs and
    marker write can't leave a markerless dir that survives 24 h;
    ADVICE r04). Markerless dirs (pre-marker leftovers) fall back to
    a 24 h age threshold, far beyond any session length here."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile
    import time as _time

    def _starttime(pid: int):
        """Linux process start time (clock ticks since boot) from
        /proc/<pid>/stat field 22; None where /proc is unavailable.
        comm (field 2) may contain spaces — parse after the last ')'."""
        try:
            with open(f"/proc/{pid}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            return int(rest[19])  # field 22, 0-indexed 19 after comm
        except (OSError, IndexError, ValueError):
            return None

    base = f"{tempfile.gettempdir()}/{prefix}"
    for old in glob.glob(base + "*"):
        try:
            marker = os.path.join(old, "owner.pid")
            if os.path.exists(marker):
                try:
                    with open(marker) as fh:
                        # empty/corrupt marker must raise ValueError →
                        # swept (pid 0 would signal our own process
                        # group and read as alive forever)
                        toks = fh.read().split()
                    pid = int(toks[0])
                    if pid <= 0:
                        raise ValueError(str(pid))
                    os.kill(pid, 0)  # signal 0: existence probe only
                    if len(toks) > 1:
                        live = _starttime(pid)
                        if live is not None and live != int(toks[1]):
                            raise ProcessLookupError  # PID reused
                    continue  # owner alive — never touch
                except (ProcessLookupError, ValueError, OverflowError,
                        IndexError):
                    pass  # owner dead / PID reused / corrupt → sweep
                except PermissionError:
                    continue  # alive under another uid — leave it
            elif _time.time() - os.path.getmtime(old) <= 86400:
                continue
            shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass
    digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    tmp = f"{base}{spark.sparkContext.applicationId}_{digest}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    me = os.getpid()
    stt = _starttime(me)
    payload = f"{me} {stt}" if stt is not None else str(me)
    mtmp = os.path.join(tmp, ".owner.pid.tmp")
    with open(mtmp, "w") as fh:
        fh.write(payload)
    os.replace(mtmp, os.path.join(tmp, "owner.pid"))
    return tmp



@register(
    "sessionize_stream",
    """
WITH ev AS (
  SELECT event_id, user_id, CAST(epoch(ts) AS BIGINT) AS t
  FROM events
),
flagged AS (
  SELECT event_id, user_id, t,
         CASE WHEN t - lag(t) OVER w > 1800 OR lag(t) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
)
SELECT event_id, user_id,
       CAST(SUM(is_new) OVER (
         PARTITION BY user_id ORDER BY t, event_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
FROM flagged
""",
)
def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization (applyInPandasWithState, bounded
    per-user state) drained with Trigger.AvailableNow over the events
    table — must reproduce the batch window's session indices exactly
    (same oracle as `sessionize`). Holds whenever the feed delivers a
    user's events in time order across micro-batches, which the
    single-file fixture drain does."""
    from .streaming.sessionize import run_sessionize_available_now

    tmp = _stream_scratch(spark, sf_dir, "upcp_sess_q_")
    events = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts"
    )
    inp = f"{tmp}/in"
    events.coalesce(1).write.mode("overwrite").parquet(inp)
    return run_sessionize_available_now(
        spark, inp, f"{tmp}/ckpt", f"{tmp}/out"
    )


@register("exact_dedup_stream_merged", D.EXACT_DEDUP_SQL)
def q_exact_dedup_stream_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup, MERGED variant: the drain is forced to
    multiple micro-batches (two input files + maxFilesPerTrigger=1),
    yet the result still equals the batch operator bit-exactly — each
    micro-batch lands a JVM-side partial aggregate idempotently
    (overwrite per batch id) and the view merges min-of-mins /
    sum-of-counts. This is the batch-parity answer to the first-seen
    gate's single-batch caveat (streaming/dedup.py module docstring)."""
    from .streaming.dedup import run_dedup_merged_available_now

    tmp = _stream_scratch(spark, sf_dir, "upcp_dedupm_q_")
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    inp = f"{tmp}/in"
    docs.repartition(2, F.col("doc_id")).write.mode("overwrite").parquet(inp)
    return run_dedup_merged_available_now(
        spark, inp, f"{tmp}/ckpt", f"{tmp}/out", max_files_per_trigger=1
    )


@register("exact_dedup_stream", D.EXACT_DEDUP_SQL)
def q_exact_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup (applyInPandasWithState keyed by the
    256-bit content hash; seen-hash state persists in the checkpoint so
    later micro-batches suppress previously-seen content) drained with
    Trigger.AvailableNow over the documents table — the input is
    written as ONE file so the drain is one micro-batch, under which
    the output equals the batch operator exactly (same oracle as
    `exact_dedup`; see streaming/dedup.py for the multi-batch
    first-seen contract). Cross-batch suppression pinned by
    tests/test_streaming.py."""
    from .streaming.dedup import run_dedup_available_now

    tmp = _stream_scratch(spark, sf_dir, "upcp_dedup_q_")
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    inp = f"{tmp}/in"
    docs.coalesce(1).write.mode("overwrite").parquet(inp)
    return run_dedup_available_now(
        spark, inp, f"{tmp}/ckpt", f"{tmp}/out"
    )


# ----------------------------------------------------------------------
# Cable growing (reference _grow_cables, cable_fuser.py:173-197):
# attach points to the nearest cable-candidate cell within radius
# ----------------------------------------------------------------------

from .operators.pca import pca_cell_features, pca_cell_features_sql  # noqa: E402


@register(
    "cable_grow",
    f"""
WITH feats AS ({pca_cell_features_sql(PAGES_CTE, 5.0, 3).strip()}),
cables AS (
  SELECT cell_x, cell_y, cell_x * 100000 + cell_y AS cable_id,
         cell_x * 5.0 + 2.5 AS cx, cell_y * 5.0 + 2.5 AS cy
  FROM feats WHERE linearity > 0.95 AND n_points >= 5
),
pts AS ({PAGES_CTE}),
outside AS (
  SELECT p.* FROM pts p
  LEFT JOIN cables c
    ON CAST(floor(p.x / 5.0) AS BIGINT) = c.cell_x
   AND CAST(floor(p.y / 5.0) AS BIGINT) = c.cell_y
  WHERE c.cable_id IS NULL
),
cand AS (
  SELECT o.page_id, c.cable_id,
         (o.x - c.cx) * (o.x - c.cx) + (o.y - c.cy) * (o.y - c.cy) AS dist_sq
  FROM outside o JOIN cables c
    ON (o.x - c.cx) * (o.x - c.cx) + (o.y - c.cy) * (o.y - c.cy) <= 100.0
)
SELECT page_id, cable_id, dist_sq FROM (
  SELECT *, row_number() OVER (PARTITION BY page_id ORDER BY dist_sq, cable_id) AS rn
  FROM cand
) WHERE rn = 1
""",
)
def q_cable_grow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One frontier-expansion step: points outside candidate cells
    attach to the nearest cable-candidate center within 10 m
    (deterministic tie-break)."""
    from .operators.neighbors import nearest_match

    pages = pages_from_orders(spark, sf_dir)
    feats = pca_cell_features(pages, 5.0, 3)
    cables = feats.filter(
        (F.col("linearity") > 0.95) & (F.col("n_points") >= 5)
    ).select(
        "cell_x", "cell_y",
        (F.col("cell_x") * F.lit(100000) + F.col("cell_y")).alias("cable_id"),
        (F.col("cell_x") * 5.0 + 2.5).alias("x"),
        (F.col("cell_y") * 5.0 + 2.5).alias("y"),
    )
    keyed = pages.withColumns(
        {
            "cell_x": F.floor(F.col("x") / 5.0).cast("long"),
            "cell_y": F.floor(F.col("y") / 5.0).cast("long"),
        }
    )
    outside = keyed.join(
        cables.select("cell_x", "cell_y"), ["cell_x", "cell_y"], "left_anti"
    )
    matched = nearest_match(
        outside, cables.select("cable_id", "x", "y"),
        max_dist=10.0, build_id="cable_id", build_cols=(),
    )
    return matched.select("page_id", "cable_id", "dist_sq")


_CM_MAX_GAP = 50.0  # fixture-scaled: detected cable cells sit one
# 5 m-cell row apart per ~50 m (sparse pages), vs the reference's
# LiDAR-density max_gap; semantics identical, threshold scaled like
# every other fixture parameter (see full_pipeline.POLE).


def _cable_merge_cc_sql() -> str:
    """Recursive-CTE oracle for the order-independent merge: exact
    integer moments → closed-form principal directions → angle/gap/
    small-sag gates (fixed double formulas mirroring
    operators/cable_merge.merge_cables_cc and its ``_pair_curve_ok``)
    → CC reach."""
    from .operators.cable_merge import (
        MERGE_MAX_ANGLE_DEG,
        MERGE_MAX_RMSE_MM,
        TQ_DIV,
        _cos2,
    )

    cos2 = repr(_cos2(MERGE_MAX_ANGLE_DEG))
    rmse2 = repr(MERGE_MAX_RMSE_MM * MERGE_MAX_RMSE_MM)
    gap_mm2 = int(round(_CM_MAX_GAP * 1000.0)) ** 2
    d = lambda c: f"CAST({c} AS DOUBLE)"  # noqa: E731
    return f"""
WITH RECURSIVE
feats AS MATERIALIZED ({pca_cell_features_sql(PAGES_CTE, 5.0, 3).strip()}),
cm_pts AS MATERIALIZED ({PAGES_CTE}),
cm_members AS MATERIALIZED (
  SELECT c.cell_x * 100000 + c.cell_y AS cluster_id,
         CAST(round(p.x * 1000.0) AS BIGINT) AS x_mm,
         CAST(round(p.y * 1000.0) AS BIGINT) AS y_mm,
         CAST(round(p.z * 1000.0) AS BIGINT) AS z_mm
  FROM cm_pts p
  JOIN (SELECT cell_x, cell_y FROM feats
        WHERE linearity > 0.9 AND n_points >= 4) c
    ON CAST(floor(p.x / 5.0) AS BIGINT) = c.cell_x
   AND CAST(floor(p.y / 5.0) AS BIGINT) = c.cell_y
),
cm_mins AS (
  SELECT cluster_id, MIN(x_mm) AS x0, MIN(y_mm) AS y0
  FROM cm_members GROUP BY cluster_id
),
cm_moms AS (
  SELECT m.cluster_id, COUNT(*) AS n,
         SUM(m.x_mm - i.x0) AS sx, SUM(m.y_mm - i.y0) AS sy,
         SUM((m.x_mm - i.x0) * (m.x_mm - i.x0)) AS sxx,
         SUM((m.y_mm - i.y0) * (m.y_mm - i.y0)) AS syy,
         SUM((m.x_mm - i.x0) * (m.y_mm - i.y0)) AS sxy
  FROM cm_members m JOIN cm_mins i ON i.cluster_id = m.cluster_id
  GROUP BY m.cluster_id
),
cm_cov AS (
  SELECT cluster_id,
         {d('n * sxx - sx * sx')} AS cxx,
         {d('n * syy - sy * sy')} AS cyy,
         {d('n * sxy - sx * sy')} AS cxy
  FROM cm_moms
),
cm_dir AS (
  SELECT cluster_id,
         CASE WHEN cxy = 0.0
              THEN CASE WHEN cxx >= cyy THEN 1.0 ELSE 0.0 END
              ELSE cxy END AS vx,
         CASE WHEN cxy = 0.0
              THEN CASE WHEN cxx >= cyy THEN 0.0 ELSE 1.0 END
              ELSE ((cxx + cyy) + sqrt((cxx - cyy) * (cxx - cyy)
                                       + 4.0 * cxy * cxy)) / 2.0 - cxx
         END AS vy
  FROM cm_cov
),
cm_t AS (
  SELECT m.cluster_id, m.x_mm, m.y_mm,
         dd.vx * (m.x_mm - i.x0) + dd.vy * (m.y_mm - i.y0) AS t
  FROM cm_members m
  JOIN cm_mins i ON i.cluster_id = m.cluster_id
  JOIN cm_dir dd ON dd.cluster_id = m.cluster_id
),
cm_ends AS (
  SELECT cluster_id, x_mm, y_mm FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY t, x_mm, y_mm) AS rn
    FROM cm_t) WHERE rn = 1
  UNION ALL
  SELECT cluster_id, x_mm, y_mm FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY t DESC, x_mm DESC, y_mm DESC) AS rn
    FROM cm_t) WHERE rn = 1
),
cm_pairs AS (
  SELECT a.cluster_id AS ca, b.cluster_id AS cb
  FROM cm_dir a JOIN cm_dir b ON a.cluster_id < b.cluster_id
  WHERE (a.vx * b.vx + a.vy * b.vy) * (a.vx * b.vx + a.vy * b.vy)
        >= {cos2} * ((a.vx * a.vx + a.vy * a.vy)
                     * (b.vx * b.vx + b.vy * b.vy))
),
cm_gapok AS (
  SELECT p.ca, p.cb
  FROM cm_pairs p
  JOIN cm_ends ea ON ea.cluster_id = p.ca
  JOIN cm_ends eb ON eb.cluster_id = p.cb
  GROUP BY p.ca, p.cb
  HAVING MIN((ea.x_mm - eb.x_mm) * (ea.x_mm - eb.x_mm)
           + (ea.y_mm - eb.y_mm) * (ea.y_mm - eb.y_mm))
         <= {gap_mm2}
),
cm_ppts AS MATERIALIZED (
  SELECT g.ca, g.cb, m.x_mm, m.y_mm, m.z_mm
  FROM cm_gapok g
  JOIN cm_members m ON m.cluster_id = g.ca OR m.cluster_id = g.cb
),
cm_diam AS (
  SELECT ca, cb, px, py, qx, qy,
         CASE WHEN (qx - px) < 0 OR ((qx - px) = 0 AND (qy - py) < 0)
              THEN -(qx - px) ELSE (qx - px) END AS dx,
         CASE WHEN (qx - px) < 0 OR ((qx - px) = 0 AND (qy - py) < 0)
              THEN -(qy - py) ELSE (qy - py) END AS dy
  FROM (
    SELECT a.ca, a.cb, a.x_mm AS px, a.y_mm AS py,
           b.x_mm AS qx, b.y_mm AS qy,
           row_number() OVER (
             PARTITION BY a.ca, a.cb
             ORDER BY (b.x_mm - a.x_mm) * (b.x_mm - a.x_mm)
                    + (b.y_mm - a.y_mm) * (b.y_mm - a.y_mm) DESC,
                    a.x_mm, a.y_mm, b.x_mm, b.y_mm) AS rn
    FROM cm_ppts a JOIN cm_ppts b
      ON a.ca = b.ca AND a.cb = b.cb
     AND (a.x_mm, a.y_mm, a.z_mm) < (b.x_mm, b.y_mm, b.z_mm)
  ) WHERE rn = 1
),
cm_tq0 AS (
  SELECT m.ca, m.cb,
         (m.x_mm - dm.px) * dm.dx + (m.y_mm - dm.py) * dm.dy AS t,
         m.z_mm
  FROM cm_ppts m JOIN cm_diam dm ON dm.ca = m.ca AND dm.cb = m.cb
),
cm_tmin AS (SELECT ca, cb, MIN(t) AS tmin FROM cm_tq0 GROUP BY ca, cb),
cm_tq AS (
  SELECT q.ca, q.cb, (q.t - i.tmin) // {TQ_DIV} AS tq, q.z_mm
  FROM cm_tq0 q JOIN cm_tmin i ON i.ca = q.ca AND i.cb = q.cb
),
cm_sums AS (
  SELECT ca, cb, COUNT(*) AS n, MIN(tq) AS tqmin, MAX(tq) AS tqmax,
         SUM(tq) AS s1, SUM(tq * tq) AS s2, SUM(tq * tq * tq) AS s3,
         SUM(tq * tq * tq * tq) AS s4,
         SUM(z_mm) AS sz, SUM(tq * z_mm) AS stz,
         SUM(tq * tq * z_mm) AS st2z, SUM(z_mm * z_mm) AS szz
  FROM cm_tq GROUP BY ca, cb
),
cm_fit AS (
  SELECT ca, cb, n, tqmin, tqmax,
         {d('s0')} AS f0, {d('s1')} AS f1, {d('s2')} AS f2,
         {d('s3')} AS f3, {d('s4')} AS f4,
         {d('sz')} AS fz, {d('stz')} AS ftz, {d('st2z')} AS ft2z,
         {d('szz')} AS fzz
  FROM (SELECT *, n AS s0 FROM cm_sums)
),
cm_curve AS (
  SELECT ca, cb FROM (
    SELECT ca, cb, n, tqmin, tqmax, f0, fz, ftz, ft2z, fzz,
           f4 * (f2 * f0 - f1 * f1) - f3 * (f3 * f0 - f1 * f2)
             + f2 * (f3 * f1 - f2 * f2) AS det,
           f1, f2, f3, f4
    FROM cm_fit
  )
  WHERE n < 3 OR tqmin = tqmax OR det = 0.0
     OR (fzz - (((ft2z * (f2 * f0 - f1 * f1) - f3 * (ftz * f0 - f1 * fz)
                  + f2 * (ftz * f1 - f2 * fz)) / det) * ft2z
                + ((f4 * (ftz * f0 - f1 * fz) - ft2z * (f3 * f0 - f1 * f2)
                    + f2 * (f3 * fz - ftz * f2)) / det) * ftz
                + ((f4 * (f2 * fz - ftz * f1) - f3 * (f3 * fz - ftz * f2)
                    + ft2z * (f3 * f1 - f2 * f2)) / det) * fz))
        <= {rmse2} * f0
),
cm_edges AS (
  SELECT ca AS src, cb AS dst FROM cm_curve
  UNION ALL
  SELECT cb AS src, ca AS dst FROM cm_curve
),
cm_nodes AS (SELECT DISTINCT cluster_id FROM cm_members),
cm_reach(src, node) AS (
  SELECT cluster_id, cluster_id FROM cm_nodes
  UNION
  SELECT r.src, e.dst FROM cm_reach r JOIN cm_edges e ON e.src = r.node
)
SELECT src AS cluster_id, MIN(node) AS merged_id
FROM cm_reach GROUP BY src
"""


@register("cable_merge", _cable_merge_cc_sql())
def q_cable_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cable-cluster merging (reference _cable_merging,
    cable_fuser.py:333-389): high-linearity cells become clusters;
    pairs with aligned principal directions, close endpoints and a
    passing hanging-curve residual merge. The merge is ORDER-
    INDEPENDENT (CC over the pairwise-mergeable graph,
    operators/cable_merge.merge_cables_cc) with a recursive-CTE
    oracle; tests/test_cable_merge.py runs it on constructed cables."""
    from .operators.cable_merge import merge_cables_cc

    members = FP.cable_members(pages_from_orders(spark, sf_dir))
    return merge_cables_cc(members.select("cluster_id", "x", "y", "z"),
                           max_gap=_CM_MAX_GAP)


# ----------------------------------------------------------------------
# Geometric union of buffered layer polygons (reference bgt_utils.py:
# 154-166: unary_union of Polygon.buffer(offset)). Downstream the union
# only ever answers membership queries, and membership in the union of
# buffered polygons is EXACTLY "inside any polygon OR within offset of
# any polygon edge" (Minkowski sum of a polygon with a disc) — both
# rational tests, so no geometry library and a bit-exact oracle.
# ----------------------------------------------------------------------

_PUB_OFFSET = 0.5


@register(
    "pip_union_buffer",
    f"""
WITH pts AS ({PAGES_CTE}),
inside AS (
  SELECT p.page_id,
         COALESCE(BOOL_OR(sub.crossings % 2 = 1), FALSE) AS in_poly
  FROM pts p LEFT JOIN (
    SELECT p2.page_id, e.polygon_id,
           SUM(CASE WHEN ((e.y1 > p2.y) != (e.y2 > p2.y))
                     AND (p2.x < (e.x2 - e.x1) * (p2.y - e.y1)
                          / (e.y2 - e.y1) + e.x1)
                THEN 1 ELSE 0 END) AS crossings
    FROM pts p2
    JOIN {polygon_edges_values_sql()}
      ON p2.x >= e.px_min AND p2.x <= e.px_max
     AND p2.y >= e.py_min AND p2.y <= e.py_max
    WHERE e.bgt_type = 'pand'
    GROUP BY p2.page_id, e.polygon_id
  ) sub ON sub.page_id = p.page_id
  GROUP BY p.page_id
),
near AS (
  SELECT p.page_id, TRUE AS near_edge
  FROM pts p JOIN (
    SELECT x1, y1, x2, y2 FROM {polygon_edges_values_sql()}
    WHERE e.bgt_type = 'pand'
  ) s
    ON p.x >= LEAST(s.x1, s.x2) - {_PUB_OFFSET}
   AND p.x <= GREATEST(s.x1, s.x2) + {_PUB_OFFSET}
   AND p.y >= LEAST(s.y1, s.y2) - {_PUB_OFFSET}
   AND p.y <= GREATEST(s.y1, s.y2) + {_PUB_OFFSET}
  WHERE {segment_d2_sql('p.x', 'p.y')} <= {_PUB_OFFSET ** 2}
  GROUP BY p.page_id
)
SELECT i.page_id,
       (i.in_poly OR COALESCE(n.near_edge, FALSE)) AS in_union
FROM inside i LEFT JOIN near n ON n.page_id = i.page_id
""",
)
def q_pip_union_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership in the buffered union of the building layer
    (reference get_polygons(merge=True, offset>0), bgt_utils.py:
    154-166): inside any 'pand' polygon OR within offset of any of its
    edges. Both tests are exact rational arithmetic on both engines."""
    pages = pages_from_orders(spark, sf_dir).select("page_id", "x", "y")
    edges = polygon_edges_df(spark).filter(F.col("bgt_type") == "pand")
    hits = (
        pip_hits(pages, edges)
        .select("page_id").distinct().withColumn("_in", F.lit(True))
    )
    segs = edges.select("x1", "y1", "x2", "y2")
    box = (
        (F.col("x") >= F.least("x1", "x2") - F.lit(_PUB_OFFSET))
        & (F.col("x") <= F.greatest("x1", "x2") + F.lit(_PUB_OFFSET))
        & (F.col("y") >= F.least("y1", "y2") - F.lit(_PUB_OFFSET))
        & (F.col("y") <= F.greatest("y1", "y2") + F.lit(_PUB_OFFSET))
    )
    near = (
        pages.join(F.broadcast(segs), box)
        .filter(segment_d2(F.col("x"), F.col("y")) <= F.lit(_PUB_OFFSET ** 2))
        .select("page_id").distinct().withColumn("_near", F.lit(True))
    )
    return (
        pages.join(hits, "page_id", "left")
        .join(near, "page_id", "left")
        .select(
            "page_id",
            (
                F.coalesce(F.col("_in"), F.lit(False))
                | F.coalesce(F.col("_near"), F.lit(False))
            ).alias("in_union"),
        )
    )


def _armatuur_sql() -> str:
    """armatuur_search oracle: the whole composite in one statement —
    candidate cells (shared PCA SQL) → neighborhood attach (nearest
    center, cable_grow pattern) → deterministic cable frame (integer
    moments, closed-form 2x2 eigenvector, fixed sign) → µm-quantized
    binned-mean lines + explicit clamp-or-bracket interpolation →
    voxel clip → per-slice set-algebra closing (dilate 2 / erode 2) →
    per-slice region CC (recursive CTE) → bbox gates → cross-slice
    blob CC. Every double op mirrors search_armaturen, so raw doubles
    compare bit-exact."""
    return f"""
WITH RECURSIVE feats AS ({pca_cell_features_sql(PAGES_CTE, 5.0, 3).strip()}),
cables AS MATERIALIZED (
  SELECT cell_x, cell_y, cell_x * 100000 + cell_y AS cluster_id
  FROM feats WHERE linearity > 0.9 AND n_points >= 4
),
pts AS MATERIALIZED ({PAGES_CTE}),
members AS (
  SELECT c.cluster_id, p.x, p.y, p.z, TRUE AS is_cable
  FROM pts p JOIN cables c
    ON CAST(floor(p.x / 5.0) AS BIGINT) = c.cell_x
   AND CAST(floor(p.y / 5.0) AS BIGINT) = c.cell_y
),
outside AS (
  SELECT p.* FROM pts p LEFT JOIN cables c
    ON CAST(floor(p.x / 5.0) AS BIGINT) = c.cell_x
   AND CAST(floor(p.y / 5.0) AS BIGINT) = c.cell_y
  WHERE c.cluster_id IS NULL
),
centers AS (
  SELECT cluster_id, cell_x * 5.0 + 2.5 AS cx, cell_y * 5.0 + 2.5 AS cy
  FROM cables
),
grown AS (
  SELECT page_id, cluster_id FROM (
    SELECT o.page_id, c.cluster_id,
           row_number() OVER (PARTITION BY o.page_id
             ORDER BY (o.x - c.cx) * (o.x - c.cx)
                      + (o.y - c.cy) * (o.y - c.cy),
                      c.cluster_id) AS rn
    FROM outside o JOIN centers c
      ON (o.x - c.cx) * (o.x - c.cx)
         + (o.y - c.cy) * (o.y - c.cy) <= 100.0
  ) WHERE rn = 1
),
arm_pts AS MATERIALIZED (
  SELECT cluster_id, x, y, z, is_cable FROM members
  UNION ALL
  SELECT g.cluster_id, p.x, p.y, p.z, FALSE
  FROM grown g JOIN pts p ON p.page_id = g.page_id
),
hasrest AS MATERIALIZED (SELECT DISTINCT cluster_id FROM arm_pts WHERE NOT is_cable),
cab AS (
  SELECT a.cluster_id, a.x, a.y, a.z,
         CAST(round(a.x * 1000.0) AS BIGINT) AS xm,
         CAST(round(a.y * 1000.0) AS BIGINT) AS ym
  FROM arm_pts a JOIN hasrest h ON h.cluster_id = a.cluster_id
  WHERE a.is_cable
),
cabmin AS (
  SELECT cluster_id, MIN(xm) AS minx, MIN(ym) AS miny, COUNT(*) AS n
  FROM cab GROUP BY cluster_id HAVING COUNT(*) >= 2
),
moms AS (
  SELECT c.cluster_id, m.n, m.minx, m.miny,
         SUM(c.xm - m.minx) AS sx, SUM(c.ym - m.miny) AS sy,
         SUM((c.xm - m.minx) * (c.xm - m.minx)) AS sxx,
         SUM((c.ym - m.miny) * (c.ym - m.miny)) AS syy,
         SUM((c.xm - m.minx) * (c.ym - m.miny)) AS sxy
  FROM cab c JOIN cabmin m ON m.cluster_id = c.cluster_id
  GROUP BY c.cluster_id, m.n, m.minx, m.miny
),
cov AS (
  SELECT cluster_id, n, minx, miny, sx, sy,
    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e6 AS a,
    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e6 AS cc,
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e6 AS b
  FROM moms
),
dir0 AS (
  SELECT cluster_id,
    (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) + CAST(minx AS DOUBLE))
      / 1000.0 AS mx,
    (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) + CAST(miny AS DOUBLE))
      / 1000.0 AS my,
    CASE WHEN b != 0.0 THEN b WHEN a >= cc THEN 1.0 ELSE 0.0 END AS vx,
    CASE WHEN b != 0.0 THEN
      ((a + cc) + sqrt((a - cc) * (a - cc) + 4.0 * b * b)) / 2.0 - a
    WHEN a >= cc THEN 0.0 ELSE 1.0 END AS vy
  FROM cov
),
dirn AS (
  SELECT cluster_id, mx, my,
    CASE WHEN dx0 < 0.0 OR (dx0 = 0.0 AND dy0 < 0.0)
         THEN -dx0 ELSE dx0 END AS ax,
    CASE WHEN dx0 < 0.0 OR (dx0 = 0.0 AND dy0 < 0.0)
         THEN -dy0 ELSE dy0 END AS ay
  FROM (
    SELECT cluster_id, mx, my,
           vx / sqrt(vx * vx + vy * vy) AS dx0,
           vy / sqrt(vx * vx + vy * vy) AS dy0
    FROM dir0
  )
),
rot AS MATERIALIZED (
  SELECT p.cluster_id, p.is_cable, p.z,
         (p.x - d.mx) * d.ax + (p.y - d.my) * d.ay AS t,
         (p.x - d.mx) * (-d.ay) + (p.y - d.my) * d.ax AS u
  FROM arm_pts p JOIN dirn d ON d.cluster_id = p.cluster_id
),
tmin AS (
  SELECT cluster_id, MIN(t) AS t0 FROM rot WHERE is_cable
  GROUP BY cluster_id
),
binsums AS (
  SELECT r.cluster_id, m.t0,
         CAST(floor((r.t - m.t0) / 2.0) AS BIGINT) AS bidx,
         COUNT(*) AS cnt,
         SUM(CAST(round(r.u * 1000000.0) AS BIGINT)) AS squ,
         SUM(CAST(round(r.z * 1000000.0) AS BIGINT)) AS sqz
  FROM rot r JOIN tmin m ON m.cluster_id = r.cluster_id
  WHERE r.is_cable
  GROUP BY r.cluster_id, m.t0, bidx
),
bins AS (
  SELECT cluster_id, bidx,
         t0 + (CAST(bidx AS DOUBLE) + 0.5) * 2.0 AS center,
         (CAST(squ AS DOUBLE) / CAST(cnt AS DOUBLE)) / 1e6 AS mu,
         (CAST(sqz AS DOUBLE) / CAST(cnt AS DOUBLE)) / 1e6 AS mz
  FROM binsums
),
brack AS (
  SELECT cluster_id, center, mu, mz,
         lead(center) OVER bw_w AS c2,
         lead(mu) OVER bw_w AS mu2,
         lead(mz) OVER bw_w AS mz2
  FROM bins
  WINDOW bw_w AS (PARTITION BY cluster_id ORDER BY bidx)
),
bounds AS (
  SELECT cluster_id, MIN(center) AS cfirst, MAX(center) AS clast,
         arg_min(mu, bidx) AS mufirst, arg_max(mu, bidx) AS mulast,
         arg_min(mz, bidx) AS mzfirst, arg_max(mz, bidx) AS mzlast
  FROM bins GROUP BY cluster_id
),
rfit AS (
  SELECT r.cluster_id, r.t, r.u, r.z,
    CASE WHEN r.t <= b.cfirst THEN b.mufirst
         WHEN r.t >= b.clast  THEN b.mulast
         ELSE k.mu + (r.t - k.center) * ((k.mu2 - k.mu) / (k.c2 - k.center))
    END AS ufit,
    CASE WHEN r.t <= b.cfirst THEN b.mzfirst
         WHEN r.t >= b.clast  THEN b.mzlast
         ELSE k.mz + (r.t - k.center) * ((k.mz2 - k.mz) / (k.c2 - k.center))
    END AS zfit
  FROM rot r
  JOIN bounds b ON b.cluster_id = r.cluster_id
  LEFT JOIN brack k ON k.cluster_id = r.cluster_id
       AND k.c2 IS NOT NULL AND r.t >= k.center AND r.t < k.c2
  WHERE NOT r.is_cable
),
kept AS MATERIALIZED (
  SELECT cluster_id,
         CAST(floor(t / 0.5) AS BIGINT) AS ti,
         CAST(floor((u - ufit) / 0.5) AS BIGINT) AS ui,
         CAST(floor((z - zfit) / 0.5) AS BIGINT) AS zi
  FROM rfit
  WHERE abs(u - ufit) < 3.0 AND (z - zfit) > -4.0 AND (z - zfit) < 1.0
),
kmin AS (SELECT cluster_id, MIN(ti) AS ti0 FROM kept GROUP BY cluster_id),
sliced AS MATERIALIZED (
  SELECT k.cluster_id, (k.ti - m.ti0) // 3 AS s, k.ui, k.zi
  FROM kept k JOIN kmin m ON m.cluster_id = k.cluster_id
),
slice_ok AS (
  SELECT cluster_id, s FROM sliced GROUP BY cluster_id, s
  HAVING SUM(CASE WHEN zi < 0 THEN 1 ELSE 0 END) >= 3
),
occ AS MATERIALIZED (
  SELECT DISTINCT d.cluster_id, d.s, d.ui, d.zi
  FROM sliced d JOIN slice_ok o
    ON o.cluster_id = d.cluster_id AND o.s = d.s
),
off5 AS (SELECT * FROM (VALUES (-2), (-1), (0), (1), (2)) o(d)),
dil AS MATERIALIZED (
  SELECT DISTINCT o.cluster_id, o.s, o.ui + a.d AS u, o.zi + b.d AS z
  FROM occ o CROSS JOIN off5 a CROSS JOIN off5 b
),
clos AS MATERIALIZED (
  SELECT a.cluster_id, a.s, a.u, a.z
  FROM dil a JOIN dil b
    ON a.cluster_id = b.cluster_id AND a.s = b.s
   AND abs(a.u - b.u) <= 2 AND abs(a.z - b.z) <= 2
  GROUP BY a.cluster_id, a.s, a.u, a.z
  HAVING COUNT(*) = 25
),
ccel AS MATERIALIZED (
  SELECT cluster_id, s, u, z, u * 2147483648 + z AS cell FROM clos
),
cadj AS MATERIALIZED (
  SELECT a.cluster_id, a.s, a.cell AS src, b.cell AS dst
  FROM ccel a JOIN ccel b
    ON a.cluster_id = b.cluster_id AND a.s = b.s
   AND abs(a.u - b.u) <= 1 AND abs(a.z - b.z) <= 1
),
creach(cluster_id, s, src, node) AS (
  SELECT cluster_id, s, cell, cell FROM ccel
  UNION
  SELECT r.cluster_id, r.s, r.src, e.dst
  FROM creach r JOIN cadj e
    ON e.cluster_id = r.cluster_id AND e.s = r.s AND e.src = r.node
),
creg AS (
  SELECT cluster_id, s, src AS cell, MIN(node) AS rid
  FROM creach GROUP BY cluster_id, s, src
),
regs AS (
  SELECT c.cluster_id, c.s, g.rid, COUNT(*) AS n_vox,
         MIN(c.u) AS umin, MAX(c.u) AS umax,
         MIN(c.z) AS zmin, MAX(c.z) AS zmax,
         MIN(c.cell) AS first_key
  FROM ccel c JOIN creg g
    ON g.cluster_id = c.cluster_id AND g.s = c.s AND g.cell = c.cell
  GROUP BY c.cluster_id, c.s, g.rid
  HAVING COUNT(*) >= 3
),
dets AS MATERIALIZED (
  SELECT cluster_id, s, umin, umax, n_vox, width, height,
         axis_off, z_off,
         (width >= 0.5 AND width < 6.0 AND height >= 0.5 AND height < 6.0
          AND axis_off < 3.0
          AND z_off > GREATEST(0.25, height / 2.0)) AS ok,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY s, first_key) AS det_idx
  FROM (
    SELECT cluster_id, s, umin, umax, n_vox, first_key,
           (umax - umin + 1) * 0.5 AS width,
           (zmax - zmin + 1) * 0.5 AS height,
           abs((CAST(umin + umax AS DOUBLE) / 2.0 + 0.5) * 0.5) AS axis_off,
           -((CAST(zmin + zmax AS DOUBLE) / 2.0 + 0.5) * 0.5) AS z_off
    FROM regs
  )
),
dadj AS MATERIALIZED (
  SELECT a.cluster_id, a.det_idx AS src, b.det_idx AS dst
  FROM dets a JOIN dets b
    ON a.cluster_id = b.cluster_id
   AND abs(a.s - b.s) = 1 AND a.umin <= b.umax AND b.umin <= a.umax
),
dreach(cluster_id, src, node) AS (
  SELECT cluster_id, det_idx, det_idx FROM dets
  UNION
  SELECT r.cluster_id, r.src, e.dst
  FROM dreach r JOIN dadj e
    ON e.cluster_id = r.cluster_id AND e.src = r.node
),
dblob AS (
  SELECT cluster_id, src AS det_idx, MIN(node) AS root
  FROM dreach GROUP BY cluster_id, src
),
blobs AS (
  SELECT d.cluster_id, b.root,
         COUNT(DISTINCT d.s) AS n_slices,
         SUM(d.n_vox) AS n_voxels,
         round(MAX(d.width), 6) AS width,
         round(MAX(d.height), 6) AS height,
         round(MIN(d.axis_off), 6) AS axis_off,
         round(MAX(d.z_off), 6) AS z_off,
         MAX(CASE WHEN d.ok THEN 1 ELSE 0 END) AS accepted
  FROM dets d JOIN dblob b
    ON b.cluster_id = d.cluster_id AND b.det_idx = d.det_idx
  GROUP BY d.cluster_id, b.root
)
SELECT cluster_id,
       CAST(row_number() OVER (PARTITION BY cluster_id ORDER BY root) - 1
            AS INTEGER) AS armatuur_id,
       CAST(n_slices AS INTEGER) AS n_slices,
       CAST(n_voxels AS BIGINT) AS n_voxels,
       width, height, axis_off, z_off,
       CAST(accepted AS INTEGER) AS accepted
FROM blobs
"""


@register("armatuur_search", _armatuur_sql())
def q_armatuur_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Armatuur (hanging-object) search composite (reference
    _search_armaturen, cable_fuser.py:576-673): per cable cluster,
    rotate to the cable frame, fit the u(t)/z(t) lines by 1-D binned
    means, clip the non-cable neighborhood, then slice-wise
    close→label→bounding-box tests and cross-slice blob merge.
    Oracle-exact: the engine's per-cluster float path is deterministic
    (integer-moment PCA, µm-quantized bin sums, explicit interp), so
    every double matches the single-statement DuckDB oracle bit-exactly;
    semantics additionally validated on constructed cable+blob fixtures
    in tests/test_morphology.py."""
    from .operators.morphology import search_armaturen
    from .operators.neighbors import nearest_match

    pages = pages_from_orders(spark, sf_dir)
    cells = FP.cable_cells(pages)
    # non-cable neighborhood: nearest cable cluster within 10 m
    # (the cable_grow attachment join)
    outside = pages.withColumns(
        {
            "cell_x": F.floor(F.col("x") / F.lit(FP.CABLE_RES)).cast("long"),
            "cell_y": F.floor(F.col("y") / F.lit(FP.CABLE_RES)).cast("long"),
        }
    ).join(cells.select("cell_x", "cell_y"), ["cell_x", "cell_y"], "left_anti")
    centers = cells.select(
        "cluster_id",
        (F.col("cell_x") * 5.0 + 2.5).alias("x"),
        (F.col("cell_y") * 5.0 + 2.5).alias("y"),
    )
    grown = nearest_match(
        outside, centers, max_dist=10.0, build_id="cluster_id",
        build_cols=(),
    ).select("page_id", "cluster_id")
    neighborhood = grown.join(
        pages.select("page_id", "x", "y", "z"), "page_id"
    ).select("cluster_id", "x", "y", "z", F.lit(False).alias("is_cable"))
    on_cable = FP.cable_members(pages).select(
        "cluster_id", "x", "y", "z", F.lit(True).alias("is_cable")
    )
    return search_armaturen(on_cable.unionByName(neighborhood))


# ----------------------------------------------------------------------
# Tram-cable classification (reference _classify_tram_cables,
# cable_fuser.py:462-503): a cable cluster is a TRAM cable when its
# axis passes within the buffered tram-track union AND its minimum
# height above ground is below the tram-wire ceiling.
# ----------------------------------------------------------------------

from .sources.layers import line_segments_values_sql  # noqa: E402


@register(
    "tram_classify",
    f"""
WITH feats AS ({pca_cell_features_sql(PAGES_CTE, 5.0, 3).strip()}),
cables AS (
  SELECT cell_x, cell_y, cell_x * 100000 + cell_y AS cluster_id
  FROM feats WHERE linearity > 0.9 AND n_points >= 4
),
pts AS ({PAGES_CTE}),
members AS (
  SELECT c.cluster_id, p.x, p.y,
         p.z - {_GZ} AS h
  FROM pts p JOIN cables c
    ON CAST(floor(p.x / 5.0) AS BIGINT) = c.cell_x
   AND CAST(floor(p.y / 5.0) AS BIGINT) = c.cell_y
),
trackd AS (
  SELECT m.cluster_id, MIN({segment_d2_sql('m.x', 'm.y')}) AS min_track_d2
  FROM members m CROSS JOIN {line_segments_values_sql()}
  GROUP BY m.cluster_id
),
stats AS (
  SELECT cluster_id, COUNT(*) AS n_points, MIN(h) AS min_height
  FROM members GROUP BY cluster_id
)
SELECT s.cluster_id, s.n_points, t.min_track_d2, s.min_height,
       (t.min_track_d2 <= {FP.TRAM_BUF ** 2}
        AND s.min_height < {FP.TRAM_MAX_H}) AS is_tram
FROM stats s JOIN trackd t ON t.cluster_id = s.cluster_id
""",
)
def q_tram_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tram-cable rule classification over the cable clusters: buffered
    track intersection (point-to-segment distance threshold against the
    tram line layer) AND min height above ground below the ceiling."""
    return FP.tram_verdict(FP.cable_members(_pages_gz(spark, sf_dir)))


@register(
    "cable_fuser_labels",
    f"""
WITH feats AS ({pca_cell_features_sql(PAGES_CTE, 5.0, 3).strip()}),
cables AS (
  SELECT cell_x, cell_y, cell_x * 100000 + cell_y AS cluster_id
  FROM feats WHERE linearity > 0.9 AND n_points >= 4
),
pts AS ({PAGES_CTE}),
members AS (
  SELECT c.cluster_id, p.page_id, p.x, p.y,
         p.z - {_GZ} AS h
  FROM pts p JOIN cables c
    ON CAST(floor(p.x / 5.0) AS BIGINT) = c.cell_x
   AND CAST(floor(p.y / 5.0) AS BIGINT) = c.cell_y
),
trackd AS (
  SELECT m.cluster_id, MIN({segment_d2_sql('m.x', 'm.y')}) AS min_track_d2
  FROM members m CROSS JOIN {line_segments_values_sql()}
  GROUP BY m.cluster_id
),
hstats AS (
  SELECT cluster_id, MIN(h) AS min_height FROM members GROUP BY cluster_id
),
verdict AS (
  SELECT s.cluster_id,
         (t.min_track_d2 <= {FP.TRAM_BUF ** 2}
          AND s.min_height < {FP.TRAM_MAX_H}) AS is_tram
  FROM hstats s JOIN trackd t ON t.cluster_id = s.cluster_id
)
SELECT m.page_id, CASE WHEN v.is_tram THEN 70 ELSE 79 END AS label
FROM members m JOIN verdict v ON v.cluster_id = m.cluster_id
""",
)
def q_cable_fuser_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CableFuser labelling (reference get_labels,
    cable_fuser.py:690-745: detect cables → classify tram cables →
    assign CABLE/TRAM_CABLE): every cable-cluster member page gets
    label 70 where its cluster passes the tram rule, else 79. The
    suspended-streetlight step is the armatuur_search composite over
    the same clusters."""
    return FP.cable_claims(_pages_gz(spark, sf_dir)).withColumnRenamed(
        "lbl", "label"
    )


# ----------------------------------------------------------------------
# CRS conversion + hierarchical cells (reference rd_converter.py:43-95;
# north_star H3/S2 encode)
# ----------------------------------------------------------------------

from .functions.crs import rd_to_wgs84, rd_to_wgs84_sql, zcell, zcell_sql  # noqa: E402

_LAT_SQL, _LON_SQL = rd_to_wgs84_sql("x", "y")


@register(
    "geocode_wgs84",
    f"""
WITH pts AS ({PAGES_CTE})
SELECT page_id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts
""",
)
def q_geocode_wgs84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RD→WGS84 polynomial conversion (reference rd_converter.py:43-95;
    public Schreutelkamp/Strang van Hees formula) — pure Column
    arithmetic, bit-identical fold order vs the oracle."""
    pages = pages_from_orders(spark, sf_dir)
    lat, lon = rd_to_wgs84(F.col("x"), F.col("y"))
    return pages.select("page_id", lat.alias("lat"), lon.alias("lon"))


@register(
    "h3_cells",
    f"""
WITH pts AS ({PAGES_CTE}),
ll AS (SELECT page_id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts)
SELECT page_id, {zcell_sql('lat', 'lon', 16)} AS cell_r16,
       {zcell_sql('lat', 'lon', 16)} >> 8 AS cell_r12
FROM ll
""",
)
def q_h3_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical Z-order cells over WGS84 (H3/S2-style prefix
    nesting: parent = cell >> 2Δres) — the north-star spatial index."""
    pages = pages_from_orders(spark, sf_dir)
    lat, lon = rd_to_wgs84(F.col("x"), F.col("y"))
    ll = pages.select("page_id", lat.alias("lat"), lon.alias("lon"))
    c = zcell(F.col("lat"), F.col("lon"), 16)
    return ll.select(
        "page_id", c.alias("cell_r16"), F.shiftright(c, 8).alias("cell_r12")
    )


# ----------------------------------------------------------------------
# Raster build (reference _get_ahn_surface, ahn_preprocessing.py:
# 129-185: IDW surface for ground, max-surface for building) and the
# pole fuser's voxel-candidate matching (pole_fuser.py:171-208)
# ----------------------------------------------------------------------


def _grid_cells(spark: SparkSession, sf_dir: str, res: float = 5.0) -> DataFrame:
    """Occupied raster cells (probe side of the surface build):
    distinct res-cells of the pages table, probed at cell centers."""
    pages = pages_from_orders(spark, sf_dir)
    cells = (
        pages.select(
            F.floor(F.col("x") / F.lit(res)).cast("long").alias("cell_x"),
            F.floor(F.col("y") / F.lit(res)).cast("long").alias("cell_y"),
        )
        .distinct()
    )
    return cells.select(
        (F.col("cell_x") * F.lit(100000) + F.col("cell_y")).alias("cell_id"),
        "cell_x",
        "cell_y",
        (F.col("cell_x") * F.lit(res) + F.lit(res / 2)).alias("x"),
        (F.col("cell_y") * F.lit(res) + F.lit(res / 2)).alias("y"),
    )


_CELLS_CTE = f"""
pts AS ({PAGES_CTE}),
cells0 AS (
  SELECT DISTINCT CAST(floor(x / 5.0) AS BIGINT) AS cell_x,
                  CAST(floor(y / 5.0) AS BIGINT) AS cell_y
  FROM pts
),
cells AS (
  SELECT cell_x * 100000 + cell_y AS cell_id, cell_x, cell_y,
         cell_x * 5.0 + 2.5 AS x, cell_y * 5.0 + 2.5 AS y
  FROM cells0
)"""


@register(
    "raster_build",
    f"""
WITH {_CELLS_CTE},
cand AS (
  SELECT c.cell_id, o.obj_id, CAST(o.z AS DOUBLE) AS z,
         (c.x - o.x) * (c.x - o.x) + (c.y - o.y) * (c.y - o.y) AS dist_sq
  FROM cells c JOIN {point_layer_values_sql()}
    ON (c.x - o.x) * (c.x - o.x) + (c.y - o.y) * (c.y - o.y) <= 1600.0
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY cell_id ORDER BY dist_sq, obj_id) AS rn
    FROM cand
  ) WHERE rn <= 8
)
SELECT c.cell_x, c.cell_y,
       SUM((1.0 / (t.dist_sq + 0.000000001)) * t.z ORDER BY t.dist_sq, t.obj_id)
           / SUM(1.0 / (t.dist_sq + 0.000000001) ORDER BY t.dist_sq, t.obj_id)
         AS ground_z,
       MAX(t.z) AS building_z,
       COUNT(*) AS n_neighbors
FROM topk t JOIN cells c ON c.cell_id = t.cell_id
GROUP BY c.cell_x, c.cell_y
""",
)
def q_raster_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-raster build: per occupied 5 m cell, IDW(k=8, p=2) of the
    point layer (ground surface) and max of the same neighbours
    (building surface). The reference rounds both to 2 dp
    (ahn_preprocessing.py:184-185); this does not (see below)."""
    from .operators.neighbors import idw, knn_candidates, nearest_k, nearest_max

    cells = _grid_cells(spark, sf_dir, 5.0)
    cand = knn_candidates(
        cells, point_layer_df(spark), max_dist=40.0,
        probe_id="cell_id", build_cols=("z",),
    )
    # ONE cell-keyed aggregation (nearest_k) feeds both surfaces; the
    # IDW at p=2 is knn_idw's fold, bit-identical to the oracle. The
    # join back to `cells` (a second pages scan + distinct + equi-join)
    # is replaced by decoding (cell_x, cell_y) from the pairing key
    # cell_id = cell_x * 100000 + cell_y (coords are non-negative and
    # cell_y < 100000 in the RD window, so div/mod decode is exact).
    # No 2-dp rounding here: engines disagree on half-way rounding and
    # the reference's f16 quantization is a storage detail.
    return nearest_k(cand, 8, "cell_id", "obj_id", ("z",)).select(
        F.expr("cell_id div 100000").alias("cell_x"),
        F.pmod(F.col("cell_id"), F.lit(100000)).cast("long").alias("cell_y"),
        idw("z").alias("ground_z"),
        nearest_max("z").alias("building_z"),
        F.size("_nb").cast("long").alias("n_neighbors"),
    )


@register(
    "pole_candidates",
    f"""
WITH pts AS ({PAGES_CTE}),
bins AS (
  SELECT CAST(floor(x / 5.0) AS BIGINT) AS bin_x,
         CAST(floor(y / 5.0) AS BIGINT) AS bin_y,
         MIN(z) AS z_min, MAX(z) AS z_max,
         quantile_cont(z, 0.5) AS z_median, COUNT(z) AS n_points
  FROM pts GROUP BY 1, 2
),
poles AS (
  SELECT *, bin_x * 5.0 + 2.5 AS cx, bin_y * 5.0 + 2.5 AS cy
  FROM bins
  WHERE z_max - z_min > 4.0 AND n_points >= 5
    AND abs(z_median - (z_min + z_max) / 2) < 1.5
),
cand AS (
  SELECT p.bin_x, p.bin_y, p.n_points, o.obj_id, o.bgt_type,
         (p.cx - o.x) * (p.cx - o.x) + (p.cy - o.y) * (p.cy - o.y) AS dist_sq
  FROM poles p JOIN {point_layer_values_sql()}
    ON (p.cx - o.x) * (p.cx - o.x) + (p.cy - o.y) * (p.cy - o.y) <= 225.0
)
SELECT bin_x, bin_y, n_points, obj_id, bgt_type, dist_sq FROM (
  SELECT *, row_number() OVER (
    PARTITION BY bin_x, bin_y ORDER BY dist_sq, obj_id) AS rn
  FROM cand
) WHERE rn = 1
""",
)
def q_pole_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGTPoleFuser candidate matching (reference pole_fuser.py:
    171-208): voxel columns whose height span, point count and
    median-centering pass the pole test, matched to the nearest
    point-layer object within 15 m (deterministic tie-break)."""
    from .operators.neighbors import binned_statistic_2d, nearest_match

    pages = pages_from_orders(spark, sf_dir)
    bins = binned_statistic_2d(pages, res=5.0)
    poles = bins.filter(
        (F.col("z_max") - F.col("z_min") > 4.0)
        & (F.col("n_points") >= 5)
        & (F.abs(F.col("z_median") - (F.col("z_min") + F.col("z_max")) / 2) < 1.5)
    ).select(
        "bin_x", "bin_y", "n_points",
        (F.col("bin_x") * 5.0 + 2.5).alias("x"),
        (F.col("bin_y") * 5.0 + 2.5).alias("y"),
    )
    keyed = poles.withColumn(
        "probe_id", F.col("bin_x") * F.lit(100000) + F.col("bin_y")
    )
    matched = nearest_match(
        keyed, point_layer_df(spark), max_dist=15.0, probe_id="probe_id"
    )
    # nearest_match projects to (probe_id, x, y, …) — join the bin
    # metadata back on the key
    return matched.join(
        keyed.select("probe_id", "bin_x", "bin_y", "n_points"), "probe_id"
    ).select("bin_x", "bin_y", "n_points", "obj_id", "bgt_type", "dist_sq")


# ----------------------------------------------------------------------
# BGTPoleFuser composite (reference pole_fuser.py:60-290): candidate
# columns → per-object window → seed DBSCAN → cylinder relabel
# ----------------------------------------------------------------------

from .operators.dbscan import dbscan_sql  # noqa: E402

_PF_WPTS_CTE = f"""
SELECT m.obj_id AS win_id, p.page_id AS pid, p.x, p.y
FROM pmatch m JOIN pts p
  ON (p.x - m.wx) * (p.x - m.wx) + (p.y - m.wy) * (p.y - m.wy)
     <= {FP.POLE['search_r'] ** 2}
WHERE p.z >= m.gz + {FP.POLE['zlo']} AND p.z <= m.gz + {FP.POLE['zhi']}
"""

_PF_ORACLE = f"""
WITH RECURSIVE pts AS ({PAGES_CTE}),

bins AS (
  SELECT CAST(floor(x / 5.0) AS BIGINT) AS bin_x,
         CAST(floor(y / 5.0) AS BIGINT) AS bin_y,
         MIN(z) AS z_min, MAX(z) AS z_max,
         quantile_cont(z, 0.5) AS z_median, COUNT(z) AS n_points
  FROM pts GROUP BY 1, 2
),
poles AS (
  SELECT *, bin_x * 5.0 + 2.5 AS cx, bin_y * 5.0 + 2.5 AS cy
  FROM bins
  WHERE z_max - z_min > 4.0 AND n_points >= 5
    AND abs(z_median - (z_min + z_max) / 2) < 1.5
),
objs AS (
  SELECT obj_id, x AS ox, y AS oy,
         {R.ground_z_sql('CAST(floor(x) AS BIGINT)', 'CAST(floor(y) AS BIGINT)')}
           AS gz
  FROM {point_layer_values_sql()}
  WHERE bgt_type = 'lichtmast'
),
pmatch AS (
  SELECT obj_id, ox, oy, gz, wx, wy FROM (
    SELECT o.*, p.cx AS wx, p.cy AS wy,
           row_number() OVER (
             PARTITION BY o.obj_id
             ORDER BY (p.cx - o.ox) * (p.cx - o.ox)
                    + (p.cy - o.oy) * (p.cy - o.oy), p.bin_x, p.bin_y) AS rn
    FROM objs o JOIN poles p
      ON (p.cx - o.ox) * (p.cx - o.ox) + (p.cy - o.oy) * (p.cy - o.oy)
         <= {FP.POLE['obj_max_dist_sq']}
  ) WHERE rn = 1
),
{dbscan_sql(_PF_WPTS_CTE, FP.POLE['eps'], FP.POLE['min_samples'])},
clus AS (
  SELECT a.win_id, a.cluster, COUNT(*) AS n,
         CAST(SUM(CAST(round(w.x * 1000.0) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000.0 AS ccx,
         CAST(SUM(CAST(round(w.y * 1000.0) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000.0 AS ccy,
         GREATEST(MAX(CAST(round(w.x * 1000.0) AS BIGINT))
                  - MIN(CAST(round(w.x * 1000.0) AS BIGINT)),
                  MAX(CAST(round(w.y * 1000.0) AS BIGINT))
                  - MIN(CAST(round(w.y * 1000.0) AS BIGINT))) / 2000.0 AS cr
  FROM db_assign a
  JOIN db_wpts w ON w.win_id = a.win_id AND w.pid = a.pid
  WHERE a.cluster >= 0
  GROUP BY a.win_id, a.cluster
),
pick AS (
  SELECT win_id, ccx, ccy, cr, gz FROM (
    SELECT c.*, m.gz,
           row_number() OVER (PARTITION BY c.win_id ORDER BY c.cluster) AS rn
    FROM clus c JOIN pmatch m ON m.obj_id = c.win_id
    WHERE c.cr <= {FP.POLE['max_r']}
      AND (m.wx - c.ccx) * (m.wx - c.ccx) + (m.wy - c.ccy) * (m.wy - c.ccy)
          < (c.cr + {FP.POLE['match_buf']}) * (c.cr + {FP.POLE['match_buf']})
  ) WHERE rn = 1
)
SELECT DISTINCT q.page_id, 60 AS label
FROM pts q JOIN pick k
  ON (q.x - k.ccx) * (q.x - k.ccx) + (q.y - k.ccy) * (q.y - k.ccy)
     <= ({FP.POLE['r_mult']} * k.cr) * ({FP.POLE['r_mult']} * k.cr)
WHERE q.z <= k.gz + {FP.POLE['label_h']}
"""


@register("pole_fuser", _PF_ORACLE)
def q_pole_fuser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BGTPoleFuser (reference pole_fuser.py:60-290): per registry
    object, match the nearest pole-like voxel column, DBSCAN the seed
    window (deterministic variant, operators/dbscan.py), validate the
    seed cluster (radius + containment), then label the cylinder
    r_mult·r up to ground+label_height. Non-vacuous: labels actual
    pages with STREET_LIGHT (60)."""
    # the pages feed the candidate bins, the seed windows and the
    # cylinder join — one scan
    pages = pages_from_orders(spark, sf_dir).select(
        "page_id", "x", "y", "z"
    ).localCheckpoint(eager=True)
    claims = FP.pole_claims(pages, ((8, "lichtmast", Labels.STREET_LIGHT),))
    return claims.select("page_id", F.col("lbl").alias("label"))


# ----------------------------------------------------------------------
# Per-component analytics: cluster stats, MBR, car-style dim fuser
# (reference car_fuser.py:57-85, street_furniture_fuser.py:63-79,
# math_utils.py:65-130)
# ----------------------------------------------------------------------

from .operators.geometry import cluster_stats, cluster_stats_sql  # noqa: E402


def _ground_with_comp(
    spark: SparkSession, sf_dir: str, grid: float = 1.0
) -> DataFrame:
    from .operators.components import grid_components

    pages = pages_from_orders(spark, sf_dir)
    enriched = R.with_raster(pages, R.raster_df(spark))
    ground = enriched.filter(F.abs(F.col("z") - F.col("ground_z")) < 0.2).select(
        "page_id", "x", "y"
    )
    comps = grid_components(ground.select("page_id", "x", "y"), grid_size=grid)
    return ground.join(comps.select("page_id", "component"), "page_id")


# Coarser-grid CC chain for the dimension/overlap fusers: at fixture
# density the 1 m ground components are all single points (every
# extent < 0.5 m), so the reference's car/furniture dimension windows
# would select nothing. 3 m cells yield a mix of small, window-sized
# and giant components — all filter branches exercised (CTE names
# suffixed 3; same recursive shape as _CC_BASE).
_DIM_GRID = 3.0

_CC_BASE3 = f"""
pts AS ({PAGES_CTE}),
ground3 AS (
  SELECT page_id, CAST(floor(x / {_DIM_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {_DIM_GRID}) AS BIGINT) AS cy
  FROM pts WHERE abs(z - {_GZ}) < 0.2
),
cells3 AS (SELECT DISTINCT cx, cy, cx * 2147483648 + cy AS cell FROM ground3),
adj3 AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM cells3 a JOIN cells3 b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
reach3(src, node) AS (
  SELECT cell, cell FROM cells3
  UNION
  SELECT r.src, e.dst FROM reach3 r JOIN adj3 e ON r.node = e.src
),
comp3 AS (SELECT src AS cell, MIN(node) AS component FROM reach3 GROUP BY src),
assign3 AS (
  SELECT g.page_id, c.component, p.x, p.y
  FROM ground3 g
  JOIN comp3 c ON g.cx * 2147483648 + g.cy = c.cell
  JOIN pts p ON p.page_id = g.page_id
)"""


_CLUSTER_ASSIGN_CTE = f"""
assign AS (
  SELECT g.page_id, c.component, p.x, p.y
  FROM ground g
  JOIN comp c ON g.cx * 2147483648 + g.cy = c.cell
  JOIN pts p ON p.page_id = g.page_id
)"""


@register(
    "cluster_stats",
    f"""
WITH RECURSIVE {_CC_BASE},
{_CLUSTER_ASSIGN_CTE}
{cluster_stats_sql('assign')}
""",
)
def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component exact stats: extents + mm-integer coordinate sums
    (order-independent → oracle-exact, SURVEY.md §7.3 item 1)."""
    return cluster_stats(_ground_with_comp(spark, sf_dir))


@register(
    "cluster_morphology",
    f"""
WITH RECURSIVE {_CC_BASE},
{_CLUSTER_ASSIGN_CTE},
mo_occ AS (
  SELECT DISTINCT component, CAST(floor(x) AS BIGINT) AS cx,
         CAST(floor(y) AS BIGINT) AS cy
  FROM assign
),
mo_dil AS (
  SELECT DISTINCT component, cx + dx.d AS cx, cy + dy.d AS cy
  FROM mo_occ
  CROSS JOIN (VALUES (-1), (0), (1)) AS dx(d)
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(d)
),
mo_closed AS (
  -- erosion of the dilated set: a cell survives iff all 9 of its
  -- 3x3 neighbors are dilated (the pad margin in the engine grid
  -- guarantees border behavior cannot differ)
  SELECT a.component, a.cx, a.cy
  FROM mo_dil a JOIN mo_dil b
    ON a.component = b.component
   AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
  GROUP BY a.component, a.cx, a.cy
  HAVING COUNT(*) = 9
),
mo_cells AS (
  SELECT component, cx, cy, cx * 2147483648 + cy AS cell FROM mo_closed
),
mo_adj AS (
  SELECT a.component, a.cell AS src, b.cell AS dst
  FROM mo_cells a JOIN mo_cells b
    ON a.component = b.component
   AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
mo_reach(component, src, node) AS (
  SELECT component, cell, cell FROM mo_cells
  UNION
  SELECT r.component, r.src, e.dst
  FROM mo_reach r JOIN mo_adj e
    ON e.component = r.component AND e.src = r.node
),
mo_region AS (
  SELECT component, src AS cell, MIN(node) AS rid
  FROM mo_reach GROUP BY component, src
),
mo_stats AS (
  SELECT c.component, g.rid, COUNT(*) AS n_voxels,
         MIN(c.cx) AS cx_min, MAX(c.cx) AS cx_max,
         MIN(c.cy) AS cy_min, MAX(c.cy) AS cy_max,
         MIN(c.cell) AS first_key
  FROM mo_cells c JOIN mo_region g
    ON g.component = c.component AND g.cell = c.cell
  GROUP BY c.component, g.rid
)
SELECT component,
       CAST(row_number() OVER (PARTITION BY component ORDER BY first_key)
            AS INTEGER) AS region,
       n_voxels,
       (cx_max - cx_min + 1) * 1.0 AS width_x,
       (cy_max - cy_min + 1) * 1.0 AS width_y
FROM mo_stats
""",
)
def q_cluster_morphology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voxel morphology per ground component (reference armatuur search,
    cable_fuser.py:576-673): occupancy close (dilate+erode) → region
    labelling → per-region voxel counts/extents. Pure-NumPy kernels
    validated in tests/test_morphology.py; SQL oracle: set-algebra
    closing (9-neighbor count) + recursive-CTE region CC, region ids by
    scan-order first encounter (= min packed cell key)."""
    from .operators.morphology import cluster_morphology

    return cluster_morphology(_ground_with_comp(spark, sf_dir), voxel=1.0)


_MBR_AREA = (
    "CAST(dmax - dmin AS DOUBLE) * CAST(cmax - cmin AS DOUBLE)"
    " / CAST(ex * ex + ey * ey AS DOUBLE)"
)


@register(
    "cluster_mbr",
    f"""
WITH RECURSIVE {_CC_BASE},
{_CLUSTER_ASSIGN_CTE},
mb_pts AS (
  SELECT DISTINCT component,
         CAST(round(x * 1000.0) AS BIGINT) AS xm,
         CAST(round(y * 1000.0) AS BIGINT) AS ym
  FROM assign
),
mb_n AS (SELECT component, COUNT(*) AS n_points FROM assign GROUP BY component),
mb_min AS (
  SELECT component, MIN(xm) AS x0, MIN(ym) AS y0
  FROM mb_pts GROUP BY component
),
mb_q AS (
  SELECT p.component, p.xm - m.x0 AS qx, p.ym - m.y0 AS qy
  FROM mb_pts p JOIN mb_min m ON m.component = p.component
),
mb_rng AS (
  SELECT c.component, c.px, c.py, c.qx2, c.qy2, c.ex, c.ey,
         MAX(u.qx * c.ex + u.qy * c.ey) AS dmax,
         MIN(u.qx * c.ex + u.qy * c.ey) AS dmin,
         MAX(u.qx * c.ey - u.qy * c.ex) AS cmax,
         MIN(u.qx * c.ey - u.qy * c.ex) AS cmin
  FROM (
    SELECT a.component, a.qx AS px, a.qy AS py, b.qx AS qx2, b.qy AS qy2,
           b.qx - a.qx AS ex, b.qy - a.qy AS ey
    FROM mb_q a JOIN mb_q b
      ON a.component = b.component AND (a.qx, a.qy) < (b.qx, b.qy)
  ) c JOIN mb_q u ON u.component = c.component
  GROUP BY c.component, c.px, c.py, c.qx2, c.qy2, c.ex, c.ey
  -- side-consistency: only pairs with all points on one side of their
  -- line are MBR directions (min/max cross equals the pair's own
  -- cross) — mirrors the engine's boundary-pair search exactly
  HAVING MIN(u.qx * c.ey - u.qy * c.ex) = c.px * c.ey - c.py * c.ex
      OR MAX(u.qx * c.ey - u.qy * c.ex) = c.px * c.ey - c.py * c.ex
),
mb_best AS (
  SELECT * FROM (
    SELECT r.*, row_number() OVER (
             PARTITION BY component
             ORDER BY {_MBR_AREA}, px, py, qx2, qy2) AS rn
    FROM mb_rng r
  ) WHERE rn = 1
)
SELECT n.component, n.n_points,
       COALESCE(({_MBR_AREA}) / 1e6, 0.0) AS mbr_area,
       COALESCE(GREATEST(
         CAST(dmax - dmin AS DOUBLE) * CAST(dmax - dmin AS DOUBLE)
           / CAST(ex * ex + ey * ey AS DOUBLE),
         CAST(cmax - cmin AS DOUBLE) * CAST(cmax - cmin AS DOUBLE)
           / CAST(ex * ex + ey * ey AS DOUBLE)) / 1e6, 0.0) AS mbr_len_sq,
       COALESCE(LEAST(
         CAST(dmax - dmin AS DOUBLE) * CAST(dmax - dmin AS DOUBLE)
           / CAST(ex * ex + ey * ey AS DOUBLE),
         CAST(cmax - cmin AS DOUBLE) * CAST(cmax - cmin AS DOUBLE)
           / CAST(ex * ex + ey * ey AS DOUBLE)) / 1e6, 0.0) AS mbr_wid_sq,
       CASE WHEN b.component IS NULL THEN CAST(m.x0 AS DOUBLE) / 1000.0
            ELSE (CAST(m.x0 AS DOUBLE)
                  + CAST((dmin + dmax) * ex + (cmin + cmax) * ey AS DOUBLE)
                    / CAST(2 * (ex * ex + ey * ey) AS DOUBLE)) / 1000.0
       END AS center_x,
       CASE WHEN b.component IS NULL THEN CAST(m.y0 AS DOUBLE) / 1000.0
            ELSE (CAST(m.y0 AS DOUBLE)
                  + CAST((dmin + dmax) * ey - (cmin + cmax) * ex AS DOUBLE)
                    / CAST(2 * (ex * ex + ey * ey) AS DOUBLE)) / 1000.0
       END AS center_y
FROM mb_n n
JOIN mb_min m ON m.component = n.component
LEFT JOIN mb_best b ON b.component = n.component
""",
)
def q_cluster_mbr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum bounding rectangle per component via the ORACLE-EXACT
    pair-direction search (operators/geometry.cluster_mbr_exact):
    exact mm-integer dot/cross ranges per candidate direction, one
    fixed double formula for area/length²/width²/center, deterministic
    (area, pair) argmin (reference math_utils.py:65-130, without the
    libm angle). tests/test_geometry.py checks the kernel against an
    angle sweep."""
    from .operators.geometry import cluster_mbr_exact

    return cluster_mbr_exact(_ground_with_comp(spark, sf_dir))


@register(
    "cluster_dim_fuser",
    f"""
WITH RECURSIVE {_CC_BASE3},
stats AS ({cluster_stats_sql('assign3')})
SELECT component, n_points,
       x_max - x_min AS ext_x, y_max - y_min AS ext_y
FROM stats
WHERE n_points >= 3
  AND x_max - x_min >= 1.5 AND x_max - x_min <= 20.0
  AND y_max - y_min >= 1.5 AND y_max - y_min <= 20.0
""",
)
def q_cluster_dim_fuser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CarFuser-style dimension window over components (reference
    car_fuser.py:61-74): keep clusters whose point count and axis
    extents fall inside the target window (3 m CC grid — see
    _CC_BASE3 note on fixture density)."""
    stats = cluster_stats(_ground_with_comp(spark, sf_dir, grid=_DIM_GRID))
    ext_x = F.col("x_max") - F.col("x_min")
    ext_y = F.col("y_max") - F.col("y_min")
    return (
        stats.filter(
            (F.col("n_points") >= 3)
            & ext_x.between(1.5, 20.0)
            & ext_y.between(1.5, 20.0)
        )
        .select(
            "component", "n_points",
            ext_x.alias("ext_x"), ext_y.alias("ext_y"),
        )
    )


def _fill_r6(df: DataFrame) -> DataFrame:
    """Compared projection for the gap-fill family: floor-quantized
    µ-units (floor(x·1e6)) — engine-exact even on the half-boundary
    values where round(x, 6) semantics diverge between DuckDB
    (multiply-then-round) and Spark (BigDecimal HALF_UP); see
    operators/gapfill._fill_out_sql."""
    return df.select(
        "tilecode", "gx", "gy",
        F.floor(F.col("building_z") * F.lit(1e6)).cast("long").alias("bz_e6"),
        "was_gap", "filled",
    )


from .operators.gapfill import (  # noqa: E402
    smoothen_edges_sql,
    fill_gaps_cubic_sql,
    fill_gaps_linear_sql,
    fill_gaps_sql,
)

_RASTER_CTE = R.raster_cte_sql()


@register("gap_fill", fill_gaps_sql(_RASTER_CTE))
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile raster gap fill (reference ahn_utils.py:402-456
    fill_gaps_intuitive): one round of the 3×3 neighbor-mean fill of
    NULL building-surface cells, applyInPandas per tile; SQL oracle =
    the same one-round neighbor-mean."""
    from .operators.gapfill import fill_building_gaps

    return _fill_r6(fill_building_gaps(R.raster_df(spark)))


@register("gap_fill_linear", fill_gaps_linear_sql(_RASTER_CTE))
def q_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile LINEAR gap fill (reference fill_gaps with
    griddata(method='linear') + max_gap_size gate, ahn_utils.py:
    346-400): separable row/column linear interpolation between the
    nearest valid anchors, gaps wider than max_gap left unfilled.
    SQL oracle: rank-join anchor pick mirroring searchsorted."""
    from .operators.gapfill import fill_building_gaps_linear

    return _fill_r6(fill_building_gaps_linear(R.raster_df(spark), max_gap=6))


@register("smoothen_edges", smoothen_edges_sql(_RASTER_CTE, 1))
def q_smoothen_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-border smoothing of the building surface (reference
    ahn_utils.py:458-508 smoothen_edges): NULL cells on the
    cross-dilation border of the data mask get the 3×3 nanmean of
    their neighbors — 'pads' the surface around buildings so nearby
    points still label. Centi-exact neighbor sums → value-exact SQL
    oracle; NumPy-oracle test in tests/test_gapfill.py."""
    from .operators.gapfill import smoothen_building_edges

    return _fill_r6(smoothen_building_edges(R.raster_df(spark), thickness=1))


@register("gap_fill_cubic", fill_gaps_cubic_sql(_RASTER_CTE))
def q_gap_fill_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile CUBIC gap fill (reference griddata(method='cubic')
    analog): separable Catmull–Rom through the four nearest anchors,
    same max-gap gate. Validated in tests/test_gapfill.py."""
    from .operators.gapfill import fill_grid_cubic, grouped_grid_fill

    return _fill_r6(
        grouped_grid_fill(
            R.raster_df(spark), lambda g: fill_grid_cubic(g, max_gap=6)
        )
    )


# ----------------------------------------------------------------------
# LayerLCC: per-height-band CC + seed growing, sequential band fold
# (reference layer_lcc.py:70-136 — band filter :70-93, loop :131-136)
# ----------------------------------------------------------------------

_BANDS = ((0.5, 2.5), (2.5, 6.0))


def _band_cc_sql(k: int, b0: float, b1: float) -> str:
    """One band's CC CTE chain (suffix _k); pts/building seeds shared."""
    return f"""
band{k} AS (
  SELECT page_id, x, y,
         CAST(floor(x) AS BIGINT) AS cx, CAST(floor(y) AS BIGINT) AS cy
  FROM pts WHERE z - {_GZ} >= {b0} AND z - {_GZ} < {b1}
),
cells{k} AS (SELECT DISTINCT cx, cy, cx * 2147483648 + cy AS cell FROM band{k}),
adj{k} AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM cells{k} a JOIN cells{k} b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
reach{k}(src, node) AS (
  SELECT cell, cell FROM cells{k}
  UNION
  SELECT r.src, e.dst FROM reach{k} r JOIN adj{k} e ON r.node = e.src
),
comp{k} AS (SELECT src AS cell, MIN(node) AS component FROM reach{k} GROUP BY src),
assign{k} AS (
  SELECT b.page_id, c.component,
         (s.page_id IS NOT NULL) AS is_seed
  FROM band{k} b
  JOIN comp{k} c ON b.cx * 2147483648 + b.cy = c.cell
  LEFT JOIN seeds s ON s.page_id = b.page_id
),
frac{k} AS (
  SELECT component,
         CAST(SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS f
  FROM assign{k} GROUP BY component
),
out{k} AS (
  SELECT {k} AS band, a.page_id, a.component, a.is_seed,
         (a.is_seed OR f.f > 0.1) AS grown
  FROM assign{k} a JOIN frac{k} f ON f.component = a.component
)"""


_LAYER_GROWER_ORACLE = (
    "WITH RECURSIVE pts AS (" + PAGES_CTE + "),\n"
    + f"""
seed_pip AS (
  SELECT p.page_id,
         SUM(CASE WHEN ((e.y1 > p.y) != (e.y2 > p.y))
                   AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END) AS crossings
  FROM pts p
  JOIN {polygon_edges_values_sql()}
    ON p.x >= e.px_min AND p.x <= e.px_max
   AND p.y >= e.py_min AND p.y <= e.py_max
  WHERE e.bgt_type = 'pand'
  GROUP BY p.page_id, e.polygon_id
),
seeds AS (SELECT DISTINCT page_id FROM seed_pip WHERE crossings % 2 = 1),
"""
    + ",\n".join(_band_cc_sql(k, b0, b1) for k, (b0, b1) in enumerate(_BANDS))
    + "\n"
    + " UNION ALL ".join(f"SELECT * FROM out{k}" for k in range(len(_BANDS)))
)


@register("layer_grower", _LAYER_GROWER_ORACLE)
def q_layer_grower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LayerLCC: for each height band above the interpolated ground,
    run grid CC and grow the building seed label to components whose
    seed fraction exceeds the threshold; bands fold sequentially."""
    from .operators.components import grid_components

    pages = pages_from_orders(spark, sf_dir)
    enriched = R.with_raster(pages, R.raster_df(spark))
    building_edges = polygon_edges_df(spark).filter(F.col("bgt_type") == "pand")
    seed_ids = pip_hits(enriched, building_edges).select("page_id").distinct()
    seeded = enriched.join(
        seed_ids.withColumn("is_seed", F.lit(True)), "page_id", "left"
    ).withColumn("is_seed", F.coalesce(F.col("is_seed"), F.lit(False)))

    parts = []
    for k, (b0, b1) in enumerate(_BANDS):
        dz = F.col("z") - F.col("ground_z")
        band = seeded.filter((dz >= F.lit(b0)) & (dz < F.lit(b1)))
        comps = grid_components(
            band.select("page_id", "x", "y"), grid_size=1.0
        ).select("page_id", "component")
        joined = band.select("page_id", "is_seed").join(comps, "page_id")
        frac = joined.groupBy("component").agg(
            (
                F.sum(F.col("is_seed").cast("int")).cast("double") / F.count("*")
            ).alias("_f")
        )
        parts.append(
            joined.join(frac, "component").select(
                F.lit(k).alias("band"),
                "page_id",
                "component",
                "is_seed",
                (F.col("is_seed") | (F.col("_f") > 0.1)).alias("grown"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ----------------------------------------------------------------------
# RegionGrowing (reference region_growing.py:15-170): seeded surface
# growth gated by normal angle + curvature, over a planar-zones fixture
# ----------------------------------------------------------------------

from .operators.region_growing import region_grow, region_grow_sql  # noqa: E402

# Deterministic piecewise-planar z over the geocoded (x, y) window
# (FIXTURES.md style — integer-mm arithmetic, identical on both engines):
#   zone A (x < 119300):       flat plane z = 2
#   zone B (119300 ≤ x < 119350): 10 % grade (≈5.7° from A → grows)
#   zone C (x ≥ 119350):       100 % grade wall (≈39° from B → blocked)
#   rough stripe (y ∈ [485120, 485130), two voxel rows): ±2 m hash
#   jitter → high curvature, so growth cannot pass THROUGH it
#   (curvature gate; two rows so diagonal adjacency cannot skip it).
# Seeds: the strip x < 119270 AND y < 485120 (below the stripe).
_RG_PTS_CTE = f"""
SELECT o_orderkey AS page_id,
       {G.x_sql('o_orderkey')} AS x,
       {G.y_sql('o_orderkey')} AS y,
       CAST(
         (CASE WHEN (o_orderkey * {G.AX}) % 150000 < 50000 THEN 2000
               WHEN (o_orderkey * {G.AX}) % 150000 < 100000
                 THEN 2000 + CAST(floor(((o_orderkey * {G.AX}) % 150000 - 50000)
                                        / 10) AS BIGINT)
               ELSE 7000 + ((o_orderkey * {G.AX}) % 150000 - 100000) END
          + CASE WHEN (o_orderkey * {G.AY}) % 150000 >= 70000
                  AND (o_orderkey * {G.AY}) % 150000 < 80000
                 THEN (o_orderkey * {G.AZ}) % 4001 - 2000 ELSE 0 END)
         AS DOUBLE) / 1000.0 AS z
FROM orders
"""

_RG_SEED_PRED = "x < 119270.0 AND y < 485120.0"


def _rg_planar_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.pages import spread_small_scan

    pid = F.col("page_id")
    xm = (pid * F.lit(G.AX)) % F.lit(150000)
    ym = (pid * F.lit(G.AY)) % F.lit(150000)
    zb = (
        F.when(xm < 50000, F.lit(2000).cast("long"))
        .when(
            xm < 100000,
            F.lit(2000)
            + F.floor((xm - F.lit(50000)) / F.lit(10)).cast("long"),
        )
        .otherwise(F.lit(7000) + (xm - F.lit(100000)))
    )
    jit = F.when(
        (ym >= 70000) & (ym < 80000),
        (pid * F.lit(G.AZ)) % F.lit(4001) - F.lit(2000),
    ).otherwise(F.lit(0).cast("long"))
    base = spread_small_scan(
        read_fixture(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("page_id")
        ),
        f"{sf_dir}/orders.parquet",
    )
    return base.select(
        "page_id",
        G.x_col(pid).alias("x"),
        G.y_col(pid).alias("y"),
        ((zb + jit) / F.lit(1000.0)).alias("z"),
    )


@register(
    "region_growing",
    "WITH RECURSIVE " + region_grow_sql(_RG_PTS_CTE, _RG_SEED_PRED),
)
def q_region_growing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegionGrowing (reference region_growing.py:15-170): seed strip in
    the flat zone grows across the gentle slope (normal angle ≈5.7° <
    20°), is blocked by the 45° wall and cannot pass through the
    high-curvature rough stripe. Engine: voxel plane-fit normals from
    exact integer moments + gated two-level CC; oracle: identical
    arithmetic + recursive-CTE reach."""
    pages = _rg_planar_pages(spark, sf_dir)
    seeded = pages.withColumn(
        "is_seed", (F.col("x") < 119270.0) & (F.col("y") < 485120.0)
    )
    return region_grow(seeded).select("page_id", "grown")


# ----------------------------------------------------------------------
# PCA shape features per cell (reference cable_fuser.py:133-149 —
# covariance eigen-decomposition → linearity candidates)
# ----------------------------------------------------------------------

from .operators.pca import pca_cell_features, pca_cell_features_sql  # noqa: E402


@register("pca_linearity", pca_cell_features_sql(PAGES_CTE, 5.0, 3))
def q_pca_linearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-5m-cell covariance eigenvalues + linearity score — exact
    (centered integer moments, closed-form 2×2 eigenvalues)."""
    return pca_cell_features(pages_from_orders(spark, sf_dir), 5.0, 3)


@register(
    "cable_candidates",
    f"""
WITH feats AS ({pca_cell_features_sql(PAGES_CTE, 5.0, 3).strip()})
SELECT cell_x, cell_y, n_points, linearity
FROM feats WHERE linearity > 0.95 AND n_points >= 5
""",
)
def q_cable_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CableFuser candidate cells: highly linear voxels (reference
    keeps voxels whose dominant eigenvalue explains the spread,
    cable_fuser.py:151-171)."""
    feats = pca_cell_features(pages_from_orders(spark, sf_dir), 5.0, 3)
    return feats.filter(
        (F.col("linearity") > 0.95) & (F.col("n_points") >= 5)
    ).select("cell_x", "cell_y", "n_points", "linearity")


# ----------------------------------------------------------------------
# Tumbling-window aggregation over events (time-bucketed agg — the
# 1-D binned statistic of §2.4 in the time domain)
# ----------------------------------------------------------------------


@register(
    "tumbling_window",
    """
SELECT user_id,
       date_trunc('hour', ts) AS window_start,
       COUNT(*) AS n_events,
       SUM(value ORDER BY event_id) AS sum_value
FROM events
GROUP BY user_id, date_trunc('hour', ts)
""",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window aggregate per user. sum_value folds over
    a sorted per-group array so the float accumulation order matches
    the oracle's ordered SUM deterministically (SURVEY.md §7.3 item 1)."""
    ev = _events(spark, sf_dir)
    grouped = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("window_start")
    ).agg(
        F.count("*").alias("n_events"),
        F.sort_array(F.collect_list(F.struct("event_id", "value"))).alias("_ev"),
    )
    return grouped.select(
        "user_id", "window_start", "n_events",
        F.aggregate(
            "_ev", F.lit(0.0), lambda a, s: a + s["value"]
        ).alias("sum_value"),
    )


@register(
    "sliding_window",
    """
WITH k(k) AS (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))),
e AS (
  SELECT epoch_us(ts) AS t_us, event_type, value FROM events
),
w AS (
  SELECT ((t_us // 300000000) * 300000000) - k.k * 300000000 AS ws,
         event_type, value
  FROM e CROSS JOIN k
  WHERE t_us - (((t_us // 300000000) * 300000000) - k.k * 300000000)
        < 600000000
)
SELECT ws AS window_start_us, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_value_e6
FROM w GROUP BY ws, event_type
""",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows hopping every 5 minutes (the overlapping
    sibling of tumbling_window, same op Structured Streaming uses for
    windowed aggs): per (window, event_type) the event count and the
    floor-e6-quantized value sum. Spark's built-in `window()` expands
    each event into its ⌈size/slide⌉ = 2 windows, then a map-side-
    combined aggregate on (window_start, type) — expansion factor is
    a constant, the shuffle key is the window bucket. The oracle
    reproduces the epoch-aligned window starts with integer epoch-µs
    arithmetic (slide 300 s, size 600 s); window starts are emitted
    as epoch µs so no calendar/timezone semantics are involved."""
    ev = _events(spark, sf_dir)
    sl = ev.select(
        F.window(F.col("ts"), "10 minutes", "5 minutes").alias("w"),
        "event_type",
        F.expr("CAST(FLOOR(value * 1000000.0) AS BIGINT)").alias("v_e6"),
    )
    return (
        sl.groupBy(
            F.unix_micros(F.col("w.start").cast("timestamp"))
            .alias("window_start_us"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v_e6").cast("long").alias("sum_value_e6"),
        )
    )


from .sources.layers import road_strips_values_sql  # noqa: E402


@register(
    "car_fuser",
    f"""
WITH RECURSIVE {_CC_BASE3},
stats AS ({cluster_stats_sql('assign3')}),
dims AS (
  SELECT component, n_points,
         x_min - 0.5 AS x0, x_max + 0.5 AS x1,
         y_min - 0.5 AS y0, y_max + 0.5 AS y1
  FROM stats
  WHERE x_max - x_min <= 20.0 AND y_max - y_min <= 20.0
),
overlap AS (
  SELECT d.component, d.n_points,
         SUM(GREATEST(0.0, LEAST(d.x1, r.rx1) - GREATEST(d.x0, r.rx0))
           * GREATEST(0.0, LEAST(d.y1, r.ry1) - GREATEST(d.y0, r.ry0)))
           / ((d.x1 - d.x0) * (d.y1 - d.y0)) * 100.0 AS road_pct
  FROM dims d JOIN {road_strips_values_sql()}
    ON r.rx0 < d.x1 AND r.rx1 > d.x0
   AND r.ry0 < d.y1 AND r.ry1 > d.y0
  GROUP BY d.component, d.n_points, d.x0, d.x1, d.y0, d.y1
)
SELECT component, n_points, road_pct, 40 AS label
FROM overlap WHERE road_pct > 20.0
""",
)
def q_car_fuser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CarFuser composite (reference car_fuser.py:18-137): ground-band
    components passing the dimension window whose footprint overlaps
    the road layer by > 20% get the CAR label. Overlap uses the
    cluster's axis-aligned extent vs the (axis-aligned) road strips —
    exact rectangle-intersection areas, no geometry lib. See
    car_fuser_mbr for the rotated-MBR overlap variant."""
    stats = cluster_stats(_ground_with_comp(spark, sf_dir, grid=_DIM_GRID))
    return (
        FP.road_overlap(stats)
        .filter(F.col("road_pct") > FP.CAR_MIN_PCT)
        .select("component", "n_points", "road_pct",
                F.lit(int(Labels.CAR)).alias("label"))
    )


# ----------------------------------------------------------------------
# BGTStreetFurnitureFuser composite (reference street_furniture_fuser.
# py:40-110): clusters in the band above ground pass height + dimension
# windows and must sit near a registry object of the right type.
# ----------------------------------------------------------------------


@register(
    "street_furniture_fuser",
    f"""
WITH RECURSIVE pts AS ({PAGES_CTE}),

fpts AS (
  SELECT page_id, x, y, z,
         CAST(200 + ((CAST(floor(x) AS BIGINT) * 31
                      + CAST(floor(y) AS BIGINT) * 17) % 100) AS BIGINT)
           AS gz_c,
         CAST(floor(x / {FP.SF_GRID}) AS BIGINT) AS cx,
         CAST(floor(y / {FP.SF_GRID}) AS BIGINT) AS cy
  FROM pts
  WHERE z - {_GZ} > {FP.SF_BAND[0]} AND z - {_GZ} <= {FP.SF_BAND[1]}
),
fcells AS (SELECT DISTINCT cx, cy, cx * 2147483648 + cy AS cell FROM fpts),
fadj AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM fcells a JOIN fcells b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
freach(src, node) AS (
  SELECT cell, cell FROM fcells
  UNION
  SELECT r.src, e.dst FROM freach r JOIN fadj e ON r.node = e.src
),
fcomp AS (SELECT src AS cell, MIN(node) AS component FROM freach GROUP BY src),
fassign AS (
  SELECT p.page_id, c.component, p.x, p.y, p.z, p.gz_c
  FROM fpts p JOIN fcomp c ON p.cx * 2147483648 + p.cy = c.cell
),
fstats AS (
  SELECT component, COUNT(*) AS n_points,
         MAX(z) AS top_z,
         CAST(SUM(gz_c) AS DOUBLE) / COUNT(*) / 100.0 AS mean_gz,
         MIN(x) AS x_min, MAX(x) AS x_max,
         MIN(y) AS y_min, MAX(y) AS y_max,
         CAST(SUM(CAST(round(x * 1000.0) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000.0 AS center_x,
         CAST(SUM(CAST(round(y * 1000.0) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000.0 AS center_y
  FROM fassign GROUP BY component
),
fpass AS (
  SELECT s.component FROM fstats s
  WHERE s.top_z - s.mean_gz >= {FP.SF_HEIGHT[0]}
    AND s.top_z - s.mean_gz <= {FP.SF_HEIGHT[1]}
    AND s.x_max - s.x_min >= {FP.SF_EXT[0]} AND s.x_max - s.x_min <= {FP.SF_EXT[1]}
    AND s.y_max - s.y_min >= {FP.SF_EXT[0]} AND s.y_max - s.y_min <= {FP.SF_EXT[1]}
    AND EXISTS (
      SELECT 1 FROM {point_layer_values_sql()}
      WHERE o.bgt_type IN ('bank', 'afvalbak')
        AND (s.center_x - o.x) * (s.center_x - o.x)
          + (s.center_y - o.y) * (s.center_y - o.y) <= {FP.SF_MAX_D2}
    )
)

SELECT a.page_id, 80 AS label
FROM fassign a JOIN fpass p ON p.component = a.component
""",
)
def q_street_furniture_fuser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BGTStreetFurnitureFuser (reference street_furniture_fuser.
    py:40-110): band-above-ground clusters passing the height window
    (vs exact integer-mm mean ground) and dimension window, whose
    centroid lies within max_dist of a bench/bin registry object, label
    all their points CITY_BENCH (80)."""
    bench = Labels.CITY_BENCH
    claims = FP.furniture_claims(
        _pages_gz(spark, sf_dir), ((11, "afvalbak", bench), (11, "bank", bench))
    )
    return claims.select("page_id", F.col("lbl").alias("label"))


# ----------------------------------------------------------------------
# 1-D binned statistic: cable line fit (reference _linestring_cable_fit,
# cable_fuser.py:430-460 — binned means along the cable axis)
# ----------------------------------------------------------------------


@register(
    "cable_line_fit",
    f"""
WITH feats AS ({pca_cell_features_sql(PAGES_CTE, 5.0, 3).strip()}),
cables AS (
  SELECT cell_x, cell_y, cell_x * 100000 + cell_y AS cluster_id
  FROM feats WHERE linearity > 0.9 AND n_points >= 4
),
pts AS ({PAGES_CTE}),
members AS (
  SELECT c.cluster_id, p.x, p.y, p.z
  FROM pts p JOIN cables c
    ON CAST(floor(p.x / 5.0) AS BIGINT) = c.cell_x
   AND CAST(floor(p.y / 5.0) AS BIGINT) = c.cell_y
)
SELECT cluster_id, CAST(floor(x / 4.0) AS BIGINT) AS bin_t,
       COUNT(*) AS n_pts,
       CAST(SUM(CAST(round(y * 1000.0) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 1000.0 AS mean_y,
       CAST(SUM(CAST(round(z * 1000.0) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 1000.0 AS mean_z
FROM members
GROUP BY cluster_id, CAST(floor(x / 4.0) AS BIGINT)
""",
)
def q_cable_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D binned-statistic cable line fit: per cable cluster, the
    binned mean cross-position and height along the axis (axis-aligned
    variant; the principal-axis version runs inside armatuur_search).
    Means divide exact integer-mm sums so both engines agree
    bit-for-bit."""
    members = FP.cable_members(pages_from_orders(spark, sf_dir))
    ymm = F.round(F.col("y") * 1000.0).cast("long")
    zmm = F.round(F.col("z") * 1000.0).cast("long")
    return members.groupBy(
        "cluster_id", F.floor(F.col("x") / 4.0).cast("long").alias("bin_t")
    ).agg(
        F.count("*").alias("n_pts"),
        (F.sum(ymm).cast("double") / F.count("*") / F.lit(1000.0)).alias(
            "mean_y"
        ),
        (F.sum(zmm).cast("double") / F.count("*") / F.lit(1000.0)).alias(
            "mean_z"
        ),
    )


def _alpha_shape_sql(points_sql: str | None = None) -> str:
    """cluster_alpha_shape oracle: brute-force empty-circumcircle
    Delaunay over i<j<k vid triples (equivalent to the engine's
    Bowyer–Watson on general-position data; circumcircle doubles are
    evaluated in the same sorted-vertex order) → circumradius filter →
    boundary edges (count=1) → fan-pairing at pinch vertices (triangle
    CC per vertex, recursive CTE) → static-successor loop walk →
    ordered-fold shoelace → crossing-parity hole nesting. Mirrors
    operators/alpha_shape.py op-for-op.

    ``points_sql``: override the member-points source with any SQL
    yielding (component, x, y) — used by the degeneracy tests to run
    this exact production oracle over a constructed lattice."""
    # circumcircle of the vid-sorted triple (mirrors _circumcircle)
    circ = """
    SELECT p1.component, p1.vid AS i, p2.vid AS j, p3.vid AS k,
           p1.x AS ax, p1.y AS ay, p2.x AS bx, p2.y AS by,
           p3.x AS cx, p3.y AS cy,
           2.0 * (p1.x * (p2.y - p3.y) + p2.x * (p3.y - p1.y)
                  + p3.x * (p1.y - p2.y)) AS d
    FROM upts p1
    JOIN upts p2 ON p2.component = p1.component AND p2.vid > p1.vid
    JOIN upts p3 ON p3.component = p1.component AND p3.vid > p2.vid
    JOIN usize s ON s.component = p1.component AND s.n_uniq >= 4
    """
    prelude = (
        f"{_CC_BASE3},\n"
        "memb AS MATERIALIZED (SELECT component, x, y FROM assign3)"
        if points_sql is None
        else f"memb AS MATERIALIZED ({points_sql})"
    )
    return f"""
WITH RECURSIVE {prelude},
csize AS (SELECT component, COUNT(*) AS n_rows FROM memb GROUP BY component),
upts AS MATERIALIZED (
  SELECT component, x, y,
         row_number() OVER (PARTITION BY component ORDER BY x, y) - 1 AS vid
  FROM (SELECT DISTINCT component, x, y FROM memb)
),
usize AS (SELECT component, COUNT(*) AS n_uniq FROM upts GROUP BY component),
tcand AS (
  SELECT component, i, j, k, ux, uy,
         (ax - ux) * (ax - ux) + (ay - uy) * (ay - uy) AS r2
  FROM (
    SELECT *,
      ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
       + (cx * cx + cy * cy) * (ay - by)) / d AS ux,
      ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
       + (cx * cx + cy * cy) * (bx - ax)) / d AS uy
    FROM ({circ}) WHERE abs(d) >= 1e-12
  )
),
tris AS MATERIALIZED (
  SELECT component, i, j, k,
         (i * 1048576 + j) * 1048576 + k AS tid
  FROM tcand t
  WHERE t.r2 < (1.0 / 0.3) * (1.0 / 0.3)
    AND NOT EXISTS (
      SELECT 1 FROM upts q
      WHERE q.component = t.component
        AND q.vid != t.i AND q.vid != t.j AND q.vid != t.k
        AND (q.x - t.ux) * (q.x - t.ux)
            + (q.y - t.uy) * (q.y - t.uy) < t.r2
    )
),
cocirc AS MATERIALIZED (
  -- exactly-cocircular degeneracy probe, mirroring the engine's bail
  -- (operators/alpha_shape.py delaunay_triangles): the engine raises
  -- when a point being INSERTED (lex = vid order, np.unique) lies
  -- exactly on the sorted-vertex circumcircle of an alpha-small
  -- triangle ALIVE in the partial triangulation. SQL equivalent: an
  -- on-circle point q AFTER the triple in vid order (q.vid > t.k),
  -- with no earlier point strictly inside the circumcircle (the
  -- triple survives until q inserts). Without the two order
  -- conditions the probe fires on dead/non-Delaunay triples the
  -- engine never tests and the two sides diverge (round-4 review
  -- repro). Both sides then route the component to the sentinel row.
  -- Measure-zero on jittered data.
  SELECT DISTINCT t.component
  FROM tcand t
  JOIN upts q
    ON q.component = t.component
   AND q.vid > t.k
   AND (q.x - t.ux) * (q.x - t.ux)
       + (q.y - t.uy) * (q.y - t.uy) = t.r2
  WHERE t.r2 < (1.0 / 0.3) * (1.0 / 0.3)
    AND NOT EXISTS (
      SELECT 1 FROM upts w
      WHERE w.component = t.component
        AND w.vid < q.vid
        AND w.vid != t.i AND w.vid != t.j AND w.vid != t.k
        AND (w.x - t.ux) * (w.x - t.ux)
            + (w.y - t.uy) * (w.y - t.uy) < t.r2
    )
),
tedges AS MATERIALIZED (
  SELECT component, tid, i AS va, j AS vb FROM tris
  UNION ALL SELECT component, tid, j, k FROM tris
  UNION ALL SELECT component, tid, i, k FROM tris
),
bedges AS MATERIALIZED (
  SELECT component, va, vb, MIN(tid) AS btid,
         va * 1048576 + vb AS ekey
  FROM tedges GROUP BY component, va, vb HAVING COUNT(*) = 1
),
bverts AS (
  SELECT DISTINCT component, va AS v FROM bedges
  UNION SELECT DISTINCT component, vb FROM bedges
),
evt AS MATERIALIZED (
  SELECT e.component, e.va AS v, e.vb AS other, e.tid
  FROM tedges e JOIN bverts w ON w.component = e.component AND w.v = e.va
  UNION ALL
  SELECT e.component, e.vb, e.va, e.tid
  FROM tedges e JOIN bverts w ON w.component = e.component AND w.v = e.vb
),
tadj AS MATERIALIZED (
  SELECT a.component, a.v, a.tid AS src, b.tid AS dst
  FROM evt a JOIN evt b
    ON a.component = b.component AND a.v = b.v AND a.other = b.other
   AND a.tid != b.tid
),
freach(component, v, src, node) AS (
  SELECT DISTINCT component, v, tid, tid FROM evt
  UNION
  SELECT r.component, r.v, r.src, e.dst
  FROM freach r JOIN tadj e
    ON e.component = r.component AND e.v = r.v AND e.src = r.node
),
fan AS (
  SELECT component, v, src AS tid, MIN(node) AS fid
  FROM freach GROUP BY component, v, src
),
bev AS (
  SELECT b.component, b.va AS v, b.ekey, f.fid
  FROM bedges b JOIN fan f
    ON f.component = b.component AND f.v = b.va AND f.tid = b.btid
  UNION ALL
  SELECT b.component, b.vb, b.ekey, f.fid
  FROM bedges b JOIN fan f
    ON f.component = b.component AND f.v = b.vb AND f.tid = b.btid
),
badfan AS MATERIALIZED (
  -- degenerate-triangulation guard mirroring the engine bail
  -- (operators/alpha_shape.py _boundary_loops: a fan with != 2
  -- boundary edges → whole component falls to the sentinel row).
  -- Without this the MIN/MAX pairing below would silently drop the
  -- middle edges of a >2-edge fan and diverge from the engine on
  -- degenerate (e.g. cocircular/lattice) inputs.
  SELECT DISTINCT component FROM (
    SELECT component, v, fid, COUNT(*) AS ne
    FROM bev GROUP BY component, v, fid
  ) WHERE ne != 2
  UNION SELECT component FROM cocirc
),
prs AS MATERIALIZED (
  SELECT component, v, MIN(ekey) AS e1, MAX(ekey) AS e2
  FROM bev
  WHERE component NOT IN (SELECT component FROM badfan)
  GROUP BY component, v, fid
),
psucc AS MATERIALIZED (
  SELECT component,
    CASE WHEN e1 // 1048576 = v THEN e1 % 1048576
         ELSE e1 // 1048576 END AS a,
    v AS b,
    CASE WHEN e2 // 1048576 = v THEN e2 % 1048576
         ELSE e2 // 1048576 END AS c
  FROM prs
  UNION ALL
  SELECT component,
    CASE WHEN e2 // 1048576 = v THEN e2 % 1048576
         ELSE e2 // 1048576 END,
    v,
    CASE WHEN e1 // 1048576 = v THEN e1 % 1048576
         ELSE e1 // 1048576 END
  FROM prs
),
elink AS (SELECT component, e1 AS src, e2 AS dst FROM prs
          UNION ALL SELECT component, e2, e1 FROM prs),
lreach(component, src, node) AS (
  SELECT component, ekey, ekey FROM bedges
  UNION
  SELECT r.component, r.src, l.dst
  FROM lreach r JOIN elink l
    ON l.component = r.component AND l.src = r.node
),
loopid AS (
  SELECT component, src AS ekey, MIN(node) AS lid
  FROM lreach GROUP BY component, src
),
walk(component, lid, step, a, b) AS (
  SELECT component, lid, 0, lid // 1048576, lid % 1048576
  FROM (SELECT DISTINCT component, lid FROM loopid)
  UNION ALL
  SELECT w.component, w.lid, w.step + 1, w.b, s.c
  FROM walk w JOIN psucc s
    ON s.component = w.component AND s.a = w.a AND s.b = w.b
  WHERE NOT (w.b = w.lid // 1048576 AND s.c = w.lid % 1048576)
),
wseg AS MATERIALIZED (
  SELECT w.component, w.lid, w.step, w.a,
         pa.x AS x1, pa.y AS y1, pb.x AS x2, pb.y AS y2
  FROM walk w
  JOIN upts pa ON pa.component = w.component AND pa.vid = w.a
  JOIN upts pb ON pb.component = w.component AND pb.vid = w.b
),
larea AS MATERIALIZED (
  SELECT component, lid, COUNT(*) AS n_verts, MIN(a) AS tvid,
         abs(list_reduce(list(x1 * y2 - x2 * y1 ORDER BY step),
                         (x, y) -> x + y)) / 2.0 AS area
  FROM wseg GROUP BY component, lid
),
lpair AS MATERIALIZED (
  -- probe vertex per (outer, inner) pair: inner's min vertex NOT on
  -- the outer loop (pinch-sharing loops would otherwise probe a point
  -- ON the outer boundary); fallback = inner's plain min vertex —
  -- identical choice to the engine
  SELECT i.component, i.lid AS outer_lid, j.lid AS inner_lid,
         COALESCE(
           (SELECT MIN(wj.a) FROM wseg wj
             WHERE wj.component = j.component AND wj.lid = j.lid
               AND wj.a NOT IN (SELECT wi.a FROM wseg wi
                                WHERE wi.component = i.component
                                  AND wi.lid = i.lid)),
           j.tvid) AS tv
  FROM larea i JOIN larea j
    ON j.component = i.component AND j.lid != i.lid
),
lcont AS MATERIALIZED (
  SELECT s.component, s.lid AS outer_lid, p.inner_lid,
         (SUM(CASE WHEN (s.y1 > q.y) != (s.y2 > q.y)
                    AND q.x < (s.x2 - s.x1) * (q.y - s.y1)
                              / (s.y2 - s.y1) + s.x1
              THEN 1 ELSE 0 END) % 2 = 1) AS contained
  FROM lpair p
  JOIN upts q ON q.component = p.component AND q.vid = p.tv
  JOIN wseg s ON s.component = p.component AND s.lid = p.outer_lid
  GROUP BY s.component, s.lid, p.inner_lid
),
ldepth AS (
  SELECT j.component, j.lid,
         COALESCE(SUM(CASE WHEN c.contained THEN 1 ELSE 0 END), 0) AS depth
  FROM larea j LEFT JOIN lcont c
    ON c.component = j.component AND c.inner_lid = j.lid
  GROUP BY j.component, j.lid
),
onet AS (
  SELECT o.component, o.lid, o.n_verts,
         round(list_reduce(
           list_prepend(o.area,
             COALESCE(list(k.area ORDER BY k.lid)
                        FILTER (WHERE k.lid IS NOT NULL), [])),
           (x, y) -> x - y), 6) AS area,
         COUNT(k.lid) AS n_holes
  FROM (
    SELECT a.* FROM larea a JOIN ldepth d
      ON d.component = a.component AND d.lid = a.lid AND d.depth = 0
  ) o
  LEFT JOIN (
    SELECT c.component, c.outer_lid, a.lid, a.area
    FROM lcont c
    JOIN ldepth d ON d.component = c.component AND d.lid = c.inner_lid
                  AND d.depth = 1
    JOIN larea a ON a.component = c.component AND a.lid = c.inner_lid
    WHERE c.contained
  ) k ON k.component = o.component AND k.outer_lid = o.lid
  GROUP BY o.component, o.lid, o.n_verts, o.area
),
fin AS (
  SELECT component, poly_idx, n_vertices, area, n_holes,
         (row_number() OVER (PARTITION BY component
                             ORDER BY area DESC, poly_idx) = 1) AS is_largest
  FROM (
    SELECT component,
           CAST(row_number() OVER (PARTITION BY component ORDER BY lid) - 1
                AS INTEGER) AS poly_idx,
           CAST(n_verts AS INTEGER) AS n_vertices,
           area, CAST(n_holes AS INTEGER) AS n_holes
    FROM onet
    WHERE component NOT IN (SELECT component FROM badfan)
  )
)
SELECT component, poly_idx, n_vertices, area, n_holes, is_largest FROM fin
UNION ALL
SELECT c.component, -1, CAST(c.n_rows AS INTEGER), 0.0, 0, FALSE
FROM csize c LEFT JOIN (SELECT DISTINCT component FROM fin) f
  ON f.component = c.component
WHERE f.component IS NULL
"""


@register("cluster_alpha_shape", _alpha_shape_sql())
def q_cluster_alpha_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concave hull (alpha shape) per ground component with hole
    nesting and the biggest-polygon argmax (reference
    alpha_shape_utils.py:11-202: Delaunay → circumradius filter →
    boundary loops split at pinch vertices → outers minus direct
    holes): scipy-free Bowyer–Watson Delaunay, deterministic
    fan-pairing walk — one grouped-map per component. Oracle-exact vs
    the brute-force empty-circumcircle SQL; geometry additionally
    validated on notched-grid and annulus fixtures in
    tests/test_alpha_shape.py."""
    from .operators.alpha_shape import cluster_alpha_shape

    return cluster_alpha_shape(
        _ground_with_comp(spark, sf_dir, grid=_DIM_GRID), alpha=0.3
    )


def _sh_pass_sql(src: str, dst: str, cin: str, nin: str,
                 cutx: str, cuty: str) -> str:
    """One Sutherland–Hodgman half-plane pass: emit (cur if inside,
    then crossing intersection) per edge, re-indexed by (i, slot) —
    mirrors operators/geometry._sh_clip_seq exactly."""
    return f"""
{dst}_e AS (
  SELECT component, rid, rx0, ry0, rx1, ry1, idx AS i, x, y,
         COALESCE(lead(x) OVER {dst}_w, first_value(x) OVER {dst}_wf) AS nx,
         COALESCE(lead(y) OVER {dst}_w, first_value(y) OVER {dst}_wf) AS ny
  FROM {src}
  WINDOW {dst}_w AS (PARTITION BY component, rid ORDER BY idx),
         {dst}_wf AS (PARTITION BY component, rid ORDER BY idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
{dst} AS (
  SELECT component, rid, rx0, ry0, rx1, ry1,
         row_number() OVER (PARTITION BY component, rid
                            ORDER BY i, slot) AS idx,
         vx AS x, vy AS y
  FROM (
    SELECT component, rid, rx0, ry0, rx1, ry1, i, 0 AS slot,
           x AS vx, y AS vy
    FROM {dst}_e WHERE {cin}
    UNION ALL
    SELECT component, rid, rx0, ry0, rx1, ry1, i, 1 AS slot,
           {cutx} AS vx, {cuty} AS vy
    FROM {dst}_e WHERE ({cin}) != ({nin})
  )
)"""


def _car_mbr_sql() -> str:
    """car_fuser_mbr oracle: exact-pair MBR corners → 4-pass S-H clip
    vs each road strip → ordered-fold shoelace areas → rid-ordered road
    accumulation. Every double op mirrors mbr_road_overlap_exact, so
    raw doubles compare bit-exact."""
    corner_xy = (
        "(CAST(x0 AS DOUBLE) + CAST(d * ex + c * ey AS DOUBLE)"
        " / CAST(e2 AS DOUBLE)) / 1000.0",
        "(CAST(y0 AS DOUBLE) + CAST(d * ey - c * ex AS DOUBLE)"
        " / CAST(e2 AS DOUBLE)) / 1000.0",
    )
    corners_union = "\n  UNION ALL\n".join(
        f"  SELECT component, x0, y0, ex, ey, e2,"
        f" {k} AS idx, {d} AS d, {c} AS c FROM cf_best"
        for k, (d, c) in enumerate(
            [("dmin", "cmin"), ("dmax", "cmin"),
             ("dmax", "cmax"), ("dmin", "cmax")]
        )
    )
    passes = (
        _sh_pass_sql("cf_v0", "cf_v1", "x >= rx0", "nx >= rx0",
                     "rx0", "y + ((rx0 - x) / (nx - x)) * (ny - y)")
        + ","
        + _sh_pass_sql("cf_v1", "cf_v2", "x <= rx1", "nx <= rx1",
                       "rx1", "y + ((rx1 - x) / (nx - x)) * (ny - y)")
        + ","
        + _sh_pass_sql("cf_v2", "cf_v3", "y >= ry0", "ny >= ry0",
                       "x + ((ry0 - y) / (ny - y)) * (nx - x)", "ry0")
        + ","
        + _sh_pass_sql("cf_v3", "cf_v4", "y <= ry1", "ny <= ry1",
                       "x + ((ry1 - y) / (ny - y)) * (nx - x)", "ry1")
    )
    return f"""
WITH RECURSIVE {_CC_BASE3},
stats AS ({cluster_stats_sql('assign3').strip()}),
cf_dims AS (
  SELECT component, n_points FROM stats
  WHERE n_points >= 3 AND x_max - x_min <= 20.0 AND y_max - y_min <= 20.0
),
cf_members AS MATERIALIZED (
  SELECT a.component,
         CAST(round(a.x * 1000.0) AS BIGINT) AS xm,
         CAST(round(a.y * 1000.0) AS BIGINT) AS ym
  FROM assign3 a JOIN cf_dims d ON d.component = a.component
),
cf_pts AS (SELECT DISTINCT component, xm, ym FROM cf_members),
cf_min AS (
  SELECT component, MIN(xm) AS x0, MIN(ym) AS y0
  FROM cf_pts GROUP BY component
),
cf_q AS (
  SELECT p.component, p.xm - m.x0 AS qx, p.ym - m.y0 AS qy
  FROM cf_pts p JOIN cf_min m ON m.component = p.component
),
cf_rng AS (
  SELECT c.component, c.px, c.py, c.qx2, c.qy2, c.ex, c.ey,
         c.ex * c.ex + c.ey * c.ey AS e2,
         MAX(u.qx * c.ex + u.qy * c.ey) AS dmax,
         MIN(u.qx * c.ex + u.qy * c.ey) AS dmin,
         MAX(u.qx * c.ey - u.qy * c.ex) AS cmax,
         MIN(u.qx * c.ey - u.qy * c.ex) AS cmin
  FROM (
    SELECT a.component, a.qx AS px, a.qy AS py, b.qx AS qx2, b.qy AS qy2,
           b.qx - a.qx AS ex, b.qy - a.qy AS ey
    FROM cf_q a JOIN cf_q b
      ON a.component = b.component AND (a.qx, a.qy) < (b.qx, b.qy)
  ) c JOIN cf_q u ON u.component = c.component
  GROUP BY c.component, c.px, c.py, c.qx2, c.qy2, c.ex, c.ey
  -- side-consistency (see cluster_mbr oracle): mirrors the engine's
  -- boundary-pair search
  HAVING MIN(u.qx * c.ey - u.qy * c.ex) = c.px * c.ey - c.py * c.ex
      OR MAX(u.qx * c.ey - u.qy * c.ex) = c.px * c.ey - c.py * c.ex
),
cf_best AS MATERIALIZED (
  SELECT r.*, m.x0, m.y0 FROM (
    SELECT *, row_number() OVER (
             PARTITION BY component
             ORDER BY CAST(dmax - dmin AS DOUBLE)
                        * CAST(cmax - cmin AS DOUBLE)
                        / CAST(e2 AS DOUBLE),
                      px, py, qx2, qy2) AS rn
    FROM cf_rng
  ) r JOIN cf_min m ON m.component = r.component
  WHERE rn = 1
),
cf_corners AS MATERIALIZED (
  SELECT component, idx, {corner_xy[0]} AS x, {corner_xy[1]} AS y
  FROM (
{corners_union}
  )
),
cf_area AS (
  SELECT component,
         abs(list_reduce(list(term ORDER BY idx), (a, b) -> a + b))
           / 2.0 AS mbr_area
  FROM (
    SELECT component, idx, x * ny - nx * y AS term
    FROM (
      SELECT component, idx, x, y,
             COALESCE(lead(x) OVER ca_w, first_value(x) OVER ca_wf) AS nx,
             COALESCE(lead(y) OVER ca_w, first_value(y) OVER ca_wf) AS ny
      FROM cf_corners
      WINDOW ca_w AS (PARTITION BY component ORDER BY idx),
             ca_wf AS (PARTITION BY component ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)
    )
  ) GROUP BY component
),
cf_v0 AS (
  SELECT c.component, r.rid, r.rx0, r.ry0, r.rx1, r.ry1,
         c.idx, c.x, c.y
  FROM cf_corners c CROSS JOIN {road_strips_values_sql()}
),
{passes.strip()},
cf_clip AS (
  SELECT component, rid,
         abs(list_reduce(list(term ORDER BY idx), (a, b) -> a + b))
           / 2.0 AS clip_area
  FROM (
    SELECT component, rid, idx, x * ny - nx * y AS term,
           COUNT(*) OVER (PARTITION BY component, rid) AS cnt
    FROM (
      SELECT component, rid, idx, x, y,
             COALESCE(lead(x) OVER cc_w, first_value(x) OVER cc_wf) AS nx,
             COALESCE(lead(y) OVER cc_w, first_value(y) OVER cc_wf) AS ny
      FROM cf_v4
      WINDOW cc_w AS (PARTITION BY component, rid ORDER BY idx),
             cc_wf AS (PARTITION BY component, rid ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)
    )
  ) WHERE cnt >= 3 GROUP BY component, rid
),
cf_road AS (
  SELECT component,
         list_reduce(list(clip_area ORDER BY rid), (a, b) -> a + b) AS road
  FROM cf_clip GROUP BY component
)
SELECT d.component, d.n_points, a.mbr_area,
       COALESCE(r.road, 0.0) / a.mbr_area * 100.0 AS road_pct,
       40 AS label
FROM cf_dims d
JOIN cf_area a ON a.component = d.component
LEFT JOIN cf_road r ON r.component = d.component
WHERE a.mbr_area > 0
  AND COALESCE(r.road, 0.0) / a.mbr_area * 100.0 > 20.0
"""


@register("car_fuser_mbr", _car_mbr_sql())
def q_car_fuser_mbr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CarFuser with the TRUE rotated minimum bounding rectangle
    (reference car_fuser.py:76-85): per dimension-window cluster, the
    exact-pair MBR is clipped against each road strip
    (Sutherland–Hodgman + shoelace — exact convex∩rect areas) and
    clusters with > 20 % road overlap get the CAR label. Engine =
    mbr_road_overlap_exact (sequential double ops mirroring the
    oracle's ordered list folds)."""
    from .operators.geometry import mbr_road_overlap_exact
    from .sources.layers import road_strips

    stats = cluster_stats(_ground_with_comp(spark, sf_dir, grid=_DIM_GRID))
    ext_x = F.col("x_max") - F.col("x_min")
    ext_y = F.col("y_max") - F.col("y_min")
    dims = stats.filter(
        (F.col("n_points") >= 3) & (ext_x <= 20.0) & (ext_y <= 20.0)
    ).select("component")
    members = _ground_with_comp(spark, sf_dir, grid=_DIM_GRID).join(
        F.broadcast(dims), "component"
    )
    overlap = mbr_road_overlap_exact(members, road_strips())
    return overlap.filter(F.col("road_pct") > 20.0).select(
        "component", "n_points", "mbr_area", "road_pct",
        F.lit(40).alias("label"),
    )


# ----------------------------------------------------------------------
# Frame-spec window stencil (reference _compute_saggign_angle,
# cable_fuser.py:565-574: value at i compares z[i−d] and z[i+d])
# ----------------------------------------------------------------------


@register(
    "stencil_lag_lead",
    """
SELECT event_id,
       lag(value, 2) OVER w AS lag2,
       lead(value, 2) OVER w AS lead2,
       lead(value, 2) OVER w - lag(value, 2) OVER w AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_stencil_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead(d=2) stencil per user ordered by (ts, event_id) — the
    sagging-angle frame-spec window re-expressed over events."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag2, lead2 = F.lag("value", 2).over(w), F.lead("value", 2).over(w)
    return ev.select(
        "event_id",
        lag2.alias("lag2"),
        lead2.alias("lead2"),
        (lead2 - lag2).alias("delta"),
    )


# ----------------------------------------------------------------------
# Training-data pipeline: multimodal binary plumbing
# ----------------------------------------------------------------------


@register("media_features", M.media_features_sql(24))
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary
    payloads (byte-level features; see image_decode for real pixels)."""
    return M.media_features(M.synth_media(_docs(spark, sf_dir)), 24)


@register("image_decode", M.image_decode_sql())
def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode end-to-end: each document gets a deterministic
    VALID binary P6 PPM payload (built executor-side), which the
    pure-NumPy decoder parses back to pixels; per-channel exact pixel
    means come out floor-e6 quantized. The oracle reproduces the means
    in closed form from the raster formula — so header parsing, raster
    layout, channel de-interleave and the Arrow round trip are all
    under the bit-exact gate. Compressed codecs stay stubbed
    (operators/multimodal.py:decode_image)."""
    return M.image_decode_features(
        M.synth_ppm_media(_docs(spark, sf_dir))
    )


# ----------------------------------------------------------------------
# The canonical 15-stage pipeline (reference notebooks/0. Complete
# solution process_sequence + pipeline.py:88-95 masked fold) — the
# product's acceptance artifact, as one first-writer-wins query.
# ----------------------------------------------------------------------

from .plans.full_pipeline import full_pipeline_labels, full_pipeline_sql  # noqa: E402


@register("pipeline_full", full_pipeline_sql())
def q_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page label after the full 15-stage notebook chain: ground
    (+refine) → road → noise → building → cable → car → tree/light/sign
    poles → rubbish-bin/city-bench furniture → the four LayerLCC
    growers, each stage detecting on the still-unlabelled subset."""
    return full_pipeline_labels(spark, sf_dir)


@register(
    "pipeline_full_hist",
    full_pipeline_sql(
        "SELECT label, COUNT(*) AS n_points FROM l15 GROUP BY label"
    ),
)
def q_pipeline_full_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acceptance artifact itself: the end-to-end label histogram
    (reference analysis_tools.get_label_stats over the finished tile)."""
    return (
        full_pipeline_labels(spark, sf_dir)
        .groupBy("label")
        .agg(F.count("*").alias("n_points"))
    )


# ----------------------------------------------------------------------
# Registry emission order.
#
# The round driver's correctness gate snapshots only the FIRST 50
# entries of queries() (registration-order cap), so with more
# registered queries than slots the emission order decides which get an official driver row
# this round.  The order is DATA-DRIVEN: queries are sorted by the
# latest round in which the committed CORRECTNESS_r*.json artifacts
# show them fully green (never-certified first), so each round the
# 50-slot window automatically covers the queries whose official
# record is most stale — over two consecutive rounds every query gets
# a fresh driver row.  Ties (same last-green round) keep registration
# order.  Deterministic within a round: the artifacts are committed
# files.
# ----------------------------------------------------------------------


def _certified_rounds(root: str | None = None) -> dict[str, int]:
    """query name → latest round whose committed CORRECTNESS_r*.json
    records it fully green (rows+schema match, no error, and hash
    match when a value-hash was taken). ``root`` overrides the repo
    root (tests)."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            green = (
                isinstance(row, dict)
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if green:
                out[name] = max(out.get(name, -1), rnd)
    return out


def _rotated(d: dict, root: str | None = None) -> dict:
    cert = _certified_rounds(root)
    # stalest official record first; the sort is stable, so ties keep
    # registration order
    return {n: d[n] for n in sorted(d, key=lambda n: cert.get(n, -1))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotated(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _rotated(ORACLES)
