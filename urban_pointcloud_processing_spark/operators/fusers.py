"""Concrete fuser processors (the reference's canned query plans).

Each re-creates one reference fuser's semantics as a Pipeline stage
(SURVEY.md §2.10). Joins are broadcast (layers are dimension tables);
predicates are plain columns so the whole stage stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.pip import pip_flag, pip_flags
from ..labels import Labels
from ..plans.pipeline import Processor
from ..sources.layers import polygon_layer
from ..sources.raster import with_raster


class RasterEnricher:
    """Shared enrichment: attach ground_z / building_z once, early —
    the Spark analog of the reference's cached per-tile interpolator
    (src/upcp/utils/ahn_utils.py:59-102, primed in pipeline.py:84-86).
    Later stages reuse the columns instead of re-joining."""

    def __init__(self, raster: DataFrame, res: float = 1.0):
        self.raster = raster
        self.res = res

    def __call__(self, pages: DataFrame) -> DataFrame:
        if "ground_z" in pages.columns:
            return pages
        return with_raster(pages, self.raster, self.res)


class GroundSurfaceFuser(Processor):
    """AHNFuser ground: |z − ground_z| < ε (src/upcp/fusion/ahn_fuser.py:159)."""

    label = Labels.GROUND
    name = "ground_surface"

    def __init__(self, epsilon: float = 0.2):
        self.epsilon = epsilon

    def claim(self, df: DataFrame):
        return F.abs(F.col("z") - F.col("ground_z")) < F.lit(self.epsilon)


class PipEnricher:
    """Shared enrichment: compute every PIP flag the pipeline needs up
    front — the same compute-once-reuse-everywhere pattern as
    RasterEnricher. Fuser stages then find their flag column present.

    All missing flags come from the cell-index kernel (pip_flags) over
    the fixture polygon layer (sources/layers.polygon_layer()): one
    broadcast hash join against a plan-time cell table, then an exact
    crossing-number refine for points in cells an edge passes through.
    JVM only, no shuffle. ``flag_types`` maps flag column → bgt_type
    values.

    ``edges`` is NOT read. It stays in the signature only because the
    benchmark (benchmark/workloads.py) and bench.py construct
    ``PipEnricher(edges, flag_types)``; other callers pass None. A
    layer that exists only as an edge table is flagged by the fusers'
    own ``pip_flag`` edge join instead.
    """

    def __init__(self, edges: DataFrame | None, flag_types: dict[str, list[str]]):
        self.flag_types = flag_types

    def __call__(self, pages: DataFrame) -> DataFrame:
        missing = {
            f: ts for f, ts in self.flag_types.items() if f not in pages.columns
        }
        if not missing:
            return pages
        return pip_flags(pages, polygon_layer(), missing)


class _PipProcessor(Processor):
    """Base for PIP-driven fusers. If the flag column was pre-computed
    by PipEnricher the stage is a pure predicate; otherwise it runs its
    own single-layer PIP flag join."""

    flag = "_pip"

    def __init__(self, edges: DataFrame):
        self.edges = edges

    def enrich(self, df: DataFrame) -> DataFrame:
        if self.flag in df.columns:
            return df
        return pip_flag(df, self.edges, self.flag)

    def claim(self, df: DataFrame):
        return F.col(self.flag)

    def apply(self, df: DataFrame) -> DataFrame:
        return super().apply(df).drop(self.flag)


class BuildingFuser(_PipProcessor):
    """BGTBuildingFuser: PIP vs building polygons, optionally ANDed with
    z ≤ building_z + ε where the raster is finite
    (src/upcp/fusion/building_fuser.py:83-95)."""

    label = Labels.BUILDING
    name = "bgt_building"
    flag = "_in_building"

    def __init__(self, edges: DataFrame, ahn_eps: float | None = None):
        super().__init__(edges)
        self.ahn_eps = ahn_eps

    def claim(self, df: DataFrame):
        c = F.col(self.flag)
        if self.ahn_eps is not None:
            c = c & (
                F.col("building_z").isNull()
                | (F.col("z") <= F.col("building_z") + F.lit(self.ahn_eps))
            )
        return c


class RoadFuser(_PipProcessor):
    """BGTRoadFuser: relabels GROUND rows inside road polygons
    (src/upcp/fusion/road_fuser.py:81-87)."""

    label = Labels.ROAD
    target_label = Labels.GROUND
    name = "bgt_road"
    flag = "_in_road"


class BelowGroundNoiseFilter(Processor):
    """NoiseFilter's below-ground half: z − ground_z < −ε
    (src/upcp/fusion/noise_filter.py:72-74)."""

    label = Labels.NOISE
    name = "noise_below_ground"

    def __init__(self, epsilon: float = 0.2):
        self.epsilon = epsilon

    def claim(self, df: DataFrame):
        return F.col("z") - F.col("ground_z") < F.lit(-self.epsilon)
