"""Public API façade (SURVEY.md §7.4) — the reference's user surface
re-expressed over this engine's operators.

Reference mapping:

- ``Engine(spark)`` — entry point; owns the readers and builds
  pipelines (≙ the reference notebook set-up cells,
  notebooks/`0. Complete solution.ipynb`).
- readers: ``Engine.pages`` (tiled point/page scan ≙ las_utils read +
  tile assignment), ``Engine.raster`` (≙ AHNReader / ahn_utils.py:
  25-102), ``Engine.polygon_edges`` / ``Engine.point_layer`` /
  ``Engine.line_layer`` (≙ BGTPolyReader / BGTPointReader /
  BGTLineReader, bgt_utils.py:19-197).
- processors: ``full_pipeline_processors()`` and ``StageProcessor``
  (defined in ``plans.full_pipeline``, re-exported here) — the 15
  reference stages (fused families included) as ``Pipeline`` stages,
  plus the predicate processors in ``operators.fusers``
  (GroundSurfaceFuser, BuildingFuser, RoadFuser, …).
- ``Pipeline(processors).run(pages_df) -> labelled_df`` (≙
  src/upcp/pipeline.py:41-97) — the one stage runner. Every stage
  materialises (a localCheckpoint, or with ``checkpoint_dir`` a parquet
  stage table plus per-tile lineage that a rerun resumes from) and
  records its claimed-row count in ``Pipeline.metrics``. ``Labels``
  constants (≙ labels.py:3-99).

Example (mirrors the reference notebook chain)::

    from urban_pointcloud_processing_spark.api import Engine

    eng = Engine(spark)
    pages = eng.enriched_pages(sf_dir)          # raster z + PIP flags
    pipe = eng.pipeline(checkpoint_dir=None)     # all 15 stages
    labelled = pipe.run(pages)                   # (.., label)
    pipe.label_statistics(labelled).show()       # get_label_stats
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .labels import Labels
from .plans.full_pipeline import (
    StageProcessor,
    _base,
    full_pipeline_processors,
)
from .plans.pipeline import Pipeline, Processor
from .sources.layers import line_segments_df, point_layer_df, polygon_edges_df
from .sources.pages import pages_from_orders
from .sources.raster import raster_df


class Engine:
    """Entry point: readers + pipeline builder over one SparkSession."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # ---- readers (reference scrapers/readers → DataFrames) ----

    def pages(self, sf_dir: str) -> DataFrame:
        """Tiled page/point table (page_id, tile_x, tile_y, x, y, z, …)."""
        return pages_from_orders(self.spark, sf_dir)

    def raster(self) -> DataFrame:
        """Ground/building surface raster (≙ AHNReader)."""
        return raster_df(self.spark)

    def polygon_edges(self) -> DataFrame:
        """BGT polygon layer as edge rows (≙ BGTPolyReader)."""
        return polygon_edges_df(self.spark)

    def point_layer(self) -> DataFrame:
        """BGT point objects: trees, lamp posts, … (≙ BGTPointReader)."""
        return point_layer_df(self.spark)

    def line_layer(self) -> DataFrame:
        """BGT line layer: tram tracks (≙ BGTLineReader)."""
        return line_segments_df(self.spark)

    # ---- composition ----

    def enriched_pages(self, sf_dir: str) -> DataFrame:
        """Pages with raster z's + PIP flags + label=0 — the pipeline's
        input state (compute-once enrichment, pipeline.py:84-86)."""
        return _base(self.spark, sf_dir).withColumn("label", F.lit(0))

    def pipeline(
        self,
        processors: list[Processor] | None = None,
        checkpoint_dir: str | None = None,
        run_id: str = "run0",
    ) -> Pipeline:
        """A ready-to-run Pipeline; default = all 15 reference stages.
        With ``checkpoint_dir`` every stage persists to a parquet stage
        table + per-tile lineage and reruns resume mid-chain."""
        return Pipeline(
            processors if processors is not None else full_pipeline_processors(),
            checkpoint_dir=checkpoint_dir,
            run_id=run_id,
        )


__all__ = [
    "Engine",
    "Labels",
    "Pipeline",
    "StageProcessor",
    "full_pipeline_processors",
]
