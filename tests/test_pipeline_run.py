"""``Pipeline.run`` without a checkpoint directory: each stage boundary
is a localCheckpoint whose job also observes the stage's claimed-row
count, so a stage costs one Spark job and no separate count."""

from __future__ import annotations

from urban_pointcloud_processing_spark.labels import Labels
from urban_pointcloud_processing_spark.operators.fusers import (
    BelowGroundNoiseFilter,
    GroundSurfaceFuser,
    RasterEnricher,
)
from urban_pointcloud_processing_spark.plans.pipeline import Pipeline
from urban_pointcloud_processing_spark.sources.pages import pages_from_orders
from urban_pointcloud_processing_spark.sources.raster import raster_df


def test_run_submits_one_job_per_stage(spark, sf_dir):
    sc = spark.sparkContext
    pages = RasterEnricher(raster_df(spark))(
        pages_from_orders(spark, sf_dir)
    ).localCheckpoint()

    group = "test-pipeline-run-jobs"
    pipe = Pipeline([GroundSurfaceFuser(), BelowGroundNoiseFilter()])
    sc.setJobGroup(group, group)
    try:
        out = pipe.run(pages)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == len(pipe.processors), sorted(jobs)

    counts = {
        r["label"]: r["count"] for r in out.groupBy("label").count().collect()
    }
    assert [(m.name, m.rows_claimed) for m in pipe.metrics] == [
        ("ground_surface", counts.get(int(Labels.GROUND), 0)),
        ("noise_below_ground", counts.get(int(Labels.NOISE), 0)),
    ]
    assert counts.get(int(Labels.GROUND), 0) > 0


def test_stage_table_metrics_match_in_session_run(spark, sf_dir, tmp_path):
    """With ``checkpoint_dir`` the claimed counts are observed while the
    stage tables are written; they equal the in-session run's."""
    pages = RasterEnricher(raster_df(spark))(
        pages_from_orders(spark, sf_dir)
    )
    procs = [GroundSurfaceFuser(), BelowGroundNoiseFilter()]
    mem = Pipeline(procs)
    mem.run(pages)
    disk = Pipeline(procs, checkpoint_dir=str(tmp_path))
    disk.run(pages)
    claimed = [(m.name, m.rows_claimed) for m in mem.metrics]
    assert [(m.name, m.rows_claimed) for m in disk.metrics] == claimed
    assert claimed[0][1] > 0
