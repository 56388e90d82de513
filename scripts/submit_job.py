"""spark-submit entry point: flagship labelling pipeline over N
synthetic pages (the --py-files deployment shape of the north rule).

The engine modules arrive via --py-files; this driver file only wires
the job together — identical plan to bench.py's flagship.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = SparkSession.builder.appName("upcp-flagship").getOrCreate()

    from urban_pointcloud_processing_spark.operators.fusers import (
        BelowGroundNoiseFilter,
        BuildingFuser,
        GroundSurfaceFuser,
        PipEnricher,
        RasterEnricher,
        RoadFuser,
    )
    from urban_pointcloud_processing_spark.plans.pipeline import Pipeline
    from urban_pointcloud_processing_spark.sources.layers import (
        ROAD_TYPES,
        polygon_edges_df,
    )
    from urban_pointcloud_processing_spark.sources.pages import synthetic_pages
    from urban_pointcloud_processing_spark.sources.raster import raster_df

    pages = synthetic_pages(spark, n_pages)
    edges = polygon_edges_df(spark)
    pipe = Pipeline(
        [
            GroundSurfaceFuser(epsilon=0.2),
            RoadFuser(edges.filter(F.col("bgt_type").isin(*ROAD_TYPES))),
            BelowGroundNoiseFilter(epsilon=0.2),
            BuildingFuser(edges.filter(F.col("bgt_type") == "pand"), ahn_eps=0.2),
        ]
    )
    enrich = PipEnricher(
        None, {"_in_road": list(ROAD_TYPES), "_in_building": ["pand"]}
    )
    def label_plan(src):
        labelled = pipe.run_fused(enrich(RasterEnricher(raster_df(spark))(src)))
        return labelled.groupBy("label").agg(F.count("*").alias("n")).orderBy(
            "label"
        )

    # warm-up on a SEPARATE small input (JIT + broadcast build) — the
    # same plan instance would let the timed run reuse its shuffle
    # files and skip the map stages entirely
    label_plan(synthetic_pages(spark, 100_000)).collect()
    t0 = time.perf_counter()
    rows = label_plan(pages).collect()
    t_job = time.perf_counter() - t0
    for row in rows:
        print(f"label={row['label']} n={row['n']}")
    print(
        f"t_job_sec={t_job:.3f} n_pages={n_pages} "
        f"pages_per_sec={int(n_pages / t_job)} loadavg={os.getloadavg()}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
