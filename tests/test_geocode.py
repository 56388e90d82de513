"""geocode's Spark columns against its DuckDB SQL, including ids whose
raw product with the multipliers would overflow a 64-bit integer."""

from __future__ import annotations

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

from urban_pointcloud_processing_spark.geocode import geocode, x_sql, y_sql, z_sql

IDS = [0, 1, 7, 2_799_999_999, 3_000_000_000, 4_000_000_000_000_000_000,
       -1, -3_000_000_000, -4_000_000_000_000_000_000]


def test_geocode_engines_agree_beyond_the_old_overflow(spark):
    df = spark.createDataFrame([(i,) for i in IDS], "page_id long")
    got = sorted(tuple(r) for r in geocode(df).select("page_id", "x", "y", "z").collect())
    pages = pa.table({"page_id": pa.array(IDS, pa.int64())})  # noqa: F841
    want = sorted(duckdb.sql(
        f"SELECT page_id, {x_sql('page_id')}, {y_sql('page_id')}, "
        f"{z_sql('page_id')} FROM pages"
    ).fetchall())
    assert got == want
    # below the old bound the reduction changes nothing
    old = df.select(
        "page_id",
        (F.lit(119250.0) + (F.col("page_id") * 2654435761) % 150000 / 1000.0).alias("x"),
    ).filter(F.abs("page_id") < 2_800_000_000)
    assert sorted(map(tuple, old.collect())) == sorted(
        (i, x) for i, x, _, _ in got if abs(i) < 2_800_000_000
    )
