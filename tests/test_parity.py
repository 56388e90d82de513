"""Oracle parity for every registered query — mirrors the driver's
CORRECTNESS gate (row-count + schema + order-insensitive values)."""

from __future__ import annotations

import pytest

from urban_pointcloud_processing_spark import queries as Q

from .parity import compare

NAMES = sorted(set(Q.queries()) & set(Q.oracle_sql()))


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, sf_dir, name):
    report = compare(spark, sf_dir, name, Q.queries()[name], Q.oracle_sql()[name])
    assert report.get("ok"), report


def test_pip_enricher_strategies_agree(spark, sf_dir):
    """PipEnricher's map-only Arrow kernel must give the same flags as
    the Catalyst edge join (pip_flag) on the fixture, for a road flag
    and a building flag computed in one pass."""
    from pyspark.sql import functions as F

    from urban_pointcloud_processing_spark.functions.pip import pip_flag
    from urban_pointcloud_processing_spark.operators.fusers import PipEnricher
    from urban_pointcloud_processing_spark.sources.layers import (
        ROAD_TYPES,
        polygon_edges_df,
    )
    from urban_pointcloud_processing_spark.sources.pages import (
        pages_from_orders,
    )

    pages = pages_from_orders(spark, sf_dir).select("page_id", "x", "y").limit(
        2000
    ).localCheckpoint(eager=True)
    edges = polygon_edges_df(spark)
    flag_types = {"_in_road": list(ROAD_TYPES), "_in_building": ["pand"]}
    enriched = PipEnricher(None, flag_types)(pages)
    for flag, types in flag_types.items():
        kernel = {
            r["page_id"]: r[flag]
            for r in enriched.select("page_id", flag).collect()
        }
        joined = pip_flag(pages, edges.filter(F.col("bgt_type").isin(*types)), flag)
        assert kernel == {
            r["page_id"]: r[flag] for r in joined.select("page_id", flag).collect()
        }, flag
        assert any(kernel.values()) and not all(kernel.values()), flag
