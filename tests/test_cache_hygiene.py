"""Session-hygiene gate for cached plans (VERDICT/ADVICE r04).

A ``df.cache()``/``persist()`` registers the plan in Spark's
CacheManager, where it stays pinned until an explicit ``unpersist()``
— in a long-lived session that reuses one SparkSession across many
registered queries, a forgotten cache leaks executor storage forever.
``localCheckpoint`` (the pattern the engine uses for shared
intermediates) never touches the CacheManager; its RDDs are released
by the ContextCleaner once the result is dereferenced.

This test runs the registered queries that historically used shared
caches (the shingle family, the capstone composite, region growing —
the LEAK_PRONE list below) and asserts the CacheManager is empty after
each one's result is consumed. It is a targeted gate over the known
cache-using call sites, not a whole-registry sweep (running all ~90
queries here would duplicate the driver's correctness pass).
"""

from __future__ import annotations

import pytest

from urban_pointcloud_processing_spark import queries as Q

SF_SMALL = "/root/testdata/sf0.001"

# queries whose lineage contained a shared .cache() before r05, plus
# the persist()-managed iterative operators — the leak-prone set
LEAK_PRONE = [
    "ngram_jaccard",
    "minhash_lsh",
    "dedup_clusters",
    "decontaminate",
    "boilerplate_shingles",
    "corpus_clean",
    "region_growing",
    "connected_components",
    # round-5 late operators that materialize shared intermediates via
    # localCheckpoint (must stay OUT of the CacheManager)
    "bloom_decontaminate",
    "cms_heavy_hitters",
    "domain_pagerank",
    # the fuser detectors shared with the 15-stage fold
    # (plans/full_pipeline.py), which localCheckpoint their inputs
    "pole_fuser",
    "street_furniture_fuser",
    "cable_fuser_labels",
    "ground_refine",
    "noise_filter",
    "car_fuser",
]


def _cache_manager_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


@pytest.mark.parametrize("name", LEAK_PRONE)
def test_no_cached_plan_survives_query(spark, name):
    assert _cache_manager_empty(spark), (
        "CacheManager dirty before query — another test leaked"
    )
    df = Q.QUERIES[name](spark, SF_SMALL)
    df.count()  # consume the result the way the driver does
    assert _cache_manager_empty(spark), (
        f"registered query {name!r} left a cached plan pinned in the "
        "CacheManager after its result was consumed"
    )
