"""Plan-shape regression gates.

Spark does not hoist non-lambda subexpressions out of LambdaFunction
bodies, so a gram-construction lambda referencing an INLINE
tokenizer re-runs the regex split once per gram element — O(k·L²)
per document (round-5 review finding; >100× on 2k-token docs). The
fix binds the token array in its own projection; these tests pin the
optimized plans so the quadratic pattern cannot be reintroduced: the
tokenizer split must appear a small constant number of times (once
per plan branch), never once per F.get reference.

The flagship gate keeps the Python boundary out of the label_histogram
plan, so it cannot come back unnoticed.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _split_count(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan.count("split(")


def test_shingle_table_tokenizes_once(spark):
    """Round 6: shingle construction moved into one vectorized Arrow
    UDF (text crosses the boundary once per doc, explode ships longs).
    The JVM tokenizer must no longer appear at all, and the plan must
    contain exactly one Python evaluation node."""
    from urban_pointcloud_processing_spark.operators.dedup import (
        shingle_table,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = shingle_table(docs, 3)
    n = _split_count(df)
    assert n == 0, f"shingle_table plan evaluates split() {n}×, want 0"
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("ArrowEvalPython") == 1, phys


def test_span_dedup_tokenizes_once_per_branch(spark):
    from urban_pointcloud_processing_spark.operators.dedup import span_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # the gram table feeds both the frequency gate and the flagged
    # join (a self-join), so the tokenizer appears once per branch
    n = _split_count(span_dedup(docs, 8))
    assert n <= 2, f"span_dedup plan evaluates split() {n}×, want ≤2"


def test_repetition_query_tokenizes_once(spark):
    from urban_pointcloud_processing_spark.queries import QUERIES

    n = _split_count(QUERIES["repetition_ngrams"](spark, SF))
    # n_grams/ndist/dup_frac all reference the one bound token column;
    # token_count_expr contributes the only other split reference
    assert n <= 2, f"repetition plan evaluates split() {n}×, want ≤2"


_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    return len(re.findall(r"(?<!Broadcast)Exchange ", plan))


def _nodes(plan) -> list:
    """Every node of a JVM physical plan, AQE's current plan included."""
    out, todo = [], [plan]
    while todo:
        p = todo.pop()
        out.append(p)
        if p.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _name(node) -> str:
    return node.getClass().getSimpleName()


def test_flagship_joins_the_raster_on_one_bigint_key(spark):
    """Two broadcast hash joins (raster cells, PIP cells); the raster one
    (its build side scans the generated cell range) probes one packed
    BIGINT key per point, not a (gx, gy) pair."""
    from urban_pointcloud_processing_spark.queries import QUERIES

    df = QUERIES["label_histogram"](spark, SF)
    assert _physical(df).count("BroadcastHashJoin") == 2, _physical(df)
    joins = [n for n in _nodes(df._jdf.queryExecution().executedPlan())
             if _name(n) == "BroadcastHashJoinExec"]
    raster = [j for j in joins if any(_name(n) == "RangeExec" for n in _nodes(j.right()))]
    assert len(raster) == 1, [j.toString() for j in joins]
    for keys in (raster[0].leftKeys(), raster[0].rightKeys()):
        assert keys.size() == 1, raster[0].toString()
        assert keys.apply(0).dataType().simpleString() == "bigint"


def test_flagship_stays_in_the_jvm(spark):
    """The label_histogram flagship crosses no Python boundary, and its
    PIP flags add no shuffle: exactly one more broadcast hash join."""
    from urban_pointcloud_processing_spark.operators.fusers import (
        PipEnricher,
        RasterEnricher,
    )
    from urban_pointcloud_processing_spark.queries import QUERIES
    from urban_pointcloud_processing_spark.sources.layers import ROAD_TYPES
    from urban_pointcloud_processing_spark.sources.pages import pages_from_orders
    from urban_pointcloud_processing_spark.sources.raster import raster_df

    plan = _physical(QUERIES["label_histogram"](spark, SF))
    for node in _PYTHON_NODES:
        assert node not in plan, plan

    enriched = RasterEnricher(raster_df(spark))(pages_from_orders(spark, SF))
    flagged = PipEnricher(
        None, {"_in_road": list(ROAD_TYPES), "_in_building": ["pand"]}
    )(enriched)
    before, after = _physical(enriched), _physical(flagged)
    assert _shuffles(after) == _shuffles(before), after
    assert after.count("BroadcastHashJoin") == before.count("BroadcastHashJoin") + 1
