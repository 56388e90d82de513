"""Skew handling: one frequency sketch and one salting helper.

North-rule requirement (BASELINE.json): dense urban cells concentrate
Common-Crawl pages; AQE's skew-join split helps shuffle joins but NOT
hot partitions feeding grouped-map UDFs or per-tile writers. Every
skew-aware operator goes through the two functions here:

1. ``cell_frequency_sketch`` — ``groupBy(key).count()`` in one
   map-side-combined pass (SURVEY.md §4 item 1), kept for the keys
   above ``target_rows`` with a salt factor ``ceil(count / target)``;
2. ``salted`` — adds ``_salt`` to one side. On the side that spreads,
   a row of a hot key takes ``pmod(xxhash64(id), factor)``; on the
   other side of a join it is replicated over ``sequence(0, factor -
   1)``. Cold keys keep salt 0 and stay single-task.

Callers: the salted kNN cell join (``neighbors.knn_candidates_shuffle``),
the SimHash block self-join (``dedup.simhash_neardup``) and
``salted_repartition``. A join on (key, _salt) meets every pair of the
unsalted join exactly once, so salting changes the layout, never the
result (tests/test_skew.py). A sampled sketch would replace
``cell_frequency_sketch`` alone. For per-cell aggregates,
``salted_count`` shows the canonical two-stage partial→final pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cell_frequency_sketch(
    df: DataFrame, cell_cols: list[str], target_rows: int
) -> DataFrame:
    """(cell → salt_factor) for cells larger than target_rows. One
    map-side-combined pass; output is tiny (only hot cells) and is
    broadcast into the salting join."""
    return (
        df.groupBy(*cell_cols)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > target_rows)
        .select(
            *cell_cols,
            F.ceil(F.col("_n") / F.lit(target_rows)).cast("int").alias("_salt_factor"),
        )
    )


def salted(
    df: DataFrame, keys: list[str], hot: DataFrame, id_col: str | None = None
) -> DataFrame:
    """``df`` with a ``_salt`` column for a join or repartition on
    (keys..., _salt). ``hot`` is a ``cell_frequency_sketch`` (keys →
    _salt_factor). With ``id_col``, a row of a hot key takes salt
    ``pmod(xxhash64(id_col), factor)`` (the side that spreads); without,
    it is replicated once per salt in [0, factor) (the other side of a
    join). Rows of cold keys keep salt 0."""
    if id_col:
        salt = F.when(
            F.col("_salt_factor").isNotNull(),
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_salt_factor")).cast("int"),
        ).otherwise(F.lit(0))
    else:
        salt = F.explode(
            F.when(
                F.col("_salt_factor").isNotNull(),
                F.sequence(F.lit(0), F.col("_salt_factor") - F.lit(1)),
            ).otherwise(F.array(F.lit(0)))
        )
    return (
        df.join(F.broadcast(hot), keys, "left")
        .withColumn("_salt", salt)
        .drop("_salt_factor")
    )


def salted_repartition(
    df: DataFrame,
    cell_cols: list[str],
    target_rows: int = 1_000_000,
    id_col: str = "page_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Adaptive repartition on (cells..., salt): hot cells (> target_rows)
    split into ceil(n/target) salted sub-partitions; others keep salt 0."""
    hot = cell_frequency_sketch(df, cell_cols, target_rows)
    out = salted(df, cell_cols, hot, id_col)
    keys = [F.col(c) for c in cell_cols] + [F.col("_salt")]
    if num_partitions:
        return out.repartition(num_partitions, *keys)
    return out.repartition(*keys)


def salted_count(
    df: DataFrame, cell_cols: list[str], salt_mod: int = 16
) -> DataFrame:
    """Two-stage skew-safe count: partial per (cells, salt) then final
    per cells. (Spark's hash aggregate already map-side-combines counts;
    this is the explicit pattern for aggregates that don't, e.g.
    collect_list/exact-median over hot cells.)"""
    salted = df.withColumn(
        "_salt", F.pmod(F.spark_partition_id(), F.lit(salt_mod))
    )
    partial = salted.groupBy(*cell_cols, "_salt").agg(
        F.count("*").alias("_pn")
    )
    return partial.groupBy(*cell_cols).agg(F.sum("_pn").alias("n_rows"))
