"""Sequence packing (concat-and-chunk) for training-example assembly.

The standard GPT-style packing step of a training-data pipeline:
documents are concatenated in ``doc_id`` order into one token stream
and the stream is cut into fixed ``ctx``-token training examples.
Per document the operator reports its global token offset and which
chunks it lands in — the manifest a downstream example-writer needs
to materialize the packed examples.

The global offset is an EXCLUSIVE PREFIX SUM over a total order — the
textbook case where the naive Spark plan
(``sum() OVER (ORDER BY doc_id)`` with no partition) funnels the whole
corpus through ONE task.  This module implements the scalable two-pass
form instead (the same rank-selection pattern `lang_quantiles` uses,
VERDICT r04 item 1):

1. bucket documents by ``doc_id`` range (deterministic arithmetic on
   the ids, NOT ``spark_partition_id`` — bucket membership must be
   identical across the operator's independent scans);
2. one map-side-combined aggregate computes per-bucket token sums; the
   collected result is **n_buckets rows** (driver-bounded, like the
   ANN query matrix, `operators/similarity.py` ``_collect``);
3. exclusive bucket offsets are broadcast back and a
   ``Window.partitionBy(bucket)`` (bucket-width-bounded, never
   corpus-wide) adds the within-bucket prefix.

At 100 TB: pick ``n_buckets`` ≈ cluster tasks; every shuffle is a
map-side-combined aggregate, the only driver transfer is the bucket
sums, and no task ever sorts more than one bucket.  The token counting
scan runs per pass (recompute over materialize — same trade as
`span_dedup`, see its docstring) but is map-only over a
column-pruned scan of (doc_id, text).

Reference analog: the reference has no packing step (it is a point
cloud pipeline); this extends the training-data family alongside
`stratified_sample` / `corpus_clean` per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_count_expr, token_count_sql

DEFAULT_CTX = 128


def _counts(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", token_count_expr(F.col("text")).alias("n_tokens")
    )


def pack_chunks(docs: DataFrame, ctx: int = DEFAULT_CTX,
                n_buckets: int | None = None) -> DataFrame:
    """Per-document packing manifest: (doc_id, n_tokens, start_tok,
    first_chunk, last_chunk, n_chunks) for ``ctx``-token chunks over
    the doc_id-ordered concatenation. All-integer arithmetic — the
    result is bit-exact against any single-node implementation."""
    spark = docs.sparkSession
    t = _counts(docs)

    stats = t.agg(
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.count("*").alias("n"),
    ).first()
    if stats["n"] == 0:
        return spark.createDataFrame(
            [],
            "doc_id long, n_tokens long, start_tok long, "
            "first_chunk long, last_chunk long, n_chunks long",
        )
    if n_buckets is None:
        # ~64 docs per bucket at fixture scale; at cluster scale pass
        # n_buckets ≈ number of tasks (collect stays n_buckets rows).
        n_buckets = max(8, min(1024, int(stats["n"]) // 64 + 1))
    span = int(stats["hi"]) - int(stats["lo"]) + 1
    width = max(1, -(-span // n_buckets))  # ceil

    # integer floor via DIV (doc_id - lo is non-negative so DIV = floor)
    bucket = F.expr(f"(doc_id - {int(stats['lo'])}) DIV {width}")
    b = t.withColumn("bucket", bucket)

    per_bucket = (
        b.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bsum"))
        .collect()
    )
    per_bucket.sort(key=lambda r: r["bucket"])
    offsets, acc = [], 0
    for r in per_bucket:
        offsets.append((int(r["bucket"]), acc))
        acc += int(r["bsum"])
    off_df = spark.createDataFrame(offsets, "bucket long, bucket_off long")

    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("bucket_off") + F.coalesce(
        F.sum("n_tokens").over(w), F.lit(0)
    )
    withstart = (
        b.join(F.broadcast(off_df), "bucket")
        .withColumn("start_tok", start.cast("long"))
    )
    first = F.expr(f"start_tok DIV {ctx}")
    last = F.when(
        F.col("n_tokens") == 0, first
    ).otherwise(F.expr(f"(start_tok + n_tokens - 1) DIV {ctx}"))
    return withstart.select(
        "doc_id", "n_tokens", "start_tok",
        first.cast("long").alias("first_chunk"),
        last.cast("long").alias("last_chunk"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(last - first + 1)
        .cast("long")
        .alias("n_chunks"),
    )


def pack_chunks_sql(ctx: int = DEFAULT_CTX) -> str:
    """DuckDB oracle: the same manifest via a plain global window
    (single-node, so the one-task sort is fine THERE). SUM is cast
    back to BIGINT (DuckDB widens SUM(BIGINT) to HUGEINT, which the
    driver's schema hash would see as a different dtype)."""
    tc = token_count_sql("text")
    return f"""
WITH t AS (SELECT doc_id, {tc} AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS start_tok
  FROM t
)
SELECT doc_id, n_tokens, start_tok,
       start_tok // {ctx} AS first_chunk,
       CASE WHEN n_tokens = 0 THEN start_tok // {ctx}
            ELSE (start_tok + n_tokens - 1) // {ctx} END AS last_chunk,
       CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
            ELSE (start_tok + n_tokens - 1) // {ctx}
                 - start_tok // {ctx} + 1 END AS n_chunks
FROM c
"""
