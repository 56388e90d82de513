"""Pages fact-table sources.

The engine's fact table is a Common-Crawl-style pages table
(url, warc_ts, html, text, lang) per BASELINE.json input_hint; the
reference's analog is the per-tile LAS point table
(src/upcp/pipeline.py:123-129). Three sources:

- ``pages_from_orders``: geocodes the driver's TPC-H-ish ``orders``
  parquet (o_orderkey → page_id) — the correctness-gate fact table.
- ``synthetic_pages``: ``spark.range``-based generator at arbitrary row
  count — the bench/scaling fact table (seeded, no external data).
- ``synthetic_html_pages``: adds the (url, warc_ts, html, lang) payload
  for the html→text byte-identical invariant tests.

All are map-only: geocode + tile assignment fold into the scan
projection (no shuffle), which is what makes tile assignment of a
10^12-row table a single pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geocode import geocode
from ..tiling import with_tiles

# Fixture table schemas (TESTDATA.md; verified identical across
# sf0.001/0.01/0.1). Declaring them skips the per-query parquet footer
# schema inference on the driver (~80 ms per read at bench time) —
# pure plan-construction cost, the scan itself is unchanged. Parquet
# columns resolve by name, so extra file columns are ignored and the
# per-query projection still prunes at the scan.
FIXTURE_SCHEMAS = {
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "documents": (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    ),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
    "events": (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    ),
}


def read_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Schema-pinned scan of a fixture table (no driver footer read)."""
    return spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet"
    )


def _input_bytes(path: str) -> int | None:
    """Total data-file bytes under ``path`` via os.stat (no JVM)."""
    try:
        if os.path.isdir(path):
            files = [
                os.path.join(root, f)
                for root, _, fs in os.walk(path)
                for f in fs
                if not f.startswith(("_", "."))
            ]
        else:
            files = [path]
        if not files:
            return None
        return sum(os.path.getsize(f) for f in files)
    except OSError:
        return None


def _est_scan_partitions(spark: SparkSession, path: str) -> int | None:
    """Estimate the scan task count from file sizes alone (os.stat —
    no JVM round trip, no plan construction). Mirrors Spark's split
    math coarsely: ceil(total_bytes / maxPartitionBytes), at least one
    task per file."""
    total = _input_bytes(path)
    if total is None:
        return None
    try:
        nfiles = 1 if not os.path.isdir(path) else max(1, len([
            f for root, _, fs in os.walk(path) for f in fs
            if not f.startswith(("_", "."))
        ]))
        mpb = int(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        ))
        return max(nfiles, -(-total // mpb))
    except (OSError, ValueError):
        return None


# Inputs below this size stay on their single scan split: the whole
# scan-side compute is sub-second there, and the round-robin exchange
# costs more wall-clock than the parallelism buys (measured at sf0.1:
# pages noop 0.21 s unspread vs 0.30 s spread; even the PIP Arrow
# kernel is 0.61 s vs 0.72 s). Above the threshold a few-split input
# still spreads to all cores, so the compute-bound case (driver SFs
# with 10×+ rows, the regime the spread exists for) keeps its
# parallelism. A production deployment reads many-split tables and never
# reaches the repartition.
SPREAD_MIN_BYTES = 8 * 1024 * 1024


def spread_small_scan(df: DataFrame, path: str | None = None,
                      target: int | None = None,
                      min_bytes: int | None = None) -> DataFrame:
    """Single-file test parquet arrives as one input split, which would
    serialize every downstream stage on one core. Round-robin the rows
    across the default parallelism BEFORE the compute-heavy projection
    (the shuffle carries only the scanned columns). At production scale
    the scan has many splits and this is a no-op.

    ``path`` (when the caller knows it) lets the split-count estimate
    come from file sizes via os.stat instead of ``df.rdd`` — the RDD
    conversion costs ~140 ms of driver-side plan work per call, which
    dominated small-query build time (guide §5: keep the driver idle) —
    and arms the SPREAD_MIN_BYTES lower bound: tiny inputs are cheaper
    to process on their one split than to re-shuffle.

    ``target``/``min_bytes`` let a caller that feeds a known
    compute-heavy stage (e.g. the shingle UDF) ask for a different
    spread width or defeat the size floor — still only ever
    repartitioning UP (a many-split production scan is left alone)."""
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism
    floor = SPREAD_MIN_BYTES if min_bytes is None else min_bytes
    if path is not None:
        est = _est_scan_partitions(df.sparkSession, path)
        if est is not None:
            total = _input_bytes(path)
            if total is not None and total < floor:
                return df
            return df.repartition(target) if est < target else df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def pages_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/orders.parquet"
    df = read_fixture(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("page_id")
    )
    return with_tiles(geocode(spread_small_scan(df, path)))


def synthetic_pages(spark: SparkSession, n_rows: int,
                    partitions: int | None = None,
                    start: int = 0) -> DataFrame:
    """Deterministic pages over ids [start, start + n_rows) — `start`
    lets multi-executor shards carve disjoint ranges of one input."""
    end = start + n_rows
    rng = (
        spark.range(start, end, 1, partitions)
        if partitions
        else spark.range(start, end)
    )
    return with_tiles(geocode(rng.select(F.col("id").alias("page_id"))))


def synthetic_html_pages(spark: SparkSession, n_rows: int,
                         partitions: int | None = None) -> DataFrame:
    """Pages with web payload (FIXTURES.md §1): url/warc_ts/html/lang.

    The html body embeds a token derived with sha1 — computed JVM-side
    with F.sha1 so generation itself is codegen'd, no Python UDF.
    """
    df = synthetic_pages(spark, n_rows, partitions)
    i = F.col("page_id")
    tok = F.substring(F.sha1(F.concat(F.lit("42:"), i.cast("string"))), 1, 8)
    url = F.concat(
        F.lit("https://site"), (i % 997).cast("string"), F.lit(".example/"),
        F.lpad(i.cast("string"), 12, "0"),
    )
    body = F.concat(F.lit("doc "), i.cast("string"), F.lit(" tok "), tok)
    html = F.concat(
        F.lit("<html><body><p>"), body, F.lit("</p></body></html>")
    ).cast("binary")
    return df.withColumns(
        {
            "url": url,
            "warc_ts": F.timestamp_seconds(F.lit(1609459200) + (i % 86400)),
            "html": html,
            "lang": F.element_at(
                F.array(F.lit("nl"), F.lit("en"), F.lit("de"), F.lit("fr")),
                (i % 4 + 1).cast("int"),
            ),
        }
    )
