"""SparkSession factory tuned for the tiling/spatial-join workload.

Local-mode defaults mirror what we would submit on a real cluster via
``spark-submit --py-files`` (see README): AQE on (skew-join + partition
coalescing), Arrow enabled for the few pandas UDFs, broadcast threshold
sized so reference layers (dimension tables) always broadcast.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "upcp-spark",
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; one shuffle partition per core keeps local runs
        # spill-free; on a real cluster this is set to 2-3× total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the per-batch Python round-trip
        # for the vectorized-UDF hot path (PIP flags)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


_MEMO: dict = {}
MEMO_MAX = 64


def per_session(fn):
    """Memoise ``fn(spark, *args)`` once per live session and hashable
    arguments. For plan constants only: DataFrames over literal or
    generated rows and the Columns every plan reuses, never a scan, since
    a memoised plan would keep its first file listing.

    The one result memoised here is ``full_pipeline_labels``: the fold
    local-checkpoints every stage boundary, so its DataFrame is computed
    blocks of this session, not a plan to re-run, and recomputing it
    costs all 15 stages. Like any checkpoint it reflects the input files
    as they were when it ran.

    The key holds the session object itself, and SparkSession compares
    by identity, so a new session never hits an entry of a collected one
    whose ``id`` it reuses. The memo is bounded: past ``MEMO_MAX``
    entries it starts over, as ``functions.pip._CELLS`` does.
    """
    @functools.wraps(fn)
    def memo(spark, *args, **kwargs):
        key = (fn, spark, args, tuple(sorted(kwargs.items())))
        if key not in _MEMO:
            if len(_MEMO) >= MEMO_MAX:
                _MEMO.clear()
            _MEMO[key] = fn(spark, *args, **kwargs)
        return _MEMO[key]
    return memo
