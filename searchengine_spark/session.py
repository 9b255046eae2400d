"""SparkSession factory with scale-oriented defaults.

The same config works on local[N] for tests and on a multi-executor
cluster: AQE handles partition coalescing and skew joins at runtime,
so we do not hand-tune `repartition(8, ...)` the way the reference
does (searchenginespark.py:136-140,160 in /root/reference).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """~22% of host RAM, clamped to [4g, 28g]."""
    try:
        total_gib = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) // (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(4, min(28, int(total_gib * 0.22)))}g"


def get_spark(
    app_name: str = "searchengine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with sensible scale defaults.

    - AQE on: runtime partition coalescing + skew-join splitting, so
      the same job works at sf0.001 and at 100 TB.
    - Arrow on: any pandas_udf (Porter stemmer, embedding kernels)
      moves data in columnar batches, not pickled rows.
    - Broadcast threshold left at default (10 MB): idf/doc_lengths
      style dimension tables auto-broadcast.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # TakeOrderedAndProject preallocates 2 * limit slots per task,
        # so an orderBy().limit(n) with n near 1e9 ("keep everything")
        # fails the heap and takes the JVM down; above this limit Spark
        # sorts and then limits instead.
        .config("spark.sql.execution.topKSortFallbackThreshold", "1000000")
        # Python DataSource API: let custom sources (sources/jsonl.py)
        # receive planner filters via pushFilters.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Testdata's events.ts is parquet TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read as long-nanos and convert in
        # io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local mode: the driver heap IS the executor heap; the query
        # registry session-caches dozens of frames, and an 8g heap
        # measurably thrashes (cache eviction + GC) at sf0.1 with the
        # full headline set. Sized from the host (the target box has
        # 128 GiB -> 28g) instead of hard-coding a big-box value that
        # would fail to launch on a small machine.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_heap())
    )
    return builder.getOrCreate()
