"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what a 1000-executor cluster deployment would
set per executor: AQE on (runtime coalesce + skew-join splitting), Arrow
transfer for the pandas-UDF parse stage, shuffle partitions sized to
cores (overridden to ~2-3x total cores on a real cluster), UTC session
timezone so results compare bit-identically against the DuckDB oracle.

Unless SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM say otherwise, the local
master uses every core this process may run on and the driver heap is
half of physical memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
)
DEFAULT_DRIVER_MEM = (
    f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2**21}m"
)


def get_spark(
    app_name: str = "ocr_poc_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Allow shuffled-hash joins when a side's per-partition build fits
        # (guide §3.1/§9): sort-merge pays two sorts per join; the 64 MB
        # local-map threshold bounds build memory, so the choice stays
        # safe at cluster scale (AQE falls back to SMJ above it).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # One Arrow batch of html blobs must fit comfortably in worker
        # memory: ~2k pages x ~50KB avg = ~100MB per batch upper bound.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", DEFAULT_DRIVER_MEM),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
