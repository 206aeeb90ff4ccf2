"""SparkSession factory.

Local testing runs on local[$SPARK_GRAFT_CPUS] (default: all cores), but
every setting here is chosen to also hold on a large multi-executor
cluster: AQE on (runtime coalescing + skew-join splitting), zstd parquet,
UTC session timezone (determinism vs. naive-timestamp oracles), Arrow for
any pandas exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "esvc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core; on a real cluster this
        # would be ~2-3x total executor cores (AQE coalesces the excess).
        shuffle_partitions = max(int(cpus), 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # generated classes kept compiled; the default 100 is smaller than
        # the query surface's class set, so a cycle through it recompiles
        # every class (LRU thrash)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # the events table stores TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read as long and convert in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
