"""Source/sink layer: format-agnostic batch IO with scale defaults.

The reference's only persistence is the bincode+zstd graph file
(crates/exvc/src/main.rs:44-53); its Spark-side equivalent (parquet+zstd
event log) lives in esvc_spark.core.store. This module is the general
table-IO surface an analytics engine needs around that: parquet / csv /
json / orc readers with pinned-schema support, and a writer that defaults
to zstd parquet with optional hive partitioning and bucketing.

Scale notes baked into the defaults:
  * writes default to parquet+zstd — columnar, splittable, predicate-
    pushdown-able; csv/json are interchange formats, not storage;
  * `partition_by` yields hive-style directory pruning for low-cardinality
    keys (date, source);
  * `bucket_by` (saveAsTable path) pre-shuffles once at write time so
    later equi-joins/aggs on the bucket key are shuffle-free;
  * csv/json readers REQUIRE an explicit schema — schema inference scans
    the whole input (a full extra pass at 100 TB) and is nondeterministic
    across samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..core import storage

_FORMATS = {"parquet", "csv", "json", "orc"}


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMATS)}")
    if fmt in ("csv", "json") and schema is None:
        raise ValueError(
            f"{fmt} reads require an explicit schema "
            "(inference costs a full extra scan and is sample-dependent)"
        )
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    return reader.options(**options).load(path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_files: int,
    fmt: str = "parquet",
    compression: str = "zstd",
) -> int:
    """Small-file compaction: rewrite a table directory into exactly
    `target_files` files and swap it in. The housekeeping pass every
    long-lived dataset needs — streaming sinks and incremental appends
    accumulate files far below the optimal scan granularity, and at
    100 TB the scan's task count (and the namenode/listing load) is the
    file count. Uses repartition (even-sized output via round-robin),
    writes a sibling stage, then swaps it in with
    core.storage.replace_dir; a crash mid-swap is rolled forward by the
    next call (the stage holds Spark's _SUCCESS). Returns the number of
    data files after compaction."""
    stage = path.rstrip("/") + "._compact_tmp"
    storage.recover_dir(stage, path)
    df = spark.read.format(fmt).load(path)
    (
        df.repartition(target_files)
        .write.format(fmt)
        .mode("overwrite")
        .option("compression", compression)
        .save(stage)
    )
    storage.replace_dir(stage, path)
    return sum(
        1
        for f in storage.listdir(path)
        if f.endswith(f".{fmt}") or (fmt == "parquet" and f.endswith(".parquet"))
    )


def write_sink(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    compression: str | None = None,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    sort_by: list[str] | None = None,
    table_name: str | None = None,
    **options: str,
) -> None:
    """Write a table. With `bucket_by=(n, cols)` the data is written
    through saveAsTable (bucketing lives in the catalog) pre-shuffled into
    n buckets; later joins/aggs on those columns skip their shuffle."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMATS)}")
    if compression is None:
        compression = "zstd" if fmt in ("parquet", "orc") else "gzip"
    writer = df.write.format(fmt).mode(mode).option("compression", compression)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    writer = writer.options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        if not table_name:
            raise ValueError("bucketed writes need table_name (saveAsTable path)")
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols)
        if sort_by:
            writer = writer.sortBy(*sort_by)
        writer.option("path", path).saveAsTable(table_name)
    else:
        writer.save(path)
