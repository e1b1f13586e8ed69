"""Storage-layout helpers for shuffle avoidance at scale.

Bucketing pre-shuffles a table ONCE at write time; any later equi-join
or aggregation on the bucket key reads co-located buckets and skips
the exchange entirely — the biggest single lever for repeated joins
over 100 TB fact tables. (Spark bucketing requires a saveAsTable
catalog entry; plain parquet paths don't retain bucket metadata.)
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.
    Sorting within buckets additionally enables exchange-AND-sort-free
    sort-merge joins."""
    spark = df.sparkSession
    # A fresh session's in-memory catalog forgets managed tables but
    # their warehouse directories survive; saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS. Drop both the entry and any orphaned
    # location before writing.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if warehouse:
        shutil.rmtree(
            os.path.join(warehouse, table.lower()), ignore_errors=True
        )
    writer = (
        df.write.mode("overwrite").format(fmt).bucketBy(
            num_buckets, *bucket_cols
        )
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
) -> None:
    """Hive-style partitioned layout (dir-per-value): queries filtering
    on the partition key scan ONLY matching directories (partition
    pruning — visible as PartitionFilters in the plan), the first
    data-skipping lever for time/category-sliced 100 TB tables.
    Rows are clustered by key first so each partition dir gets ~one
    file per batch instead of one per shuffle partition."""
    (
        df.repartition(*[df[c] for c in partition_cols])
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def zorder_key(cols: list, bits: int = 16) -> "Column":
    """Z-order (Morton) clustering key: interleaves the low ``bits``
    bits of each integer column so sorting by the key co-locates rows
    that are close in EVERY dimension — multi-dimensional data
    skipping from one sort (per-file min/max stays narrow on all
    keys, where a lexicographic sort leaves every non-leading
    dimension spanning the full range). Pure Catalyst bit ops
    (shift/and/or), fully codegen'd; callers pass columns already in
    an integer domain (ids, ranks, bucketed values)."""
    from pyspark.sql import functions as F

    key = F.lit(0).cast("long")
    n = len(cols)
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key


def upsert_partition_overwrite(
    updates,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
) -> None:
    """Idempotent batch upsert via DYNAMIC partition overwrite: only
    the partitions present in ``updates`` are rewritten; every other
    partition's files are left byte-identical. The standard
    correction/backfill primitive on plain columnar storage (no table
    format needed): recompute a day, overwrite that day, touch
    nothing else — re-running the same batch converges to the same
    state, so a retried job is safe.

    The per-write ``partitionOverwriteMode`` option sets dynamic mode
    for this write alone; the session conf is never touched, so a
    concurrent overwrite on the same session keeps its own mode."""
    (
        updates.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def write_zordered(
    df,
    path: str,
    cols: list,
    bits: int = 10,
    n_files: int = 16,
    fmt: str = "parquet",
) -> None:
    """Write a frame laid out along the z-order curve of ``cols``:
    range-partition on the Morton key (``zorder_key``), sort within
    partitions, drop the helper column. Every output file then holds
    one contiguous z-range, so its min/max footer stats stay narrow
    on EVERY clustered dimension — multi-dimensional file/row-group
    skipping for any engine that prunes on parquet statistics (a
    lexicographic sort only prunes its leading column). The write
    itself is one range shuffle + in-partition sort, no driver
    state."""
    z = zorder_key(cols, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-files maintenance: rewrite a directory into
    ceil(total_size / target_bytes) files and atomically swap it in.
    Streaming sinks and fine-grained partitioning accrete kilobyte
    files whose per-file open/footer cost dominates scans at scale;
    periodic compaction is the standard fix. Listing and renames go
    through the Hadoop FileSystem API so any scheme (file:/, hdfs://,
    s3a://) works. Returns the output file count."""
    import math

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    total = fs.getContentSummary(p).getLength()
    n = max(1, math.ceil(total / target_bytes))

    df = spark.read.format(fmt).load(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.repartition(n).write.mode("overwrite").format(fmt).save(tmp)

    bak = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_bak")
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    fs.rename(p, bak)
    fs.rename(tmp_p, p)
    fs.delete(bak, True)
    return n
