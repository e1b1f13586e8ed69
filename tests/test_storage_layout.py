"""Storage-layout levers: partition pruning, compaction, z-order
clustering. Correctness says the rows are right; these say the LAYOUT
does its job — pruned scans, bounded file counts, narrow per-file
min/max on every z-order dimension."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from msk_flink_streaming_cdk_spark.plans.checks import formatted_plan
from msk_flink_streaming_cdk_spark.sources.fixtures import load_table
from msk_flink_streaming_cdk_spark.storage import (
    compact_small_files,
    write_partitioned,
    zorder_key,
)


def test_write_partitioned_prunes_partitions(spark, sf_small, tmp_path):
    ev = load_table(spark, sf_small, "events").select(
        "event_id", "event_type", "value"
    )
    path = os.path.join(str(tmp_path), "ev_part")
    write_partitioned(ev, path, ["event_type"])
    assert glob.glob(os.path.join(path, "event_type=click"))

    rd = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = formatted_plan(rd)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # pruned scan reads only the one dir's files
    n_click = ev.filter(F.col("event_type") == "click").count()
    assert rd.count() == n_click


def test_compact_small_files_preserves_rows(spark, sf_small, tmp_path):
    ev = load_table(spark, sf_small, "events").select("event_id", "value")
    path = os.path.join(str(tmp_path), "tiny")
    ev.repartition(24).write.parquet(path)
    before = len(glob.glob(os.path.join(path, "*.parquet")))
    assert before >= 20
    total = ev.count()
    checksum = ev.agg(F.sum("event_id")).collect()[0][0]

    n = compact_small_files(spark, path, target_bytes=64 * 1024 * 1024)
    after = glob.glob(os.path.join(path, "*.parquet"))
    assert len(after) == n < before
    df = spark.read.parquet(path)
    assert df.count() == total
    assert df.agg(F.sum("event_id")).collect()[0][0] == checksum


def test_zorder_narrows_ranges_on_both_dims(spark, sf_small, tmp_path):
    # 64x64 grid of (x, y): z-order sort into 16 files must keep BOTH
    # dimensions' per-file spans narrow; a lexicographic (x, y) sort
    # leaves y spanning ~the full range in every file.
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )

    def avg_span(df, order_col, dim):
        d = (
            df.repartitionByRange(16, order_col)
            .sortWithinPartitions(order_col)
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg((F.max(dim) - F.min(dim)).alias("span"))
        )
        return d.agg(F.avg("span")).collect()[0][0]

    z = zorder_key([F.col("x"), F.col("y")], bits=6)
    zx = avg_span(grid, z, "x")
    zy = avg_span(grid, z, "y")
    lx = avg_span(grid, F.col("x") * 64 + F.col("y"), "x")
    ly = avg_span(grid, F.col("x") * 64 + F.col("y"), "y")
    # lexicographic: x is tight but y spans everything; z-order: both
    # dims stay well under half the domain.
    assert ly > 60, (lx, ly)
    assert zx < 32 and zy < 32, (zx, zy)


def test_write_zordered_files_prune_both_dims(spark, tmp_path):
    # Files written by write_zordered must carry narrow per-file
    # min/max on BOTH clustered dims (the stats an engine prunes on).
    import glob as _glob
    import os as _os

    from msk_flink_streaming_cdk_spark.storage import write_zordered

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    path = str(tmp_path / "zorder_out")
    write_zordered(grid, path, [F.col("x"), F.col("y")], bits=6,
                   n_files=16)
    files = _glob.glob(_os.path.join(path, "*.parquet"))
    assert len(files) >= 8
    spans_x, spans_y = [], []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .first()
        )
        spans_x.append(r.sx), spans_y.append(r.sy)
    # every file well under the 64-wide domain on BOTH dims
    assert sum(spans_x) / len(spans_x) < 32
    assert sum(spans_y) / len(spans_y) < 32
    # no rows lost
    assert spark.read.parquet(path).count() == 64 * 64


def test_upsert_partition_overwrite_touches_only_updated(spark, tmp_path):
    # Base table with 3 partitions; an upsert batch covering ONE
    # partition must rewrite only it: other partitions' files stay
    # byte-identical (same paths, same mtimes), the updated partition
    # holds exactly the new rows, and re-running the same upsert is a
    # no-op on content (idempotent backfill).
    import glob as _glob
    import os as _os

    from msk_flink_streaming_cdk_spark.storage import (
        upsert_partition_overwrite,
    )

    path = str(tmp_path / "upsert_tbl")
    base = spark.createDataFrame(
        [(d, i, i * 10) for d in ("d1", "d2", "d3") for i in range(5)],
        "day string, k long, v long",
    )
    base.write.partitionBy("day").parquet(path)

    def files_with_mtime(day):
        return {
            f: _os.path.getmtime(f)
            for f in _glob.glob(_os.path.join(path, f"day={day}", "*.parquet"))
        }

    before_d1 = files_with_mtime("d1")
    before_d3 = files_with_mtime("d3")
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_key)
    updates = spark.createDataFrame(
        [("d2", i, i * 100) for i in range(3)],
        "day string, k long, v long",
    )
    upsert_partition_overwrite(updates, path, ["day"])

    assert files_with_mtime("d1") == before_d1
    assert files_with_mtime("d3") == before_d3
    got = spark.read.parquet(path)
    assert got.filter("day = 'd2'").count() == 3
    assert (
        got.filter("day = 'd2'").agg(F.sum("v")).first()[0]
        == sum(i * 100 for i in range(3))
    )
    assert got.filter("day = 'd1'").count() == 5
    # idempotence
    upsert_partition_overwrite(updates, path, ["day"])
    assert spark.read.parquet(path).filter("day = 'd2'").count() == 3
    # the session conf is left exactly as it was before the call
    assert spark.conf.get(mode_key) == mode_before
