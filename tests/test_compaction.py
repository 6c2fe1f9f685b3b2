"""Small-files compaction: many tiny append files → few clustered files,
same rows, clustering preserved for row-group skipping."""

from __future__ import annotations

import glob

from orionld_to_hive_spark.sources.warehouse import compact_table, load_table


def test_compact_table_merges_files_and_keeps_rows(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_small")
    # simulate per-micro-batch appends: 16 separate tiny files
    ev.repartition(16).write.parquet(path)
    assert len(glob.glob(path + "/*.parquet")) == 16
    before = sorted(r.event_id for r in spark.read.parquet(path).collect())

    n_files = compact_table(spark, path, sort_col="ts")
    files = glob.glob(path + "/*.parquet")
    assert len(files) == n_files == 1  # tiny table → one 128 MB-target file
    after_df = spark.read.parquet(path)
    assert sorted(r.event_id for r in after_df.collect()) == before

    # clustering: each file holds a contiguous ts range (here: the one
    # file is fully sorted), so min/max row-group stats stay selective
    ts = [r.ts for r in after_df.collect()]
    assert ts == sorted(ts)


def test_compact_table_splits_by_target_size(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_split")
    ev.repartition(8).write.parquet(path)
    # force a tiny target so the rewrite must produce multiple
    # range-partitioned files
    n_files = compact_table(spark, path, sort_col="ts", target_file_bytes=8 << 10)
    files = glob.glob(path + "/*.parquet")
    assert n_files > 1 and len(files) == n_files
    # files are non-overlapping ts ranges
    ranges = []
    for f in sorted(files):
        rows = spark.read.parquet(f).agg({"ts": "min"}).collect()
        lo = rows[0][0]
        hi = spark.read.parquet(f).agg({"ts": "max"}).collect()[0][0]
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next


def test_dynamic_partition_overwrite_backfills_only_named_partitions(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.sources.warehouse import (
        overwrite_partitions,
        write_partitioned,
    )

    base = str(tmp_path / "wh")
    full = spark.createDataFrame(
        [("kitchen", 1, 20.0), ("kitchen", 2, 21.0), ("room1", 1, 18.0)],
        "room string, day int, temp double",
    )
    write_partitioned(full, base, partition_cols=("room",))
    # backfill ONLY kitchen with corrected values
    fixed = spark.createDataFrame(
        [("kitchen", 1, 99.0)], "room string, day int, temp double"
    )
    overwrite_partitions(fixed, base, partition_cols=("room",))
    got = spark.read.parquet(base)
    assert got.filter(F.col("room") == "kitchen").count() == 1  # replaced
    assert got.filter(F.col("room") == "room1").count() == 1    # untouched
    assert got.filter(F.col("temp") == 99.0).count() == 1
    # session conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper()
        == "STATIC"
    )


def test_partitioned_writes_keep_sort_order_in_every_file(spark, tmp_path):
    # a partitioned write plans its own sort on the partition columns;
    # the sort key must survive it inside every part file, or parquet
    # row-group skipping on it is lost
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from orionld_to_hive_spark.sources.warehouse import (
        overwrite_partitions,
        write_partitioned,
    )

    df = spark.range(0, 20_000, numPartitions=4).select(
        (F.col("id") % 3).cast("string").alias("room"),
        (F.lit(20_000) - F.col("id")).alias("ts"),
    ).orderBy(F.col("ts").desc())
    base = str(tmp_path / "wh")
    write_partitioned(df, base, partition_cols=("room",), sort_cols=("ts",))
    overwrite_partitions(df.filter("room = '1'"), base, ("room",), ("ts",))
    files = glob.glob(base + "/room=*/*.parquet")
    assert len(files) >= 3
    for f in files:
        ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
        assert ts == sorted(ts), f
    assert spark.read.parquet(base).count() == 20_000
