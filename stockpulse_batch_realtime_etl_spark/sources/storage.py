"""Partitioned columnar storage layout — the Spark analog of the
reference's physical design.

The reference's two composite B-tree indexes, ``(symbol, event_time DESC)``
on stock_ticks and ``(symbol, bucket_start DESC)`` on stock_bars_1m
(infra/postgres/init.sql:10-11, 27-28), exist to make "latest N for one
symbol" an index-only backward scan.  The columnar equivalent:

* **partition by (symbol, date)** — a symbol-equality predicate prunes to
  that symbol's directories (PartitionFilters in the scan), a time
  predicate prunes dates; at 100 TB a /symbols/latest query touches only
  the last date dirs of one symbol instead of the whole table;
* **sort within files by event_time** — parquet column min/max row-group
  statistics then skip row groups for time ranges (the DESC-scan analog);
* top-k over the pruned scan is ``TakeOrderedAndProject`` — no full sort.

``tests/test_storage.py`` asserts the pruning actually happens (the plan's
PartitionFilters, not just intent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_ticks_partitioned(ticks: DataFrame, path: str) -> None:
    """Write the ticks table in its production layout:
    ``path/symbol=X/event_date=D/part-*.parquet``, files sorted by
    event_time so row-group stats are time-clustered."""
    (
        ticks.withColumn("event_date", F.to_date("event_time"))
        .repartition("symbol", "event_date")
        .sortWithinPartitions("event_time")
        .write.mode("overwrite")
        .partitionBy("symbol", "event_date")
        .parquet(path)
    )


def read_ticks(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned ticks table; symbol/event_date predicates become
    partition pruning, event_time predicates become row-group skipping."""
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    key: str = "symbol",
    buckets: int = 8,
) -> None:
    """Write ``df`` as a bucketed external table: hash-bucketed AND
    sorted by ``key`` within each bucket file.

    Bucketing is the co-located-join layout: two tables bucketed by the
    same key into the same bucket count join WITHOUT any Exchange — each
    task reads bucket i of both sides.  At 100 TB this removes the shuffle
    of BOTH join inputs for every recurring join on the key (ticks⋈bars,
    ticks⋈dim); the shuffle is paid once at write time instead of once per
    query.  ``tests/test_storage.py`` asserts the exchange-free plan.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)
    )


def compact_partitioned(
    spark: SparkSession,
    src: str,
    dst: str,
    partition_col: str,
    max_records_per_file: int = 5_000_000,
) -> None:
    """Small-file compaction: rewrite a partitioned table with one
    right-sized file set per partition.

    Why it exists: every streaming micro-batch appends its own files (the
    upsert sink writes per-trigger), so a long-running stream accretes
    thousands of KB-scale files per partition — and at 100 TB, file-listing
    and per-file open overhead come to dominate scan time.  Periodic
    compaction (read → one shuffle on the partition key → rewrite with
    ``maxRecordsPerFile``) restores scan-friendly file sizes; the write
    target is a fresh path, swapped in atomically by the caller (rename or
    view/manifest flip), never an in-place overwrite of the directory being
    read.
    """
    df = spark.read.parquet(src)
    (
        df.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(partition_col)
        .parquet(dst)
    )
