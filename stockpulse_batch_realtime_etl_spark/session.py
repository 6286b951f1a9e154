"""SparkSession factory with scale-appropriate defaults.

The reference (SURVEY.md §4) delegates all planning to Postgres; here the
equivalent "physical design" is a handful of deliberate Spark confs:

* ``spark.sql.session.timeZone=UTC`` — TIMESTAMPTZ parity with the reference
  (producer.py:73 emits UTC ISO-8601; Postgres stores timestamptz).
* AQE on (+ coalescePartitions + skewJoin) — runtime re-planning replaces any
  hand-tuned DOP; at 100 TB the skew-join split is what keeps a hot symbol /
  hot join key from stalling a stage.
* ``spark.sql.shuffle.partitions`` — sized to the local test harness via
  ``SPARK_GRAFT_CPUS`` (default 32).  On a real cluster this would be
  ~2-3× total cores (or left to AQE's initialPartitionNum); the point is that
  every operator in this package works per-partition and never assumes a
  specific partition count.
* Arrow enabled — all pandas interchange (mapInPandas / applyInPandas in the
  multimodal + similarity extensions) is Arrow-batched, never row-at-a-time.

Streaming state uses Spark's default HDFS-backed store provider; nothing
here picks one.  Bounded streaming runs never write this session's conf:
each runs on a child session with its own confs
(``streaming.job._bounded_run_env``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stockpulse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor is BYTE-based (default 1m), which is
        # miscalibrated for compute-dense, byte-light exchanges: ~1 MB of
        # compressed shuffle columns feeding a per-symbol window or a
        # final aggregate is 1-2 CPU-seconds of codegen work, and the
        # default collapses it to ONE task (r16 profile: symbol_beta ran
        # three sequential single-task window/aggregate stages).  A 64k
        # floor keeps such stages parallel while remaining inert wherever
        # partitions are genuinely data-sized (any production exchange) —
        # measured r16: the rolling/window family −35%, no query slower.
        # Env-parameterized for cluster tuning, like the partition count.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's events.parquet carries TIMESTAMP(NANOS) which Spark
        # rejects by default; read as long nanos and convert explicitly
        # (sources/tables.py) — truncation to µs matches DuckDB's read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        # local[N] runs every "executor" inside the driver JVM: 32 tasks
        # sharing the heap.  8g forced GC storms once a long bench session
        # accumulated state (queries benched 2-4x their isolated time); the
        # host has 128 GiB, so give the single JVM a real executor's share.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
