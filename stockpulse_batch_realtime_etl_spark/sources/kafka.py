"""Kafka wire format (ops S2, S5) — the reference's producer encoding and
consumer decoding as pure DataFrame functions.

Both run on batch data and are checked broker-free
(``kafka_roundtrip_ticks``, tests/test_sources.py).  The broker source is
plain Spark configuration, not package code: with ``spark-sql-kafka-0-10``
on the classpath, the reader shown in ``streaming.job.raw_json_stream``
(whose file stand-in yields the same ``value`` column) feeds
:func:`kafka_value_to_raw`.

Reference parity:
* topic ``stock.ticks.v1``, 3 partitions, keyed by symbol → per-symbol
  ordering (README.md:22,94; producer.py:87)
* consumer group semantics are subsumed by the checkpoint (consumer.py:111-117
  at-least-once auto-commit upgrades to exactly-once bookkeeping)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Wire timestamp format: microsecond precision (the default SSS truncates
#: to millis and would make the encode/decode round trip lossy).
WIRE_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def encode_ticks_for_kafka(ticks: DataFrame) -> DataFrame:
    """S2: tick rows → Kafka (key, value) pairs.  key = symbol (per-symbol
    partition ordering, producer.py:87), value = JSON of the full row
    (producer.py:84-90, op F11) with lossless µs timestamps."""
    # TIMESTAMP_NTZ (what Spark 4.1 reads parquet TIMESTAMP(NANOS) as) has
    # no zone offset, so formatting it through the XXX pattern yields NULL
    # for every value — cast to a real timestamp first.  Instant-preserving
    # under the UTC session this library asserts (sources/tables.py), and
    # the wire then carries an explicit offset as producer.py:84-90 does.
    payload = [
        F.col(c).cast("timestamp").alias(c) if t == "timestamp_ntz" else F.col(c)
        for c, t in ticks.dtypes
    ]
    return ticks.select(
        F.col("symbol").cast("string").alias("key"),
        F.to_json(
            F.struct(*payload), {"timestampFormat": WIRE_TS_FORMAT}
        ).alias("value"),
    )


def kafka_value_to_raw(kafka_df: DataFrame) -> DataFrame:
    """Kafka records → the raw (value, topic, partition, offset) shape the
    DLQ split consumes (sources/dlq.py) — Kafka metadata columns map 1:1
    onto failed_events (init.sql:30-39)."""
    return kafka_df.select(
        F.col("value").cast("string").alias("value"),
        F.col("topic"),
        F.col("partition").alias("partition"),
        F.col("offset").alias("offset"),
    )
