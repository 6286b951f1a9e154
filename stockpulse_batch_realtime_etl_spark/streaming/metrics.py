"""Streaming observability — the Spark-native analog of the reference's
Prometheus instrumentation (services/api/app/main.py:47-67, which exposes
request latency counters at /metrics).

In a Spark engine the equivalent operational signal is per-micro-batch
progress: input rate, processing rate, batch duration, and state-store
size.  Spark already keeps all of it on each query as
``StreamingQuery.recentProgress`` (the last
``spark.sql.streaming.numRecentProgressUpdates`` batches, recorded
synchronously as each batch finishes); this module maps those records to
rows, so "metrics" is just one more queryable table instead of an HTTP
sidecar.  No executor involvement, no extra jobs: the records live on the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PROGRESS_SCHEMA = (
    "query_name string, batch_id long, num_input_rows long, "
    "input_rows_per_second double, process_rows_per_second double, "
    "batch_duration_ms long, state_rows long"
)


def progress_rows(progress) -> list[tuple]:
    """Map a query's progress records (``StreamingQuery.recentProgress``)
    to ``PROGRESS_SCHEMA`` tuples, one per micro-batch, in record order."""
    return [
        (
            p.name or str(p.id),
            p.batchId,
            p.numInputRows or 0,
            float(p.inputRowsPerSecond or 0.0),
            float(p.processedRowsPerSecond or 0.0),
            p.batchDuration,
            sum(op.numRowsTotal for op in p.stateOperators),
        )
        for p in progress
    ]


def percentile_summary(
    progress: DataFrame,
    metric: str = "num_input_rows",
    ps: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """p50/p95/p99 (exact, interpolated) over one captured per-batch metric
    — the reference's Prometheus histogram summary (main.py:66-67) as a
    query.  Exact ``percentile`` not approx: one row per micro-batch of a
    bounded run is a small table, so there is nothing to sketch.

    Works on any PROGRESS_SCHEMA column: ``num_input_rows`` (deterministic
    for deterministic batching — the oracle-gated path) or
    ``batch_duration_ms`` (wall-clock — operational use only).
    """
    cols = [
        F.round(
            F.percentile(F.col(metric).cast("double"), F.lit(p)), 4
        ).alias(f"p{int(p * 100)}")
        for p in ps
    ]
    return progress.filter(F.col(metric).isNotNull()).agg(
        F.lit(metric).alias("metric"),
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum(metric).cast("long").alias("total"),
        *cols,
    )
