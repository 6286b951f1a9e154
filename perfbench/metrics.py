"""Metric names, units and the layer → end-to-end map.  ``BENCHMARK.json``
lists the same names; ``tests/test_perfbench.py`` keeps the two in step."""

from __future__ import annotations

#: name → (unit, better, what it is on each workload)
END_TO_END = {
    "setup_s": ("s", "lower",
                "session start + input generation + engine-side set-up and warm-up"),
    "peak_rss_mb": ("MB", "lower",
                    "peak RSS of the driver JVM plus Python workers, timed region"),
    "op_ms_p50": ("ms", "lower",
                  "median operation wall: micro-batch (ingest_replay), successful "
                  "request (serve_live), query (analytics_mix)"),
    "ops_per_s": ("1/s", "higher",
                  "raw records/s (ingest_replay), successful requests per second "
                  "of client time (serve_live), queries/s over one pass (analytics_mix)"),
}

SERVING_ENDPOINTS = (
    "symbols", "latest_ticks", "tick_summary", "latest_bars",
    "bar_summary", "movers", "latest_tick_per_symbol", "health_counts",
)
#: analytics_mix query → the module that implements it (``operators.<module>``;
#: ``streaming`` is ``streaming.job``), in the order a pass runs them
ANALYTICS_QUERIES = {
    "ohlcv_bars": "ohlcv",
    "rolling_stats": "rolling",
    "ticks_asof_bars": "asof",
    "q5_local_supplier_volume": "tpch",
    "dup_groups": "dedup",
    "ann_ivfpq_topk": "similarity",
    "tfidf_top_terms": "text",
    "multimodal_jpeg_progressive_stats": "multimodal",
    "streaming_interval_join": "streaming",
    "events_profile": "analytics",
}
ANALYTICS_MODULES = tuple(dict.fromkeys(ANALYTICS_QUERIES.values()))
#: per-module fields; stage counts stay in the run record only, so that the
#: per-layer list fits 128 metrics (job and task counts move with them)
ANALYTICS_FIELDS = {
    "build_s": "s", "plan_s": "s", "exec_s": "s", "gap_s": "s", "jobs": "count",
    "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
}

#: name → (unit, better, end-to-end metric and workload it should move)
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s, all workloads"),
    "sources.latest_offset_ms": ("ms", "lower", "ops_per_s on ingest_replay"),
    "sources.dlq.valid_ratio": ("ratio", "higher", "ops_per_s on ingest_replay"),
}
for _m in ("trigger_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms",
           "commit_offsets_ms"):
    PER_LAYER[f"streaming.job.{_m}"] = (
        "ms", "lower", "op_ms_p50 on ingest_replay; bar lag on serve_live")
PER_LAYER["streaming.job.upsert_bars_batch_ms"] = (
    "ms", "lower", "ops_per_s on ingest_replay; bar lag and failures on serve_live")
PER_LAYER["streaming.job.rows_rewritten_per_bar"] = (
    "ratio", "lower", "ops_per_s on ingest_replay; bar lag on serve_live")
for _m, _u in (("rows_total", "count"), ("memory_bytes", "bytes"),
               ("commit_ms", "ms"), ("rows_dropped_by_watermark", "count")):
    PER_LAYER[f"streaming.state.{_m}"] = (_u, "lower", "op_ms_p50 on ingest_replay")
PER_LAYER["streaming.bar_lag_ms_p50"] = (
    "ms", "lower", "bar freshness on serve_live: file written to batch commit")
for _e in SERVING_ENDPOINTS:
    for _m, _u in (("build_ms", "ms"), ("collect_ms", "ms"), ("jobs", "count"),
                   ("tasks", "count")):
        PER_LAYER[f"operators.serving.{_e}.{_m}"] = (
            _u, "lower", "op_ms_p50 and ops_per_s on serve_live")
PER_LAYER["operators.serving.read_retries"] = (
    "count", "lower", "op_ms_p50 and ops_per_s on serve_live: reads retried after "
    "losing their files to the upsert's partition overwrite")
for _mod in ANALYTICS_MODULES:
    for _m, _u in ANALYTICS_FIELDS.items():
        PER_LAYER[f"analytics.{_mod}.{_m}"] = (
            _u, "lower", "op_ms_p50 and ops_per_s on analytics_mix")

WORKLOADS = {
    "ingest_replay": "write path alone: JSON ticks -> DLQ split -> watermarked "
                     "1-min bars -> idempotent upsert (streaming.job, state store, "
                     "sources.dlq)",
    "serve_live": "API read path: 2 closed-loop clients on the 8 serving endpoints "
                  "while an open-loop producer feeds the live upsert at the reference "
                  "load (operators.serving)",
    "analytics_mix": "batch query surface: 10 registered queries, one per operators "
                     "module, each run once on the sf0.001 test tables, results "
                     "collected and checked (analytics.<module>)",
}
