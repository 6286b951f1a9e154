"""Streaming-layer numbers: Spark's query-progress events, and (traced runs
only) a span around each call of the public ``upsert_bars_batch``."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime, timezone

from common import median


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def progress(query) -> list[dict]:
    """The query's progress events, flattened."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        dur = d.get("durationMs", {})
        ops = d.get("stateOperators") or [{}]
        st = ops[0]
        src = (d.get("sources") or [{}])[0]
        out.append({
            "batch_id": d["batchId"],
            "start": _epoch(d["timestamp"]),
            "trigger_ms": dur.get("triggerExecution", 0),
            "latest_offset_ms": dur.get("latestOffset", 0),
            "query_planning_ms": dur.get("queryPlanning", 0),
            "add_batch_ms": dur.get("addBatch", 0),
            "wal_commit_ms": dur.get("walCommit", 0),
            "commit_offsets_ms": dur.get("commitOffsets", 0),
            "input_rows": d.get("numInputRows", 0),
            "rows_total": st.get("numRowsTotal", 0),
            "rows_updated": st.get("numRowsUpdated", 0),
            "memory_bytes": st.get("memoryUsedBytes", 0),
            "state_commit_ms": st.get("commitTimeMs", 0),
            "dropped_by_watermark": st.get("numRowsDroppedByWatermark", 0),
            "end_offset": src.get("endOffset"),
        })
    return out


def trace_upserts(ctx) -> None:
    """Time every ``upsert_bars_batch`` call and count the rows it rewrote.

    ``start_bar_aggregation`` looks the function up in its module at call
    time, so replacing the module attribute wraps the production call."""
    from stockpulse_batch_realtime_etl_spark.streaming import job

    inner = job.upsert_bars_batch
    ctx.upserts = []

    def traced(batch, table_path, audit_path=None):
        with ctx.tracer.span("streaming.job.upsert_bars_batch") as sp:
            inner(batch, table_path, audit_path)
        ctx.upserts.append({
            "ms": (sp["end"] - sp["start"]) * 1e3,
            "rewritten": _rows_rewritten_since(table_path, sp["start"]),
        })

    job.upsert_bars_batch = traced


def _rows_rewritten_since(table_path: str, since: float) -> int:
    """Rows in the date partitions whose files were written after ``since``."""
    import pyarrow.parquet as pq

    rows = 0
    for part in glob.glob(os.path.join(table_path, "bucket_date=*")):
        files = glob.glob(os.path.join(part, "*.parquet"))
        if any(os.path.getmtime(f) >= since - 0.001 for f in files):
            rows += sum(pq.read_metadata(f).num_rows for f in files)
    return rows


def layer_metrics(ctx, batches: list[dict]) -> dict:
    """``sources.*``, ``streaming.job.*`` and ``streaming.state.*``."""
    data = [b for b in batches if b["input_rows"] > 0] or batches

    def med(k):
        return median([b[k] for b in data]) if data else 0.0

    upserts = getattr(ctx, "upserts", [])
    emitted = sum(b["rows_updated"] for b in batches)
    return {
        "sources.latest_offset_ms": med("latest_offset_ms"),
        "streaming.job.trigger_ms": med("trigger_ms"),
        "streaming.job.query_planning_ms": med("query_planning_ms"),
        "streaming.job.add_batch_ms": med("add_batch_ms"),
        "streaming.job.wal_commit_ms": med("wal_commit_ms"),
        "streaming.job.commit_offsets_ms": med("commit_offsets_ms"),
        "streaming.job.upsert_bars_batch_ms": median([u["ms"] for u in upserts]) if upserts else 0.0,
        "streaming.job.rows_rewritten_per_bar": (
            sum(u["rewritten"] for u in upserts) / emitted if emitted else 0.0),
        "streaming.state.rows_total": max((b["rows_total"] for b in batches), default=0),
        "streaming.state.memory_bytes": max((b["memory_bytes"] for b in batches), default=0),
        "streaming.state.commit_ms": med("state_commit_ms"),
        "streaming.state.rows_dropped_by_watermark": sum(b["dropped_by_watermark"] for b in batches),
    }


def add_batch_spans(tracer, batches: list[dict], op_prefix: str,
                    parent: int | None = None) -> None:
    """Lay each batch's progress durations out as spans, in the order the
    micro-batch engine runs them, and hang each upsert span under the
    ``add_batch`` span of the batch that ran it."""
    upserts = [s for s in tracer.spans if s["name"] == "streaming.job.upsert_bars_batch"]
    for b in batches:
        start = b["start"]
        tracer.add("streaming.job.trigger", start, start + b["trigger_ms"] / 1e3,
                   op=f"{op_prefix}b{b['batch_id']}", parent=parent)
        trigger = tracer.spans[-1]["id"]
        t = start
        for name in ("latest_offset_ms", "wal_commit_ms", "query_planning_ms",
                     "add_batch_ms", "commit_offsets_ms"):
            d = b[name] / 1e3
            tracer.add("streaming.job." + name[:-3], t, t + d,
                       op=f"{op_prefix}b{b['batch_id']}", parent=trigger)
            if name == "add_batch_ms":
                add_batch = tracer.spans[-1]["id"]
            t += d
        end = start + b["trigger_ms"] / 1e3
        for u in upserts:
            if start - 0.02 <= u["start"] and u["end"] <= end + 0.02:
                u["parent"], u["op"] = add_batch, f"{op_prefix}b{b['batch_id']}"
