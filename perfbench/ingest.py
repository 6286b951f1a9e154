"""``ingest_replay``: the write path alone.

A seeded JSON-lines tick corpus (one file per micro-batch) is replayed
through the production pipeline — ``raw_json_stream`` →
``tick_stream_from_raw`` → ``start_bar_aggregation(available_now=True)``
plus ``start_dlq_sink`` — with the session's own state store and partition
count.  The timed region replays the corpus in ``--seconds / ROUND_S``
rounds (at least one), each into a fresh checkpoint and sink: a fixed
amount of work, so the number of rounds does not change with the host's
speed.  An operation is one micro-batch of the bars query.
"""

from __future__ import annotations

import os
import time

import gen
import oracle
import streamstats

N_FILES = 8
PER_FILE = 800
WARM_FILES = 1
#: seconds one round of N_FILES batches takes at the commit that added this
#: benchmark
ROUND_S = 12.0


def _write_corpus(corpus: gen.TickCorpus, raw_dir: str) -> None:
    """The file source replays files oldest first; distinct mtimes pin the
    order to the file index, so lateness stays inside the watermark."""
    for i, lines in enumerate(corpus.files):
        path = os.path.join(raw_dir, f"ticks-{i:05d}.json")
        gen.write_file(path, lines)
        os.utime(path, (gen.T0_US // 1_000_000 + i,) * 2)


def _round(ctx, raw_dir: str, tag: str) -> dict:
    """One replay of ``raw_dir`` into a fresh sink; returns its record."""
    from stockpulse_batch_realtime_etl_spark.streaming import job

    d = ctx.run.sub("rounds", tag)
    raw = job.raw_json_stream(ctx.spark, raw_dir, max_files_per_trigger=1)
    ticks, failed = job.tick_stream_from_raw(raw)
    t0 = time.time()
    with ctx.tracer.span("ingest.round", op=tag) as sp:
        bars_q = job.start_bar_aggregation(
            ticks, os.path.join(d, "bars"), os.path.join(d, "ckpt"), available_now=True)
        dlq_q = job.start_dlq_sink(
            failed, os.path.join(d, "dlq"), os.path.join(d, "dlq_ckpt"), available_now=True)
        bars_q.awaitTermination()
        dlq_q.awaitTermination()
    wall = time.time() - t0
    return {"dir": d, "wall": wall, "progress": streamstats.progress(bars_q),
            "span": sp["id"] if sp else None}


def setup(ctx) -> dict:
    t = time.perf_counter()
    corpus = gen.tick_corpus(ctx.seed, N_FILES, PER_FILE)
    raw_dir = ctx.run.sub("raw")
    _write_corpus(corpus, raw_dir)
    prep_s = time.perf_counter() - t
    warm = gen.tick_corpus(ctx.seed + 1_000_003, WARM_FILES, PER_FILE)
    warm_dir = ctx.run.sub("raw_warm")
    _write_corpus(warm, warm_dir)
    _round(ctx, warm_dir, "warm")
    return {"corpus": corpus, "raw_dir": raw_dir, "prep_s": prep_s, "rounds": []}


def measure(ctx, st: dict, seconds: float) -> dict:
    if ctx.trace:
        streamstats.trace_upserts(ctx)
    for i in range(max(1, int(seconds // ROUND_S))):
        st["rounds"].append(_round(ctx, st["raw_dir"], f"r{i}"))
    batches = [b for r in st["rounds"] for b in r["progress"] if b["input_rows"] > 0]
    wall = sum(r["wall"] for r in st["rounds"])
    st["detail"] = {"round_s": [r["wall"] for r in st["rounds"]],
                    "batches": [{k: b[k] for k in ("trigger_ms", "add_batch_ms", "input_rows")}
                                for b in batches]}
    return {
        "op_ms": [b["trigger_ms"] for b in batches],
        "ops_per_s": st["corpus"].records * len(st["rounds"]) / wall,
        "attempted": len(batches),
    }


def round_errors(bars: list[tuple], want: list[tuple], n_dlq: int,
                 malformed: int, dropped: int) -> list[str]:
    """Bars equal the oracle; DLQ rows equal the malformed count; the
    watermark dropped nothing."""
    errors = []
    bad = oracle.bars_mismatch(bars, want)
    if bad:
        errors.append(bad)
    if n_dlq != malformed:
        errors.append(f"dlq rows {n_dlq} != malformed {malformed}")
    if dropped:
        errors.append(f"watermark dropped {dropped} rows")
    return errors


def check(ctx, st: dict) -> list[str]:
    c = st["corpus"]
    want = oracle.oracle_bars(oracle.ticks_con(c.symbol, c.price, c.volume, c.event_us))
    errors = []
    for r in st["rounds"]:
        errors += round_errors(
            oracle.spark_bars(ctx.spark, os.path.join(r["dir"], "bars")), want,
            ctx.spark.read.parquet(os.path.join(r["dir"], "dlq")).count(), c.malformed,
            sum(b["dropped_by_watermark"] for b in r["progress"]))
    return errors


def layers(ctx, st: dict) -> dict:
    for r in st["rounds"]:
        streamstats.add_batch_spans(ctx.tracer, r["progress"], os.path.basename(r["dir"]), r["span"])
    out = streamstats.layer_metrics(ctx, [b for r in st["rounds"] for b in r["progress"]])
    c = st["corpus"]
    n_dlq = ctx.spark.read.parquet(os.path.join(st["rounds"][-1]["dir"], "dlq")).count()
    out["sources.dlq.valid_ratio"] = (c.records - n_dlq) / c.records
    return out
