"""``serve_live``: the API's read path while bars are being written.

The load follows the reference system's configured envelope (BASELINE.md):
its six symbols, drawn uniformly; a producer cycle of 2 s
(``PRODUCE_INTERVAL=2``) carrying six ticks (the cached yfinance mode, about
3 ticks/s); and the API's query bounds for ``limit`` and ``minutes``.
Set-up generates one
trading session (6.5 h) of that traffic, writes it as the ticks table with
``write_ticks_partitioned``, and feeds it as the first file of a live
``start_bar_aggregation(trigger_secs=0)``, so the bars table holds the
session's bars, and calls each endpoint once as warm-up.  In the timed
region an open-loop producer thread writes the next cycle's file every
``PERIOD_S`` on a fixed schedule, and ``CLIENTS`` closed-loop client
threads each issue a fixed number of blocks of requests, a seeded mix of
the eight serving endpoints.  Each request re-reads its table, as the API
does.  An operation is one request.
"""

from __future__ import annotations

import glob
import itertools
import json
import math
import os
import random
import threading
import time
from collections import defaultdict
from datetime import datetime, timedelta

import gen
import oracle
import streamstats
from common import median
from metrics import SERVING_ENDPOINTS
from tracing import job_stats, set_group

CLIENTS = 2
#: the reference producer's symbols and cycle: six ticks every 2 s
REF_SYMBOLS = ("AAPL", "MSFT", "GOOG", "AMZN", "TSLA", "NVDA")
PERIOD_S = 2.0
LIVE_PER_FILE = len(REF_SYMBOLS)
#: one 6.5 h trading session at the same rate, in 30-minute windows
DAY_FILES, DAY_WINDOW_S = 13, 1800
DAY_PER_FILE = int(DAY_WINDOW_S / PERIOD_S * LIVE_PER_FILE)
#: the API's query bounds: ticks <= 100, bars <= 1440, movers <= 20, window <= 1440 min
LIMITS = {"latest_ticks": 100, "latest_bars": 1440, "movers": 20}
MAX_MINUTES = 1440
#: seconds one block of 8 requests takes a client at the commit that added
#: this benchmark; a run's blocks per client are ``--seconds / BLOCK_S``, a
#: fixed amount of work, so the mix and sample count never change with speed
BLOCK_S = 6.0
#: tries per request.  ``upsert_bars_batch`` overwrites the bars table's
#: date partition in place, so a read that lists its files just before an
#: overwrite fails when it opens them.  The client tries again
#: over a fresh listing, as an API client retries a server error; the time
#: spent counts in the request's wall, each retry is counted
#: (``operators.serving.read_retries``) and a request still failing after
#: ``ATTEMPTS`` tries counts as failed.  Any other error is not retried.
ATTEMPTS = 5
#: a listed file gone when opened; or, between the overwrite's delete of the
#: table's only date partition and its rename of the new one, no data files
#: to list at all
_RACED = ("FileNotFoundException", "FILE_NOT_EXIST", "UNABLE_TO_INFER_SCHEMA")
_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return (dt - _EPOCH) // timedelta(microseconds=1)


def _ticks_df(spark, c: gen.TickCorpus):
    import pandas as pd

    pdf = pd.DataFrame({
        "symbol": c.symbol, "price": c.price,
        "volume": pd.array(c.volume, dtype="Int64"),
        "event_time": pd.to_datetime(c.event_us, unit="us"),
    })
    return spark.createDataFrame(pdf, "symbol string, price double, volume long, event_time timestamp")


def setup(ctx) -> dict:
    from stockpulse_batch_realtime_etl_spark.sources.storage import write_ticks_partitioned
    from stockpulse_batch_realtime_etl_spark.streaming import job

    t = time.perf_counter()
    day = gen.tick_corpus(ctx.seed, DAY_FILES, DAY_PER_FILE, DAY_WINDOW_S,
                          symbols=REF_SYMBOLS, zipf_s=0)
    # the producer runs until the clients finish: room for a 4x slower engine
    n_live = math.ceil(4 * ctx.args.seconds / PERIOD_S) + 2
    live = gen.tick_corpus(ctx.seed + 1_000_003, n_live, LIVE_PER_FILE, PERIOD_S,
                           gen.T0_US + DAY_FILES * DAY_WINDOW_S * 10**6,
                           symbols=REF_SYMBOLS, zipf_s=0)
    prep_s = time.perf_counter() - t
    ticks_path, live_dir, d = ctx.run.sub("ticks"), ctx.run.sub("live"), ctx.run.sub("stream")
    st = {
        "day": day, "ticks_path": ticks_path, "live": live, "live_dir": live_dir,
        "bars_path": os.path.join(d, "bars"), "ckpt": os.path.join(d, "ckpt"),
        "written": [], "requests": [], "prep_s": prep_s, "detail": {},
    }
    if ctx.trace:
        streamstats.trace_upserts(ctx)
    t = time.perf_counter()
    ticks, _failed = job.tick_stream_from_raw(job.raw_json_stream(ctx.spark, live_dir))
    st["query"] = job.start_bar_aggregation(
        ticks, st["bars_path"], st["ckpt"], trigger_secs=0)
    # the session so far: one file for the stream, whose batch runs while
    # the same ticks are written as the ticks table
    _write(st, "day", [line for f in day.files for line in f])
    write_ticks_partitioned(_ticks_df(ctx.spark, day), ticks_path)
    st["query"].processAllAvailable()
    tables_s = time.perf_counter() - t
    _warm_up(ctx, st)
    st["detail"]["setup_s"] = {"prep": prep_s, "tables": tables_s,
                               "warm_requests": time.perf_counter() - t - tables_s}
    return st


def _warm_up(ctx, st: dict) -> None:
    """One request per endpoint, split over the clients."""
    rng = random.Random(f"{ctx.seed}-warm")
    calls = [(ep, _args(rng, ep)) for ep in SERVING_ENDPOINTS]
    _in_threads([lambda part=calls[c::CLIENTS]: [_call(ctx, st, ep, a) for ep, a in part]
                 for c in range(CLIENTS)])


def _in_threads(fns: list) -> None:
    ts = [threading.Thread(target=f) for f in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join()


def _write(st: dict, name: str, lines: list[str]) -> None:
    path = os.path.join(st["live_dir"], f"ticks-{name}.json")
    gen.write_file(path, lines)
    st["written"].append((os.path.basename(path), time.time()))


def _args(rng: random.Random, ep: str) -> dict:
    a = {}
    if ep in ("latest_ticks", "tick_summary", "latest_bars", "bar_summary"):
        a["symbol"] = rng.choice(REF_SYMBOLS)
    if ep in LIMITS:
        a["limit"] = rng.randint(1, LIMITS[ep])
    if ep in ("tick_summary", "bar_summary", "movers"):
        a["minutes"] = rng.randint(1, MAX_MINUTES)
    return a


def _call(ctx, st: dict, ep: str, a: dict):
    """One request: build the endpoint's DataFrame over freshly read tables
    and collect it.  Returns (build_s, collect_s, rows)."""
    from stockpulse_batch_realtime_etl_spark.operators import serving

    spark = ctx.spark
    t0 = time.perf_counter()
    with ctx.tracer.span(f"operators.serving.{ep}.build"):
        if ep == "health_counts":
            df = serving.health_counts(spark.read.parquet(st["ticks_path"]),
                                       spark.read.parquet(st["bars_path"]))
        else:
            path = st["bars_path"] if ep in ("latest_bars", "bar_summary", "movers") else st["ticks_path"]
            df = getattr(serving, ep)(spark.read.parquet(path), **a)
    t1 = time.perf_counter()
    with ctx.tracer.span(f"operators.serving.{ep}.collect"):
        rows = df.collect()
    return t1 - t0, time.perf_counter() - t1, rows


def _client(ctx, st: dict, cid: int, blocks: int, out: list) -> None:
    """Closed loop of ``blocks`` blocks: each block of 8 requests calls every
    endpoint once, in seeded order, so every run has the same endpoint mix."""
    rng = random.Random(f"{ctx.seed}-{cid}")
    todo = [ep for _ in range(blocks)
            for ep in rng.sample(SERVING_ENDPOINTS, len(SERVING_ENDPOINTS))]
    for n, ep in enumerate(todo):
        a = _args(rng, ep)
        op = f"c{cid}r{n}"
        rec = {"ep": ep, "args": a, "op": op}
        if ctx.trace:
            set_group(ctx.spark, op)
        t = time.perf_counter()
        for n_try in range(1, ATTEMPTS + 1):
            try:
                with ctx.tracer.span(f"operators.serving.{ep}", op=op):
                    rec["build_s"], rec["collect_s"], rec["rows"] = _call(ctx, st, ep, a)
                break
            except Exception as e:
                why = raced(e)
                if n_try == ATTEMPTS or not why:
                    rec["error"] = f"{type(e).__name__}: {str(e)[:200]}"
                    break
                rec.setdefault("retried", []).append(why)
        rec["ms"] = (time.perf_counter() - t) * 1e3
        if ctx.trace:
            rec["stats"] = job_stats(ctx.spark, op)
        out.append(rec)


def raced(e: Exception) -> str | None:
    """The marker that shows ``e`` is a read that lost its files to a
    partition overwrite, or None."""
    return next((m for m in _RACED if m in str(e)), None)


def _producer(st: dict, start: float, done: threading.Event) -> None:
    """The ``j``-th live file is due at ``start + j * PERIOD_S``, however far
    behind the engine is, until the clients are done."""
    for j in itertools.count():
        k = len(st["written"]) - 1  # live files follow the session's file
        due = start + j * PERIOD_S
        if k == len(st["live"].files) or done.wait(max(0.0, due - time.time())):
            break
        _write(st, f"{k:05d}", st["live"].files[k])
        st.setdefault("late_s", []).append(time.time() - due)


def measure(ctx, st: dict, seconds: float) -> dict:
    blocks = max(1, int(seconds // BLOCK_S))
    start, ends, done = time.time(), [], threading.Event()

    def client(c: int) -> None:
        _client(ctx, st, c, blocks, st["requests"])
        ends.append(time.time())
        if len(ends) == CLIENTS:
            done.set()

    _in_threads([lambda: _producer(st, start, done)]
                + [lambda c=c: client(c) for c in range(CLIENTS)])
    wall = max(ends) - start
    reqs = st["requests"]
    ok = [r["ms"] for r in reqs if "error" not in r]
    st["detail"]["clients_wall_s"] = wall
    st["retries"] = sum(len(r.get("retried", ())) for r in reqs)
    # latency and throughput of the requests that were served: a failure
    # that comes back fast must not read as a faster read path, and the
    # client time a failure took is not the serving path's either, so the
    # rate is successful requests per second of client time spent on them
    return {
        "op_ms": ok,
        "ops_per_s": CLIENTS * len(ok) / (sum(ok) / 1e3) if ok else 0.0,
        "attempted": len(reqs),
        "failed": len(reqs) - len(ok),
        "notes": {"read_retries": st["retries"]},
    }


def project(ep: str, rows) -> list[tuple]:
    """Response rows as plain tuples in the oracle's column order."""
    if ep == "symbols":
        return [(r.symbol,) for r in rows]
    if ep in ("latest_ticks", "latest_tick_per_symbol"):
        out = [(r.symbol, r.price, r.volume, _us(r.event_time)) for r in rows]
        return sorted(out) if ep == "latest_tick_per_symbol" else out
    if ep == "tick_summary":
        return [(r.symbol, r.tick_count, r.avg_price, r.min_price, r.max_price,
                 r.volume_sum, _us(r.first_tick), _us(r.last_tick)) for r in rows]
    if ep == "health_counts":
        return [(r.check_name, r.n) for r in rows]
    if ep == "latest_bars":
        return [(r.symbol, _us(r.bucket_start), r.open, r.high, r.low, r.close,
                 r.volume_sum, r.tick_count) for r in rows]
    if ep == "bar_summary":
        return [(r.symbol, r.bar_count, r.open, r.high, r.low, r.close,
                 _us(r.first_bucket), _us(r.last_bucket)) for r in rows]
    return [(r.symbol, r.open, r.close, r.change_pct) for r in rows]  # movers


def _drain(ctx, st: dict) -> None:
    q = st.pop("query", None)
    if q is not None:
        q.processAllAvailable()
        st["progress"] = streamstats.progress(q)
        q.stop()


def check(ctx, st: dict) -> list[str]:
    """Ticks responses equal DuckDB; bars responses keep the bar invariants;
    the final bars table equals the oracle over every file written; no bar
    lag is negative."""
    _drain(ctx, st)
    lags = st["lags"] = bar_lags_ms(st)
    st["detail"].update(
        requests=[(r["op"], r["ep"], round(r["ms"], 1), r.get("error"), r.get("retried"))
                  for r in st["requests"]],
        producer_late_ms_max=max(st.get("late_s", [0.0])) * 1e3,
        bar_lag_ms=lags,
    )
    day, live = st["day"], st["live"]
    n_live = len(st["written"]) - 1
    keep = [i for i, f in enumerate(live.file_idx) if f < n_live]
    want = oracle.oracle_bars(oracle.ticks_con(
        *(dc + [lc[i] for i in keep] for dc, lc in (
            (day.symbol, live.symbol), (day.price, live.price),
            (day.volume, live.volume), (day.event_us, live.event_us)))))
    errors = []
    bad = oracle.bars_mismatch(oracle.spark_bars(ctx.spark, st["bars_path"]), want)
    if bad:
        errors.append("final " + bad)
    if any(x is None or x < 0 for x in lags):
        errors.append(f"bar lags of the {n_live} live files: {lags}")
    con = oracle.ticks_con(day.symbol, day.price, day.volume, day.event_us)
    for r in st["requests"]:
        if "rows" in r:
            why = oracle.check_serving(r["ep"], r["args"], project(r["ep"], r["rows"]), con, len(want))
            if why:
                errors.append(why)
    return errors


def bar_lags_ms(st: dict) -> list[float]:
    """Per live file: commit time of the micro-batch that read it minus the
    time the producer finished writing it (None if no batch read it).

    A file is tied to its batch through the file source's log offset: the
    source log (``ckpt/sources/0``) gives each file's offset, and each
    batch's progress gives the last offset it read.  Batch ids are not
    offsets: a no-data batch advances the one and not the other."""
    offset_of = {}
    for f in glob.glob(os.path.join(st["ckpt"], "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    offset_of[os.path.basename(e["path"])] = e["batchId"]
    commit_of, last = {}, -1
    for b in sorted(st["progress"], key=lambda b: b["batch_id"]):
        end = b["end_offset"]
        end = json.loads(end) if isinstance(end, str) else end
        if not end:
            continue
        for off in range(last + 1, end["logOffset"] + 1):
            commit_of[off] = b["start"] + b["trigger_ms"] / 1e3
        last = max(last, end["logOffset"])
    return [(commit_of[offset_of[name]] - done) * 1e3
            if offset_of.get(name) in commit_of else None
            for name, done in st["written"][1:]]


def layers(ctx, st: dict) -> dict:
    streamstats.add_batch_spans(ctx.tracer, st["progress"], "live")
    out = streamstats.layer_metrics(ctx, st["progress"])
    out["streaming.bar_lag_ms_p50"] = median([x for x in st["lags"] if x is not None])
    out["operators.serving.read_retries"] = st["retries"]
    by_ep = defaultdict(list)
    for r in st["requests"]:
        if "rows" in r:
            by_ep[r["ep"]].append(r)
    for ep, rs in by_ep.items():
        p = f"operators.serving.{ep}."
        out[p + "build_ms"] = median([r["build_s"] * 1e3 for r in rs])
        out[p + "collect_ms"] = median([r["collect_s"] * 1e3 for r in rs])
        out[p + "jobs"] = median([r["stats"]["jobs"] for r in rs])
        out[p + "tasks"] = median([r["stats"]["tasks"] for r in rs])
    return out
