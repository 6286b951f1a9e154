"""Structured Streaming path: decode → watermark window agg → idempotent
upsert.  Mirrors the reference aggregator's invariants (SURVEY.md §5):
idempotence (rerun ⇒ same table), late-data refinement, DLQ-not-crash."""

from __future__ import annotations

import json

import pytest

from stockpulse_batch_realtime_etl_spark.operators.ohlcv import ohlcv_bars
from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream
from stockpulse_batch_realtime_etl_spark.streaming import job


def tick_json(symbol, price, volume, minute, second=0):
    return json.dumps(
        {
            "symbol": symbol,
            "price": price,
            "volume": volume,
            "event_time": f"2024-01-15T12:{minute:02d}:{second:02d}+00:00",
        }
    )


BATCH1 = [
    tick_json("AAPL", 190.0, 100, 5, 10),
    tick_json("AAPL", 191.5, 200, 5, 40),
    tick_json("AAPL", 192.0, 300, 6, 5),
    tick_json("MSFT", 415.0, 50, 5, 20),
    '{"broken json',
    '{"symbol": "NOPRICE", "event_time": "2024-01-15T12:05:00Z"}',
]

# late tick for the already-seen 12:05 bucket (within watermark)
BATCH2 = [tick_json("AAPL", 189.0, 50, 5, 55)]


def run_stream(spark, src_dir, table, ckpt, dlq, dlq_ckpt):
    raw = job.raw_json_stream(spark, src_dir)
    ticks, failed = job.tick_stream_from_raw(raw)
    q1 = job.start_bar_aggregation(
        ticks.select("symbol", "price", "volume", "event_time"),
        table, ckpt, watermark="10 minutes", available_now=True,
    )
    q2 = job.start_dlq_sink(failed, dlq, dlq_ckpt, available_now=True)
    q1.awaitTermination(120)
    q2.awaitTermination(120)


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    p = {
        "src": str(root / "src"),
        "table": str(root / "bars"),
        "ckpt": str(root / "ckpt"),
        "dlq": str(root / "dlq"),
        "dlq_ckpt": str(root / "dlq_ckpt"),
    }
    (root / "src").mkdir()
    return p


def bars_rows(spark, table):
    df = spark.read.parquet(table).drop("bucket_date")
    return {(r.symbol, str(r.bucket_start)): r for r in df.collect()}


def test_stream_end_to_end(spark, paths):
    with open(f"{paths['src']}/batch1.jsonl", "w") as f:
        f.write("\n".join(BATCH1))
    run_stream(spark, paths["src"], paths["table"], paths["ckpt"],
               paths["dlq"], paths["dlq_ckpt"])

    bars = bars_rows(spark, paths["table"])
    aapl5 = bars[("AAPL", "2024-01-15 12:05:00")]
    assert aapl5.open == 190.0 and aapl5.close == 191.5
    assert aapl5.high == 191.5 and aapl5.low == 190.0
    assert aapl5.volume_sum == 300 and aapl5.tick_count == 2
    assert bars[("AAPL", "2024-01-15 12:06:00")].tick_count == 1
    assert bars[("MSFT", "2024-01-15 12:05:00")].tick_count == 1

    # malformed + missing-price rows dead-lettered, not crashed (ST10)
    dlq = spark.read.parquet(paths["dlq"])
    assert dlq.count() == 2


def test_stream_matches_batch_aggregation(spark, paths):
    # streaming result == batch ohlcv_bars over the same valid ticks
    raw = spark.read.text(f"{paths['src']}/batch1.jsonl")
    ticks = split_raw_stream(raw).ticks.select(
        "symbol", "price", "volume", "event_time"
    )
    batch = {
        (r.symbol, str(r.bucket_start)): r for r in ohlcv_bars(ticks).collect()
    }
    stream = bars_rows(spark, paths["table"])
    assert set(batch) == set(stream)
    for k in batch:
        assert batch[k].open == stream[k].open
        assert batch[k].volume_sum == stream[k].volume_sum


def test_rerun_is_idempotent(spark, paths):
    # restart from the same checkpoint with no new data → table unchanged (ST3)
    before = bars_rows(spark, paths["table"])
    run_stream(spark, paths["src"], paths["table"], paths["ckpt"],
               paths["dlq"], paths["dlq_ckpt"])
    after = bars_rows(spark, paths["table"])
    assert set(before) == set(after)
    for k in before:
        assert before[k].tick_count == after[k].tick_count


def test_late_data_refines_bar(spark, paths):
    # late tick within watermark → its bucket is recomputed and upserted (ST6)
    with open(f"{paths['src']}/batch2.jsonl", "w") as f:
        f.write("\n".join(BATCH2))
    run_stream(spark, paths["src"], paths["table"], paths["ckpt"],
               paths["dlq"], paths["dlq_ckpt"])
    bars = bars_rows(spark, paths["table"])
    aapl5 = bars[("AAPL", "2024-01-15 12:05:00")]
    assert aapl5.tick_count == 3
    assert aapl5.close == 189.0          # 12:05:55 is now the last tick
    assert aapl5.low == 189.0
    assert aapl5.volume_sum == 350
    # untouched buckets retained by the partition-merge (not clobbered)
    assert bars[("AAPL", "2024-01-15 12:06:00")].tick_count == 1
    assert bars[("MSFT", "2024-01-15 12:05:00")].tick_count == 1


def test_upsert_batch_unit_idempotent(spark, tmp_path):
    table = str(tmp_path / "bars")
    df = spark.createDataFrame(
        [("AAPL", "2024-01-15 12:05:00", 1.0, 2.0, 0.5, 1.5, 10, 2)],
        "symbol string, bucket_start string, open double, high double, "
        "low double, close double, volume_sum long, tick_count int",
    ).selectExpr("symbol", "cast(bucket_start as timestamp) bucket_start",
                 "open", "high", "low", "close", "volume_sum", "tick_count")
    job.upsert_bars_batch(df, table)
    job.upsert_bars_batch(df, table)            # same batch twice
    out = spark.read.parquet(table)
    assert out.count() == 1                      # keyed upsert, no dupes

    # new version of the same key wins
    df2 = df.withColumn("close", df.close * 0 + 9.9)
    job.upsert_bars_batch(df2, table)
    row = spark.read.parquet(table).collect()[0]
    assert row.close == 9.9 and spark.read.parquet(table).count() == 1


def test_upsert_writes_audit_row(spark, tmp_path):
    """ST1 parity artifact: each micro-batch records an etl_runs-shaped audit
    row (source, records_processed, status, started_at, completed_at —
    init.sql:41-48) when audit_path is given."""
    import datetime as dt

    bars = spark.createDataFrame(
        [("AAPL", dt.datetime(2024, 1, 15, 12, 5), 1.0, 2.0, 0.5, 1.5, 100, 3)],
        "symbol string, bucket_start timestamp, open double, high double, "
        "low double, close double, volume_sum long, tick_count long",
    )
    table = str(tmp_path / "bars")
    audit = str(tmp_path / "audit")
    job.upsert_bars_batch(bars, table, audit_path=audit)
    (row,) = spark.read.parquet(audit).collect()
    assert row.source == "aggregator"
    assert row.records_processed == 1
    assert row.status == "complete"
    assert row.completed_at >= row.started_at


def test_streaming_dedup_collapses_redelivered_rows(spark):
    """The bounded dedup run streams the corpus + a redelivered 20% slice;
    output must equal the clean corpus' DISTINCT keys with no duplicates."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_dedup_available_now,
    )

    out = run_dedup_available_now(spark, "/root/testdata/sf0.001")
    total = out.count()
    distinct = out.select("symbol", "event_time").distinct().count()
    assert total == distinct > 0


def test_metrics_listener_captures_progress(spark, tmp_path):
    """Prometheus-analog (reference main.py:47-67): the progress listener
    records one row per micro-batch with rate/duration/state columns."""
    from stockpulse_batch_realtime_etl_spark.streaming import metrics

    src = tmp_path / "src"
    src.mkdir()
    (src / "b.jsonl").write_text("\n".join(BATCH1))
    listener = metrics.attach(spark)
    try:
        raw = job.raw_json_stream(spark, str(src))
        ticks, _ = job.tick_stream_from_raw(raw)
        q = job.start_bar_aggregation(
            ticks.select("symbol", "price", "volume", "event_time"),
            str(tmp_path / "bars"), str(tmp_path / "ckpt"),
            watermark="10 minutes", available_now=True,
        )
        q.awaitTermination(120)
        # listener bus is async — wait briefly for delivery
        import time

        for _ in range(40):
            if listener.snapshot():
                break
            time.sleep(0.25)
    finally:
        metrics.detach(spark, listener)
    rows = listener.to_df(spark).collect()
    assert rows, "no progress events captured"
    assert any(r.num_input_rows > 0 for r in rows)
    assert all(r.batch_id >= 0 for r in rows)


def test_streaming_session_bars_match_batch_sessionization(spark):
    """The bounded complete-mode session run must equal batch session
    aggregation of the same decoded ticks (same gap, same agg exprs)."""
    from pyspark.sql import functions as F

    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import (
        bar_agg_exprs,
        session_bars,
    )
    from stockpulse_batch_realtime_etl_spark.sources.dlq import (
        split_raw_stream,
    )
    from stockpulse_batch_realtime_etl_spark.sources.ticks import (
        raw_json_corpus,
    )
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_session_bars_available_now,
    )

    sf = "/root/testdata/sf0.001"
    got = run_session_bars_available_now(spark, sf, gap="5 minutes")
    ticks = split_raw_stream(raw_json_corpus(spark, sf)).ticks.select(
        "symbol", "price", "volume", "event_time"
    )
    want = session_bars(ticks, 5).select(
        "symbol", "session_start", "open", "high", "low", "close",
        F.col("volume_sum").cast("long").alias("volume_sum"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )
    gs = sorted(map(tuple, got.select(*want.columns).collect()))
    ws = sorted(map(tuple, want.collect()))
    assert gs == ws


def test_percentile_summary_exact_interpolation(spark):
    from stockpulse_batch_realtime_etl_spark.streaming import metrics

    rows = [("q", i, n, 0.0, 0.0, 100, 0) for i, n in enumerate([10, 20, 30, 40])]
    df = spark.createDataFrame(rows, metrics.PROGRESS_SCHEMA)
    r = metrics.percentile_summary(df, "num_input_rows").collect()[0]
    assert (r.metric, r.n_batches, r.total) == ("num_input_rows", 4, 100)
    assert r.p50 == 25.0  # (20+30)/2 — continuous interpolation
    assert r.p95 == 38.5 and r.p99 == 39.7
    # works over the wall-clock column too (the operational path)
    d = metrics.percentile_summary(df, "batch_duration_ms").collect()[0]
    assert d.p50 == 100.0 and d.n_batches == 4


def test_metrics_probe_batches_are_days(spark):
    """One micro-batch per event day, listener-captured: 30 batches whose
    input rows sum to the full corpus."""
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_metrics_probe,
    )

    df = run_metrics_probe(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 30
    assert sum(r.num_input_rows for r in rows) == 1000
    assert all(r.query_name == "metrics_probe" for r in rows)


def test_sector_rollup_stream_static_join_matches_batch(spark):
    """stream-static join end-to-end: final sector rollup equals the batch
    join + GROUP BY over the same decoded corpus."""
    from pyspark.sql import functions as F
    from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream
    from stockpulse_batch_realtime_etl_spark.sources.ticks import raw_json_corpus
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_sector_rollup_available_now,
        symbol_sector_dim,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.sector, r.bucket_start): (
            round(r.high, 4), round(r.low, 4), round(r.avg_price_raw, 4),
            r.volume_sum, r.tick_count,
        )
        for r in run_sector_rollup_available_now(spark, sf).collect()
    }
    ticks = split_raw_stream(raw_json_corpus(spark, sf)).ticks
    batch = (
        ticks.join(symbol_sector_dim(spark, sf), "symbol")
        .groupBy("sector", F.date_trunc("minute", "event_time").alias("b"))
        .agg(
            F.round(F.max("price"), 4).alias("high"),
            F.round(F.min("price"), 4).alias("low"),
            F.round(F.avg("price"), 4).alias("avg_price"),
            F.sum(F.coalesce("volume", F.lit(0))).alias("volume_sum"),
            F.count(F.lit(1)).alias("tick_count"),
        )
    )
    want = {
        (r.sector, r.b): (r.high, r.low, r.avg_price, r.volume_sum, r.tick_count)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_join_matches_batch_equality_join(spark):
    """stream-stream inner join: the appended pair set equals the batch
    same-minute equality join — independent of micro-batch boundaries."""
    from pyspark.sql import functions as F
    from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream
    from stockpulse_batch_realtime_etl_spark.sources.ticks import raw_json_corpus
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_stream_stream_join_available_now,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r.bucket_start, r.purchase_time, r.purchase_price, r.click_time,
         r.click_price)
        for r in run_stream_stream_join_available_now(
            spark, sf, left_symbol="PURCHASE", right_symbol="SIGNUP"
        ).collect()
    )
    ticks = split_raw_stream(raw_json_corpus(spark, sf)).ticks
    a = ticks.filter(F.col("symbol") == "PURCHASE").select(
        F.date_trunc("minute", "event_time").alias("b"),
        F.col("event_time").alias("pt"),
        F.col("price").alias("pp"),
    )
    b = ticks.filter(F.col("symbol") == "SIGNUP").select(
        F.date_trunc("minute", "event_time").alias("b2"),
        F.col("event_time").alias("ct"),
        F.col("price").alias("cp"),
    )
    want = sorted(
        (r.b, r.pt, r.pp, r.ct, r.cp)
        for r in a.join(b, F.col("b") == F.col("b2")).collect()
    )
    assert got == want and len(got) > 0


def test_stream_stream_left_outer_join_null_emission(spark):
    """LEFT OUTER stream-stream join: matches equal the inner join; every
    unmatched purchase in a watermark-EXPIRED window emits exactly one
    null-click row; unmatched purchases in windows the final watermark
    never passed are withheld (still in state at end-of-run)."""
    import datetime as dt

    from pyspark.sql import functions as F
    from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream
    from stockpulse_batch_realtime_etl_spark.sources.ticks import raw_json_corpus
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_stream_stream_join_available_now,
    )

    sf = "/root/testdata/sf0.001"
    out = run_stream_stream_join_available_now(
        spark, sf, left_symbol="PURCHASE", right_symbol="SIGNUP",
        how="left_outer",
    ).collect()
    matched = sorted(
        (r.bucket_start, r.purchase_time, r.purchase_price, r.click_time,
         r.click_price)
        for r in out if r.click_time is not None
    )
    nulls = sorted(
        (r.bucket_start, r.purchase_time, r.purchase_price)
        for r in out if r.click_time is None
    )

    ticks = split_raw_stream(raw_json_corpus(spark, sf)).ticks
    a = ticks.filter(F.col("symbol") == "PURCHASE").select(
        F.date_trunc("minute", "event_time").alias("b"),
        F.col("event_time").alias("pt"),
        F.col("price").alias("pp"),
    )
    b = ticks.filter(F.col("symbol") == "SIGNUP").select(
        F.date_trunc("minute", "event_time").alias("b2"),
        F.col("event_time").alias("ct"),
        F.col("price").alias("cp"),
    )
    want_matched = sorted(
        (r.b, r.pt, r.pp, r.ct, r.cp)
        for r in a.join(b, F.col("b") == F.col("b2")).collect()
    )
    assert matched == want_matched and len(matched) > 0

    # final watermark = min(max purchase time, max signup time) - 2 min;
    # null rows appear exactly for unmatched purchases whose window END
    # (bucket + 1 min) the watermark reached
    wm = min(
        a.agg(F.max("pt")).collect()[0][0],
        b.agg(F.max("ct")).collect()[0][0],
    ) - dt.timedelta(minutes=2)
    want_nulls = sorted(
        (r.b, r.pt, r.pp)
        for r in a.join(b, F.col("b") == F.col("b2"), "left_anti").collect()
        if r.b + dt.timedelta(minutes=1) <= wm
    )
    assert nulls == want_nulls and len(nulls) > 0


def test_publish_atomic_evicts_markerless_partial_dest(tmp_path):
    """A dest left WITHOUT Spark's _SUCCESS marker (crashed run) must be
    evicted and replaced, not treated as 'another process published' —
    otherwise every cold start reuses the corrupt corpus forever."""
    import os

    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        _publish_atomic,
    )

    def write(d):
        os.makedirs(d)
        with open(os.path.join(d, "part-0"), "w") as f:
            f.write("fresh")
        open(os.path.join(d, "_SUCCESS"), "w").close()

    # partial dest: exists, no _SUCCESS
    dest = str(tmp_path / "corpus")
    os.makedirs(dest)
    with open(os.path.join(dest, "part-0"), "w") as f:
        f.write("corrupt-partial")
    _publish_atomic(dest, write)
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert open(os.path.join(dest, "part-0")).read() == "fresh"

    # complete dest: the loser discards its copy, winner's content stays
    def write_other(d):
        os.makedirs(d)
        with open(os.path.join(d, "part-0"), "w") as f:
            f.write("loser")
        open(os.path.join(d, "_SUCCESS"), "w").close()

    _publish_atomic(dest, write_other)
    assert open(os.path.join(dest, "part-0")).read() == "fresh"
    assert not [p for p in os.listdir(tmp_path) if ".tmp." in p]


def _make_dest(path, content, success):
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0"), "w") as f:
        f.write(content)
    if success:
        open(os.path.join(path, "_SUCCESS"), "w").close()


def _complete_writer(content):
    def write(d):
        _make_dest(d, content, success=True)

    return write


def _interleave_rename(monkeypatch, trigger_dst_marker, interference):
    """Patch os.rename so that the FIRST call whose destination contains
    ``trigger_dst_marker`` runs ``interference()`` before delegating — a
    deterministic replay of 'another process acts at exactly the TOCTOU
    window' without real thread timing."""
    import os

    real = os.rename
    fired = {"done": False}

    def wrapper(src, dst):
        if not fired["done"] and trigger_dst_marker in str(dst):
            fired["done"] = True
            interference()
        return real(src, dst)

    monkeypatch.setattr(os, "rename", wrapper)


def test_publish_atomic_concurrent_good_publish_is_never_deleted_in_place(
    tmp_path, monkeypatch
):
    """The round-7 ADVICE race: dest is marker-less at the check, but a
    concurrent publisher lands a GOOD copy before our eviction.  The
    tombstone design moves that copy aside (readers mid-read keep their
    open files; nothing is rmtree'd in place) and our own complete copy
    wins the retry — end state is exactly one complete dest and no stale
    side dirs."""
    import os

    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        _publish_atomic,
    )

    dest = str(tmp_path / "corpus")
    _make_dest(dest, "crashed-partial", success=False)

    def other_process_publishes_good_copy():
        # between our marker check and our eviction rename
        import shutil

        shutil.rmtree(dest)
        _make_dest(dest, "winner-b", success=True)

    _interleave_rename(
        monkeypatch,
        f".stale.{os.getpid()}.",
        other_process_publishes_good_copy,
    )
    _publish_atomic(dest, _complete_writer("ours"))
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert open(os.path.join(dest, "part-0")).read() in ("ours", "winner-b")
    leftovers = [p for p in os.listdir(tmp_path) if p != "corpus"]
    assert not leftovers, f"stale side dirs survived: {leftovers}"


def test_publish_atomic_lost_retry_race_to_complete_copy_discards_quietly(
    tmp_path, monkeypatch
):
    """Both the first rename AND the retry lose: another process evicts the
    stale dest (our tombstone rename gets OSError) and publishes a complete
    copy before our retry.  We must keep the winner, discard our tmp, and
    raise nothing."""
    import os
    import shutil

    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        _publish_atomic,
    )

    dest = str(tmp_path / "corpus")
    _make_dest(dest, "crashed-partial", success=False)
    real_rename = os.rename
    state = {"phase": 0}

    def wrapper(src, dst):
        if f".stale.{os.getpid()}." in str(dst) and state["phase"] == 0:
            # other process already evicted AND republished complete: our
            # tombstone rename sees no dest → OSError
            state["phase"] = 1
            shutil.rmtree(dest)
            _make_dest(dest, "winner-b", success=True)
            raise OSError("dest vanished under us")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", wrapper)
    _publish_atomic(dest, _complete_writer("ours"))  # must not raise
    assert open(os.path.join(dest, "part-0")).read() == "winner-b"
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    leftovers = [p for p in os.listdir(tmp_path) if p != "corpus"]
    assert not leftovers, f"stale side dirs survived: {leftovers}"


def test_publish_atomic_double_markerless_loser_surfaces_loudly(
    tmp_path, monkeypatch
):
    """If the retry ALSO loses to a copy that is still marker-less (two
    crashed publishers back-to-back), no retry count fixes it — the
    OSError must propagate instead of silently leaving a corrupt dest
    to be reused forever."""
    import os
    import shutil

    import pytest as _pytest

    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        _publish_atomic,
    )

    dest = str(tmp_path / "corpus")
    _make_dest(dest, "crashed-partial", success=False)
    real_rename = os.rename
    state = {"phase": 0}

    def wrapper(src, dst):
        if f".stale.{os.getpid()}." in str(dst) and state["phase"] == 0:
            state["phase"] = 1
            shutil.rmtree(dest)
            _make_dest(dest, "another-partial", success=False)
            raise OSError("dest vanished under us")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", wrapper)
    with _pytest.raises(OSError):
        _publish_atomic(dest, _complete_writer("ours"))


def test_publish_atomic_same_pid_repeat_with_leftover_tombstone(
    tmp_path, monkeypatch
):
    """Round-8 ADVICE: tombstone names keyed on pid alone collide when the
    SAME process publishes the same dest twice and an earlier tombstone of
    its own is still on disk (thread overlap, or a crash that left one
    behind).  With per-invocation-unique names, the second publish must
    succeed even though a stale `<dest>.stale.<pid>.*`-shaped dir already
    exists — and, to prove uniqueness rather than luck, a pre-seeded
    NON-EMPTY dir at the exact pid-only legacy name must never be the
    rename target."""
    import os

    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        _publish_atomic,
    )

    dest = str(tmp_path / "corpus")
    # the legacy pid-only tombstone name, non-empty: os.rename onto it
    # would raise OSError/ENOTEMPTY if the code ever reused that exact name
    legacy = f"{dest}.stale.{os.getpid()}"
    _make_dest(legacy, "old-tombstone", success=False)
    # dest is a marker-less partial → the eviction path must engage
    _make_dest(dest, "crashed-partial", success=False)
    _publish_atomic(dest, _complete_writer("ours"))  # must not raise
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert open(os.path.join(dest, "part-0")).read() == "ours"
    # the pre-seeded legacy dir must be untouched (we never renamed onto it)
    assert open(os.path.join(legacy, "part-0")).read() == "old-tombstone"
    # and our own unique tombstone was cleaned up: nothing else remains
    leftovers = sorted(
        p
        for p in os.listdir(tmp_path)
        if p not in ("corpus", os.path.basename(legacy))
    )
    assert not leftovers, f"stale side dirs survived: {leftovers}"


def _race_publish(args):
    """Child worker for the multiprocess soak (module-level for pickling):
    publish a complete copy tagged with this worker's id."""
    dest, wid = args
    import os as _os

    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        _publish_atomic,
    )

    def write(d):
        _os.makedirs(d, exist_ok=True)
        with open(_os.path.join(d, "part-0"), "w") as f:
            f.write(f"worker-{wid}")
        open(_os.path.join(d, "_SUCCESS"), "w").close()

    _publish_atomic(dest, write)
    return wid


def test_publish_atomic_multiprocess_soak(tmp_path):
    """TRUE cross-process race: 4 processes × 10 rounds publish the same
    dest concurrently (fresh dest per round, pre-seeded with a marker-less
    partial on odd rounds).  Invariants after every round: dest exists,
    carries _SUCCESS, holds exactly one COMPLETE worker copy, and no
    .tmp./.stale. side dirs survive.  The deterministic interleaving tests
    above pin each branch; this pins the composition under real timing."""
    import os
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(max_workers=4) as pool:
        for rnd in range(10):
            dest = str(tmp_path / f"corpus{rnd}")
            if rnd % 2:
                _make_dest(dest, "crashed-partial", success=False)
            list(pool.map(_race_publish, [(dest, w) for w in range(4)]))
            assert os.path.exists(os.path.join(dest, "_SUCCESS")), rnd
            content = open(os.path.join(dest, "part-0")).read()
            assert content.startswith("worker-"), (rnd, content)
            side = [
                p
                for p in os.listdir(tmp_path)
                if ".tmp." in p or ".stale." in p
            ]
            assert not side, (rnd, side)


def _race_daily(args):
    """Child worker for the daily-corpus soak: even ids PUBLISH a complete
    day-partitioned copy (exercising the tombstone swap against a
    pre-seeded marker-less partial); odd ids run the mtime-pinning walk,
    which must survive the swap's momentary dest absence."""
    dest, wid = args
    import os as _os

    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        _pin_daily_mtimes,
        _publish_atomic,
    )

    if wid % 2 == 0:
        def write(d):
            for k in range(3):
                ddir = _os.path.join(d, f"day=2024-01-0{k + 1}")
                _os.makedirs(ddir, exist_ok=True)
                with open(_os.path.join(ddir, "part-0.txt"), "w") as f:
                    f.write(f"worker-{wid}-day-{k}")
            open(_os.path.join(d, "_SUCCESS"), "w").close()

        _publish_atomic(dest, write)
    else:
        _pin_daily_mtimes(dest)
    return wid


def test_daily_corpus_pin_survives_concurrent_publish(tmp_path):
    """TRUE cross-process race for the mtime-pinning walk: publishers
    tombstone-swap a marker-less dest while pinners walk it — the walk's
    FileNotFoundError retry must absorb the swap window (the round-8
    review's TOCTOU finding), and after quiesce the day dirs carry
    strictly increasing pinned mtimes."""
    import os
    from concurrent.futures import ProcessPoolExecutor

    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        _pin_daily_mtimes,
    )

    with ProcessPoolExecutor(max_workers=4) as pool:
        for rnd in range(6):
            dest = str(tmp_path / f"daily{rnd}")
            if rnd % 2:
                # marker-less partial → publishers take the tombstone path
                os.makedirs(os.path.join(dest, "day=2024-01-01"))
                with open(
                    os.path.join(dest, "day=2024-01-01", "part-0.txt"), "w"
                ) as f:
                    f.write("crashed-partial")
            # workers 1,3 pin concurrently with workers 0,2 publishing;
            # no call may raise
            list(pool.map(_race_daily, [(dest, w) for w in range(4)]))
            assert os.path.exists(os.path.join(dest, "_SUCCESS")), rnd
            _pin_daily_mtimes(dest)
            days = sorted(
                x for x in os.listdir(dest) if x.startswith("day=")
            )
            assert len(days) == 3, (rnd, days)
            stamps = [
                os.stat(
                    os.path.join(dest, d, os.listdir(os.path.join(dest, d))[0])
                ).st_mtime
                for d in days
            ]
            assert stamps == sorted(stamps) and len(set(stamps)) == 3, (
                rnd,
                stamps,
            )


def test_stream_stream_full_outer_join_both_side_null_emission(spark):
    """FULL OUTER stream-stream join: matches equal the inner join, and
    BOTH sides' unmatched rows in watermark-expired windows emit exactly
    one null-padded row each; rows in unexpired windows stay withheld."""
    import datetime as dt

    from pyspark.sql import functions as F
    from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream
    from stockpulse_batch_realtime_etl_spark.sources.ticks import raw_json_corpus
    from stockpulse_batch_realtime_etl_spark.streaming.job import (
        run_stream_stream_join_available_now,
    )

    sf = "/root/testdata/sf0.001"
    out = run_stream_stream_join_available_now(
        spark, sf, left_symbol="PURCHASE", right_symbol="SIGNUP",
        how="full_outer",
    ).collect()
    matched = sorted(
        (r.bucket_start, r.purchase_time, r.purchase_price,
         r.click_time, r.click_price)
        for r in out if r.click_time is not None and r.purchase_time is not None
    )
    left_nulls = sorted(
        (r.bucket_start, r.purchase_time, r.purchase_price)
        for r in out if r.click_time is None
    )
    right_nulls = sorted(
        (r.bucket_start, r.click_time, r.click_price)
        for r in out if r.purchase_time is None
    )

    ticks = split_raw_stream(raw_json_corpus(spark, sf)).ticks
    a = ticks.filter(F.col("symbol") == "PURCHASE").select(
        F.date_trunc("minute", "event_time").alias("b"),
        F.col("event_time").alias("pt"),
        F.col("price").alias("pp"),
    )
    b = ticks.filter(F.col("symbol") == "SIGNUP").select(
        F.date_trunc("minute", "event_time").alias("b2"),
        F.col("event_time").alias("ct"),
        F.col("price").alias("cp"),
    )
    want_matched = sorted(
        (r.b, r.pt, r.pp, r.ct, r.cp)
        for r in a.join(b, F.col("b") == F.col("b2")).collect()
    )
    assert matched == want_matched and len(matched) > 0

    wm = min(
        a.agg(F.max("pt")).collect()[0][0],
        b.agg(F.max("ct")).collect()[0][0],
    ) - dt.timedelta(minutes=2)
    want_left = sorted(
        (r.b, r.pt, r.pp)
        for r in a.join(b, F.col("b") == F.col("b2"), "left_anti").collect()
        if r.b + dt.timedelta(minutes=1) <= wm
    )
    want_right = sorted(
        (r.b2, r.ct, r.cp)
        for r in b.join(a, F.col("b2") == F.col("b"), "left_anti").collect()
        if r.b2 + dt.timedelta(minutes=1) <= wm
    )
    assert left_nulls == want_left and len(left_nulls) > 0
    assert right_nulls == want_right and len(right_nulls) > 0


_RUN_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
)


def test_bounded_run_leaves_caller_conf_untouched(spark, monkeypatch):
    """A bounded run sets its confs on its own child session: while the
    stream is being built, the caller's session keeps its own values and
    the run's session carries the run's."""
    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "13")
    before = {k: caller.conf.get(k) for k in _RUN_CONFS}
    seen = {}
    real = job.tick_stream_from_raw

    def spy(raw):
        seen["caller"] = {k: caller.conf.get(k) for k in _RUN_CONFS}
        seen["run"] = {k: raw.sparkSession.conf.get(k) for k in _RUN_CONFS}
        return real(raw)

    monkeypatch.setattr(job, "tick_stream_from_raw", spy)
    bars = job.run_pipeline_available_now(caller, "/root/testdata/sf0.001")
    assert bars.count() > 0
    assert seen["caller"] == before == {
        "spark.sql.shuffle.partitions": "13",
        "spark.sql.streaming.noDataMicroBatches.enabled": "true",
    }
    assert seen["run"] == {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    assert {k: caller.conf.get(k) for k in _RUN_CONFS} == before


def _norm_rows(cols, rows):
    def cell(v):
        if v is None:
            return "NULL"
        return f"{v:.6g}" if isinstance(v, float) else str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(cell(r[i]) for i in order) for r in rows)


def test_concurrent_bounded_runs_match_oracles(spark):
    """Two bounded runs started from two threads on ONE session — one that
    skips the trailing no-data batch and one whose outer-join rows depend
    on it — both equal their DuckDB oracles."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    import __spark_entry__ as entry_mod
    from stockpulse_batch_realtime_etl_spark.schemas import TESTDATA_TABLES

    sf = "/root/testdata/sf0.001"
    names = ["streaming_dedup_ticks", "streaming_pair_join_outer"]
    queries = entry_mod.queries()

    def run(name):
        df = queries[name](spark, sf)
        return _norm_rows(df.columns, df.collect())

    with ThreadPoolExecutor(max_workers=2) as pool:
        got = dict(zip(names, pool.map(run, names)))

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    for name in names:
        rel = con.execute(entry_mod.oracle_sql()[name])
        want = _norm_rows([d[0] for d in rel.description], rel.fetchall())
        assert got[name] == want and want, name


_BAR_COLS = (
    "symbol", "bucket_start", "open", "high", "low", "close",
    "volume_sum", "tick_count",
)


# four micro-batches (one file each); later files carry late ticks for bars
# that earlier batches already upserted, all within the 10-minute watermark
_FAULT_FILES = [
    [
        tick_json("AAPL", 190.0, 100, 0, 10),
        tick_json("AAPL", 191.0, 200, 0, 40),
        tick_json("AAPL", 192.0, 300, 1, 5),
        tick_json("MSFT", 415.0, 50, 0, 20),
    ],
    [
        tick_json("AAPL", 193.0, 100, 2, 0),
        tick_json("AAPL", 189.0, 100, 2, 30),
        tick_json("MSFT", 416.0, 60, 1, 50),
        tick_json("AAPL", 188.0, 10, 0, 55),
    ],
    [
        tick_json("AAPL", 195.0, 100, 3, 15),
        tick_json("MSFT", 417.0, 70, 3, 0),
        tick_json("AAPL", 187.0, 20, 1, 30),
        tick_json("MSFT", 414.0, 30, 0, 5),
        '{"broken json',
    ],
    [
        tick_json("AAPL", 196.0, 100, 4, 0),
        tick_json("AAPL", 190.5, 40, 2, 45),
    ],
]


def test_upsert_exactly_once_after_injected_failure(spark, tmp_path, monkeypatch):
    """The upsert of batch k writes the sink and then fails, so the batch
    is in the offset log but not the commit log.  Restarting from the same
    checkpoint replays batch k; the final bars equal an uninterrupted run
    and batch ``ohlcv_bars`` over the same ticks."""
    import os

    from pyspark.errors import StreamingQueryException

    assert "HDFSBacked" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    src = tmp_path / "src"
    src.mkdir()
    for i, lines in enumerate(_FAULT_FILES):
        f = src / f"part{i}.jsonl"
        f.write_text("\n".join(lines))
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))  # discovery order

    def run(table, ckpt):
        raw = job.raw_json_stream(spark, str(src), max_files_per_trigger=1)
        ticks, _failed = job.tick_stream_from_raw(raw)
        job.start_bar_aggregation(
            ticks, table, ckpt, watermark="10 minutes", available_now=True
        ).awaitTermination()

    def bars(table):
        return {
            (r.symbol, r.bucket_start): tuple(r)
            for r in spark.read.parquet(table)
            .select(*_BAR_COLS)
            .collect()
        }

    run(str(tmp_path / "clean"), str(tmp_path / "clean_ckpt"))

    k = 3  # batch_id 2: its late ticks rewrite bars batches 0-1 wrote
    real = job.upsert_bars_batch
    calls = []

    def write_then_fail(batch, table_path, audit_path=None):
        real(batch, table_path, audit_path)
        calls.append(1)
        if len(calls) == k:
            raise RuntimeError("injected failure after the sink write")

    monkeypatch.setattr(job, "upsert_bars_batch", write_then_fail)
    table, ckpt = str(tmp_path / "bars"), str(tmp_path / "ckpt")
    with pytest.raises(StreamingQueryException):
        run(table, ckpt)
    assert os.path.exists(os.path.join(ckpt, "offsets", str(k - 1)))
    assert not os.path.exists(os.path.join(ckpt, "commits", str(k - 1)))

    run(table, ckpt)  # restart: replays batch k-1, then the rest
    assert len(calls) > k
    got = bars(table)
    assert got == bars(str(tmp_path / "clean"))

    ticks = split_raw_stream(spark.read.text(str(src))).ticks
    want = {
        (r.symbol, r.bucket_start): tuple(r)
        for r in ohlcv_bars(ticks).select(*_BAR_COLS).collect()
    }
    assert got == want and len(want) == 8

