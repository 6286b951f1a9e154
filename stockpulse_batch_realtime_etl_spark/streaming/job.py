"""Streaming ingest + aggregation: the reference's consumer/aggregator loop
as ONE Structured Streaming pipeline.

Reference semantics mapped (SURVEY.md §2.8):

=====  ==================================================================
ST1    hand-rolled etl_runs watermark → ``withWatermark`` + checkpoint
       (Spark persists stream progress + agg state; an etl_runs audit row
       per micro-batch is still written for parity)
ST2    closed-minutes-only emission → watermark-delayed windows; with
       update-mode + upsert the in-progress window refines per batch and
       settles once the watermark passes (strictly better than the
       reference, which silently drops post-watermark late ticks)
ST3    ``INSERT … ON CONFLICT DO UPDATE`` → foreachBatch merge keyed on
       (symbol, bucket_start) with date-partition rewrite
ST4    30 s aggregation cadence → ``trigger(processingTime="30 seconds")``
ST5    tumbling 1-minute window → ``window(event_time, "1 minute")``
ST6    late data within watermark → captured by state update + re-upsert
ST7    at-least-once consumer → checkpointed source offsets + idempotent
       (keyed) sink = effectively-once
=====  ==================================================================

Sink design without Delta: the bars table is Parquet partitioned by
``bucket_date``.  Each micro-batch rewrites ONLY the date partitions it
touches (dynamic partition overwrite): existing rows for other keys in the
touched partitions are retained via an anti-join union.  At production
scale a day partition of 1-minute bars is ~1440 × n_symbols rows — small,
so the rewrite amplification is bounded and bulk backfills stay partition-
parallel.  (With Delta/Iceberg available this collapses to ``MERGE INTO``;
the surrounding plumbing is unchanged.)
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from stockpulse_batch_realtime_etl_spark.operators.ohlcv import bar_agg_exprs
from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream

BARS_KEY = ("symbol", "bucket_start")


def raw_json_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based stand-in for the Kafka source: a directory of JSON-lines
    files with a ``value`` string column (same shape the Kafka source's
    ``selectExpr("CAST(value AS STRING)")`` yields).  Swapping in the real
    Kafka source is a one-liner::

        spark.readStream.format("kafka")
             .option("kafka.bootstrap.servers", …)
             .option("subscribe", "stock.ticks.v1")
             .option("startingOffsets", "earliest")   # consumer.py:113
    """
    reader = spark.readStream.format("text")  # text source → `value` column
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def tick_stream_from_raw(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Decode + split a raw value stream → (ticks, failed_events)."""
    split = split_raw_stream(raw)
    return split.ticks, split.failed


def windowed_bars(ticks: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window OHLCV aggregation (streaming flavor of
    operators/ohlcv.ohlcv_bars — same aggregate expression list)."""
    return (
        ticks.withWatermark("event_time", watermark)
        .groupBy(
            F.col("symbol"),
            F.window("event_time", "1 minute").alias("w"),
        )
        .agg(*bar_agg_exprs())
        .select(
            "symbol",
            F.col("w.start").alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            "volume_sum",
            "tick_count",
        )
    )


def upsert_bars_batch(
    batch: DataFrame, table_path: str, audit_path: str | None = None
) -> None:
    """foreachBatch body: MERGE the micro-batch into the bars table keyed on
    (symbol, bucket_start) — the reference's ON CONFLICT DO UPDATE
    (aggregator.py:41-51) — rewriting only touched date partitions."""
    spark = batch.sparkSession
    started = time.time()
    batch = batch.withColumn("bucket_date", F.to_date("bucket_start"))
    batch.persist()
    try:
        # one job yields both the row count and the touched partition list
        per_date = batch.groupBy("bucket_date").count().collect()
        n = sum(r["count"] for r in per_date)
        if n == 0:
            # no table rewrite, but the etl_runs audit row is still
            # written — an idle trigger is a liveness heartbeat (ST1)
            if audit_path:
                _write_audit(spark, audit_path, n, started)
            return
        dates = [r["bucket_date"] for r in per_date]
        from pyspark.errors import AnalysisException

        # try-scope is EXACTLY the table read: a wider scope would classify
        # any downstream analysis error (e.g. an unresolved column from a
        # stray file in table_path) as "first batch" and dynamic-overwrite
        # would silently delete other symbols' bars in the touched dates
        try:
            existing_tbl = spark.read.parquet(table_path)
        except AnalysisException:  # first batch: table doesn't exist yet
            merged = batch
        else:
            existing = existing_tbl.filter(F.col("bucket_date").isin(dates))
            keep = existing.join(
                batch.select(*BARS_KEY), list(BARS_KEY), "left_anti"
            )
            merged = keep.unionByName(batch)
        (
            merged.repartition("bucket_date")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_date")
            .parquet(table_path)
        )
        if audit_path:
            _write_audit(spark, audit_path, n, started)
    finally:
        batch.unpersist()


def _write_audit(
    spark: SparkSession, audit_path: str, n: int, started: float
) -> None:
    """Append one etl_runs audit row (aggregator.py:138-150 parity)."""
    from stockpulse_batch_realtime_etl_spark.sources.tables import literal_df

    # literal_df, not createDataFrame: this runs once PER MICRO-BATCH
    audit = literal_df(
        spark,
        [("aggregator", n, "complete")],
        "source string, records_processed long, status string",
    ).select(
        "*",
        F.lit(started).cast("timestamp").alias("started_at"),
        F.current_timestamp().alias("completed_at"),
    )
    audit.write.mode("append").parquet(audit_path)


def start_bar_aggregation(
    ticks: DataFrame,
    table_path: str,
    checkpoint: str,
    audit_path: str | None = None,
    watermark: str = "2 minutes",
    trigger_secs: int = 30,
    available_now: bool = False,
) -> StreamingQuery:
    """The aggregator service (aggregator.py:116-153) as one streaming query.

    Update output mode: every refined window flows to the upsert each
    batch — matching the reference's recompute-and-upsert cycle, with the
    watermark bounding state instead of an etl_runs row.
    """
    bars = windowed_bars(ticks, watermark)
    writer = (
        bars.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda df, _epoch: upsert_bars_batch(df, table_path, audit_path)
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


#: Bump when RAW_JSON_SQL / corpus derivation changes — it keys the on-disk
#: corpus cache, so stale corpora from older code can never be reused.
_CORPUS_VERSION = "v2"


def _ensure_corpus(
    spark: SparkSession, sf_dir: str, with_redelivery: bool = False
) -> str:
    """Materialize the Kafka-shaped JSON corpus for ``sf_dir`` ONCE and
    reuse it across queries and processes.

    The corpus is a pure function of (sf_dir, corpus version), so both
    bounded streaming queries — and re-runs of either — can share one
    write.  Reuse is gated on Spark's ``_SUCCESS`` marker (a partial write
    from a killed run never has one).  The redelivered 20% slice (op ST7)
    lives in a sibling dir; the dedup run reads ``{base,extra}`` via
    Hadoop glob so no files are ever copied or appended.
    """
    import tempfile

    from stockpulse_batch_realtime_etl_spark.sources.ticks import raw_json_corpus

    tag = _corpus_tag(sf_dir)
    root = os.path.join(tempfile.gettempdir(), f"stockpulse_corpus_{tag}")
    base = os.path.join(root, "base")
    if not os.path.exists(os.path.join(base, "_SUCCESS")):
        _publish_atomic(
            base, lambda d: raw_json_corpus(spark, sf_dir)
            .select("value")
            .write.mode("overwrite")
            .text(d),
        )
    if not with_redelivery:
        return base
    extra = os.path.join(root, "extra")
    if not os.path.exists(os.path.join(extra, "_SUCCESS")):
        _publish_atomic(
            extra, lambda d: raw_json_corpus(spark, sf_dir)
            .filter(F.col("offset") % 5 == 0)
            .select("value")
            .write.mode("overwrite")
            .text(d),
        )
    return os.path.join(root, "{base,extra}")


def _fixture_fingerprint(
    sf_dir: str, tables: tuple[str, ...] = ("events",)
) -> str:
    """The repo's ONE fixture-identity fingerprint: canonical path + per
    source parquet (mtime_ns, size) — so a REGENERATED fixture at the
    same path invalidates any cache keyed on it instead of silently
    reusing stale files, and path spellings canonicalize.
    tools/scale_probe.py keys its replica cache on this too (with its own
    _PROBE_GEN version axis), so a future fingerprint upgrade (content
    hashing, symlink handling) applies everywhere — deliberately WITHOUT
    _CORPUS_VERSION, which versions the streaming corpus BUILDER, not
    fixture identity."""
    real = os.path.realpath(sf_dir)
    parts = [real]
    for name in tables:
        p = os.path.join(real, f"{name}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{name}:missing")
    return ":".join(parts)


def _corpus_tag(
    sf_dir: str,
    extra_key: str = "",
    tables: tuple[str, ...] = ("events",),
) -> str:
    """Cache key for materialized streaming corpora: builder code version
    + the shared fixture fingerprint."""
    import hashlib

    return hashlib.md5(
        f"{_CORPUS_VERSION}:{extra_key}:"
        f"{_fixture_fingerprint(sf_dir, tables)}".encode()
    ).hexdigest()[:8]


def _publish_atomic(dest: str, write_fn) -> None:
    """Cross-process-safe corpus publish: write to a unique sibling temp
    dir, then atomically rename into place.  Two cold-start processes can
    both build; exactly one rename wins, the loser discards its copy —
    never an interleaved/overwritten shared directory."""
    import shutil
    import uuid

    # unique per invocation, not per process: two threads of one process
    # may publish the same dest (concurrent bounded runs on one session)
    tmp = f"{dest}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_fn(tmp)
    try:
        os.rename(tmp, dest)
        return
    except OSError:
        pass
    # rename failure means dest already exists — but "another process
    # published an equivalent copy" is only true if dest carries the
    # _SUCCESS marker the callers gate reuse on.  A marker-less dest
    # (partial dir left by a crashed run) would otherwise be read as a
    # corrupt corpus forever: evict it and retry the rename.
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    # Move the stale dest ASIDE to a unique tombstone instead of rmtree:
    # a concurrent publisher may replace it with a GOOD copy between the
    # marker check and the eviction, and a reader that already observed
    # _SUCCESS may be mid-read — the tombstone keeps those files alive
    # until the very end, and a good dest is never deleted in place.
    # Tombstone name must be unique PER INVOCATION, not per process: two
    # publishes of the same dest from one pid (threads, or a retry after
    # a crash left an earlier same-pid tombstone behind) would otherwise
    # collide — os.rename onto an existing non-empty dir raises OSError,
    # which the except below would misread as "another process evicted it".
    tomb = f"{dest}.stale.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        os.rename(dest, tomb)
    except OSError:
        tomb = None  # another process already evicted/replaced it
    try:
        os.rename(tmp, dest)
    except OSError:
        # lost the retry race too — keep the winner only if it is marked
        # complete; a second marker-less loser here means two crashed
        # publishers back-to-back, which no retry count fixes: surface it
        if os.path.exists(os.path.join(dest, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise
    finally:
        if tomb is not None:
            shutil.rmtree(tomb, ignore_errors=True)


def _ensure_daily_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the Kafka-shaped JSON corpus ONE TEXT FILE PER EVENT DAY
    (repartition("day") + partitionBy("day")) and pin file-discovery order
    to event-time order with strictly increasing per-day mtimes (the file
    stream source orders by modification time) — so a bounded run reading
    it with ``maxFilesPerTrigger=k`` replays history as day-granular
    micro-batches with ADVANCING watermarks.  That is what lets stateful
    operators garbage-collect mid-run exactly as in production: a single
    availableNow mega-batch never moves the watermark, so stream-stream
    join state holds BOTH ENTIRE SIDES and every probe scans its whole
    key bucket (the round-8 probe measured the interval join at 38× wall
    for 10× data that way; day-batched it is linear).  Shared by the
    metrics probe (which needs batches ≡ days for its oracle) and the
    interval join (which needs the watermark to advance).  Built once per
    (fixture fingerprint) via the same _publish_atomic scheme as
    _ensure_corpus; the mtime pinning is idempotent and re-applied per
    call (rename preserves mtimes, but a publisher race loser's clock
    must not leak in)."""
    import tempfile

    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table
    from stockpulse_batch_realtime_etl_spark.sources.ticks import (
        raw_json_corpus,
    )

    tag = _corpus_tag(sf_dir, extra_key="daily")
    dest = os.path.join(
        tempfile.gettempdir(), f"stockpulse_corpus_daily_{tag}"
    )
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        def _write(d: str) -> None:
            ev = load_table(spark, sf_dir, "events").select(
                F.col("event_id").alias("offset"),
                F.to_date("ts").alias("day"),
            )
            (
                raw_json_corpus(spark, sf_dir)
                .join(ev, "offset")
                .repartition("day")
                .select("value", "day")
                .write.partitionBy("day")
                .mode("overwrite")
                .text(d)
            )

        _publish_atomic(dest, _write)
    _pin_daily_mtimes(dest)
    return dest


def _pin_daily_mtimes(dest: str) -> None:
    """Pin strictly increasing per-day mtimes over a published daily
    corpus (file-stream sources discover by modification time — see
    :func:`_ensure_daily_corpus`).  Idempotent, and safe against a
    CONCURRENT publisher's tombstone swap: _publish_atomic renames a
    stale dest ASIDE for a moment before the fresh copy lands, so
    listdir/utime here can see dest (or a file swept away with the
    tombstone) momentarily absent and raise FileNotFoundError.  The swap
    always converges on a complete (_SUCCESS-marked) dest, so retry the
    whole idempotent walk (soak-tested cross-process in
    tests/test_streaming.py)."""
    import time

    base_ts = 1_000_000_000
    for _attempt in range(50):
        try:
            for i, day in enumerate(
                sorted(x for x in os.listdir(dest) if x.startswith("day="))
            ):
                ddir = os.path.join(dest, day)
                for f in os.listdir(ddir):
                    os.utime(
                        os.path.join(ddir, f), (base_ts + i, base_ts + i)
                    )
            return
        except FileNotFoundError:
            time.sleep(0.1)
    raise RuntimeError(
        f"daily corpus at {dest} never stabilized: a concurrent "
        f"publisher evicted it and no complete copy reappeared"
    )


def _bounded_run_env(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None,
    kind: str,
    skip_no_data_batch: bool = False,
) -> tuple[SparkSession, str, str]:
    """Per-run footing for a bounded (availableNow) streaming run: a child
    session carrying the run's own confs, plus its sink and checkpoint dirs.

    The child (``spark.newSession()``) shares the SparkContext and the
    cache but has its own SQL conf, so the run's settings stay with the run
    — as a streaming query's settings stay with its own checkpoint — and
    the caller's session is never written: nothing to restore, nothing
    leaking into a concurrent query.  A child does not inherit confs the
    caller set at run time (a bare harness session gets UTC only that way),
    so the table-read preconditions are re-applied to it.

    Run confs: ``spark.sql.shuffle.partitions=8`` — a stream fixes its
    state partition count at its first batch, so it is sized to the bounded
    corpus rather than the cluster-wide default — and, with
    ``skip_no_data_batch``, no trailing no-data micro-batch.  State lives in
    Spark's default HDFS-backed store: the bounded state fits the heap.

    Returns ``(run_session, out_dir, checkpoint_dir)``; out/checkpoint are
    wiped per run (idempotence).  Each runner materializes the corpus it
    reads on the run session (``_ensure_corpus`` / ``_ensure_daily_corpus``).
    """
    import hashlib
    import shutil
    import tempfile

    from stockpulse_batch_realtime_etl_spark.sources.tables import (
        _ensure_session_confs,
    )

    run = spark.newSession()
    _ensure_session_confs(run)
    run.conf.set("spark.sql.shuffle.partitions", "8")
    if skip_no_data_batch:
        # The trailing no-data micro-batch only advances the watermark to
        # flush withheld output (outer-join null rows, append-mode window
        # finals) and GC state.  Runs whose every output row is emitted in
        # the batch that receives it — inner joins, dropDuplicates,
        # update-mode upserts, complete-mode rewrites — produce an
        # identical result without it, and the batch costs a full
        # plan+commit cycle (measured 1.3 s on the pair join).  Callers
        # that DO rely on the final flush (outer pair joins) keep the
        # default.
        run.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    if base_dir is None:
        tag = hashlib.md5(f"{kind}:{sf_dir}".encode()).hexdigest()[:8]
        base_dir = os.path.join(
            tempfile.gettempdir(), f"stockpulse_{kind}_{tag}"
        )
    out_dir = os.path.join(base_dir, "out")
    ckpt = os.path.join(base_dir, "ckpt")
    # wipe exactly what the docstring promises — the out/ckpt subdirs —
    # never the whole base_dir (a caller may hand us a directory that
    # contains unrelated files)
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return run, out_dir, ckpt


def _drain(
    spark: SparkSession, writer: DataStreamWriter, out_dir: str, ckpt: str
) -> DataFrame:
    """The one tail of a bounded run: start ``writer`` with availableNow on
    ``ckpt``, wait until it has drained the corpus, then read ``out_dir``
    back on the caller's session ``spark``.

    Append-mode runs write through Spark's parquet file sink, whose
    ``_spark_metadata`` log admits only committed files to the read-back;
    ``foreachBatch`` remains for the modes the file sink rejects (update,
    complete) and for the bars upsert (``start_bar_aggregation``)."""
    writer.option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).start().awaitTermination()
    return spark.read.parquet(out_dir)


def run_pipeline_available_now(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Run the COMPLETE streaming pipeline once over a bounded corpus and
    return the resulting bars table — the whole reference system
    (producer wire format → consumer decode/DLQ → aggregator upsert) as one
    deterministic, oracle-checkable invocation.

    Steps: materialize the Kafka-shaped JSON corpus (sources/ticks.py
    RAW_JSON_SQL) as JSON-lines files, stream them with
    ``trigger(availableNow=True)`` through the decode→split→windowed-agg→
    upsert pipeline, then read the bars table back.  State, checkpoint and
    sink live under ``base_dir`` (a deterministic temp dir, wiped per run
    for idempotence).
    """
    # update-mode upsert: every refinement emits in its batch
    run, out_dir, ckpt = _bounded_run_env(
        spark, sf_dir, base_dir, "stream", skip_no_data_batch=True
    )
    raw = raw_json_stream(run, _ensure_corpus(run, sf_dir))
    ticks, _failed = tick_stream_from_raw(raw)
    # the _drain tail, with the aggregator service's own upsert writer
    start_bar_aggregation(
        ticks, out_dir, ckpt, available_now=True
    ).awaitTermination()
    return spark.read.parquet(out_dir).drop("bucket_date")


def start_dlq_sink(
    failed: DataFrame, dlq_path: str, checkpoint: str, available_now: bool = False
) -> StreamingQuery:
    """failed_events append sink (op S8) — plain streaming append, no state."""
    writer = (
        failed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", dlq_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_session_bars_available_now(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
    gap: str = "5 minutes",
) -> DataFrame:
    """Streaming SESSION-window bars (dynamic-gap flavor of ST5): merge
    ticks separated by ≤ ``gap`` into one session per symbol, aggregated
    with the shared OHLCV expression list — the sessionization every
    activity-stream pipeline needs and fixed windows can't express.

    Session windows forbid update mode, and append mode would withhold
    every session the final watermark hasn't closed (the last session per
    symbol, for a bounded corpus) — so the bounded run uses COMPLETE mode
    through ``foreachBatch``: each batch overwrites the sink with the full
    session table, and the final batch's table is exactly the batch
    ``session_bars`` semantics over the whole corpus (state is bounded by
    the corpus here; a continuous production stream would run append mode
    and accept watermark-delayed emission).
    """
    # complete mode: the final data batch already wrote the full table
    run, out_dir, ckpt = _bounded_run_env(
        spark, sf_dir, base_dir, "sess", skip_no_data_batch=True
    )
    raw = raw_json_stream(run, _ensure_corpus(run, sf_dir))
    ticks, _failed = tick_stream_from_raw(raw)
    sess = (
        ticks.withWatermark("event_time", "2 minutes")
        .groupBy(
            F.col("symbol"),
            F.session_window("event_time", gap).alias("w"),
        )
        .agg(*bar_agg_exprs())
        .select(
            "symbol",
            F.col("w.start").alias("session_start"),
            "open",
            "high",
            "low",
            "close",
            "volume_sum",
            "tick_count",
        )
    )
    writer = sess.writeStream.outputMode("complete").foreachBatch(
        lambda df, _epoch: df.write.mode("overwrite").parquet(out_dir)
    )
    return _drain(spark, writer, out_dir, ckpt)


def run_running_bars_available_now(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
) -> DataFrame:
    """Bounded run of a custom stateful operator: stream the wire corpus,
    fold per-symbol running OHLCV state across micro-batches, and return
    the FINAL running bar per symbol.

    The operator is ``streaming.stateful.running_bars``
    (``applyInPandasWithState``).

    Update-mode emission yields one row per active symbol per batch; the
    final answer is the row with the highest tick_count per symbol
    (monotone in batch order, so "latest" needs no batch-id bookkeeping).
    Every state field is exact under any batch split — argmin/argmax by
    event_time, integer sums, min/max — so the result provably equals the
    batch GROUP BY over the same ticks, which is what the oracle checks.
    """
    from stockpulse_batch_realtime_etl_spark.streaming.stateful import (
        running_bars,
    )

    run, out_dir, ckpt = _bounded_run_env(spark, sf_dir, base_dir, "stateful")
    raw = raw_json_stream(run, _ensure_corpus(run, sf_dir))
    ticks, _failed = tick_stream_from_raw(raw)
    bars = running_bars(ticks.select("symbol", "price", "volume", "event_time"))
    # parquet sinks reject update mode; foreachBatch append keeps every
    # batch's emission for the final latest-per-symbol reduce
    writer = bars.writeStream.outputMode("update").foreachBatch(
        lambda df, _epoch: df.write.mode("append").parquet(out_dir)
    )
    emitted = _drain(spark, writer, out_dir, ckpt)
    final = emitted.groupBy("symbol").agg(
        F.max_by(
            F.struct(
                "open", "high", "low", "close", "volume_sum", "tick_count"
            ),
            F.col("tick_count"),
        ).alias("s")
    )
    return final.select("symbol", "s.*")


def run_dedup_available_now(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Streaming deduplication (the ST7 upgrade): the reference's
    at-least-once consumer can write duplicate ticks after a crash
    (consumer.py:111-117 — auto-commit + non-transactional insert, no dedup
    key); ``dropDuplicates`` over a watermarked stream is the Spark fix.

    Bounded, oracle-checkable form: stream the JSON corpus PLUS a
    deterministically re-delivered 20% slice (every 5th offset — simulating
    redelivery after a crash), decode, and keep first-seen (symbol,
    event_time) keys.  The output must equal plain DISTINCT over the clean
    corpus — if the operator failed to collapse the redelivered rows the
    row count (and hash) would differ, so the gate actually proves the
    dedup.  State is one key per distinct (symbol, event_time) bounded by
    the watermark — at production rates, minutes of keys, not the stream's
    history.
    """
    # dropDuplicates emits each first-seen row in its own batch; the
    # trailing no-data batch only GCs state
    run, out_dir, ckpt = _bounded_run_env(
        spark, sf_dir, base_dir, "dedup", skip_no_data_batch=True
    )
    # the {base,extra} glob: corpus + the redelivered slice
    raw = raw_json_stream(run, _ensure_corpus(run, sf_dir, with_redelivery=True))
    ticks, _failed = tick_stream_from_raw(raw)
    deduped = (
        ticks.select("symbol", "event_time")
        .withWatermark("event_time", "2 minutes")
        .dropDuplicates(["symbol", "event_time"])
    )
    writer = deduped.writeStream.format("parquet").option("path", out_dir)
    return _drain(spark, writer, out_dir, ckpt)


def run_metrics_probe(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Bounded streaming run with DETERMINISTIC micro-batching, returning
    the query's per-batch progress table (``recentProgress``) — the
    substrate for :func:`metrics.percentile_summary`'s oracle-gated summary.

    Determinism: the corpus is written one text FILE PER EVENT DAY
    (repartition("day") + partitionBy("day") → exactly one file per day),
    and the stream reads it with ``maxFilesPerTrigger=1`` under
    ``availableNow`` — so micro-batches ARE days, and the multiset of
    per-batch ``num_input_rows`` equals the per-day corpus line counts,
    which DuckDB replays from ``events`` with one GROUP BY.  Batch ORDER
    (file discovery order) is not relied on — percentiles are
    order-insensitive.

    The probe pipeline is the raw text stream into a ``noop`` sink: batch
    accounting (what the reference's Prometheus counters measure,
    main.py:47-67) does not depend on the transformation, and the cheapest
    pipeline keeps the 30-batch bounded run fast at any sf.
    """
    from stockpulse_batch_realtime_etl_spark.sources.tables import literal_df
    from stockpulse_batch_realtime_etl_spark.streaming import metrics

    # the gated summary counts only rows>0 batches (and the oracle counts
    # days), so the trailing zero-row no-data batch is pure overhead here
    run, _out_dir, ckpt = _bounded_run_env(
        spark, sf_dir, base_dir, "metrics", skip_no_data_batch=True
    )
    corpus_dir = _ensure_daily_corpus(run, sf_dir)
    n_days = len(
        [d for d in os.listdir(corpus_dir) if d.startswith("day=")]
    )
    # the query keeps its progress records itself; size its retention to
    # the batch count (Spark keeps one fewer than the conf, and the default
    # 100 would evict the earliest day-batches at larger sf)
    run.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(2 * n_days))
    q = (
        raw_json_stream(run, corpus_dir, max_files_per_trigger=1)
        .select("value")
        .writeStream.queryName("metrics_probe")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = metrics.progress_rows(p for p in q.recentProgress if p.numInputRows)
    if len(rows) < n_days:
        raise RuntimeError(
            f"metrics probe captured {len(rows)}/{n_days} day-batches — a "
            "silently truncated progress table would skew the gated "
            "percentile summary with nothing pointing at the cause"
        )
    # literal_df, not createDataFrame: the ~30-row progress table would
    # otherwise evaluate as core-count pickled Python-RDD tasks downstream
    return literal_df(spark, rows, metrics.PROGRESS_SCHEMA)


def symbol_sector_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static dimension table for the stream-static join: every decoded
    symbol mapped to a derived sector (``'SEC' || ascii(first char) % 3``
    — pure arithmetic so the DuckDB oracle replays the attribute exactly;
    on a real deployment this is the security-master table loaded from a
    warehouse).  Dimension-sized by construction: one row per symbol."""
    from stockpulse_batch_realtime_etl_spark.sources.ticks import (
        raw_json_corpus,
    )

    syms = (
        split_raw_stream(raw_json_corpus(spark, sf_dir))
        .ticks.select("symbol")
        .distinct()
    )
    return syms.select(
        "symbol",
        F.concat(
            F.lit("SEC"),
            (F.ascii(F.substring("symbol", 1, 1)) % 3).cast("string"),
        ).alias("sector"),
    )


def run_sector_rollup_available_now(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """STREAM-STATIC JOIN end-to-end (the one Structured Streaming join
    class the pipeline hadn't demonstrated): the tick stream probes a
    static symbol→sector dimension per micro-batch — planned as a
    broadcast hash join with the batch side CACHED (an uncached static
    plan re-evaluates per micro-batch), no stream-stream state — then
    rolls up per (sector, 1-minute window).

    At 100 TB this is THE enrichment shape: the dimension is loaded from
    the warehouse and broadcast; the unbounded side never shuffles for the
    join.  (A slowly-changing dimension would swap in a fresh snapshot per
    trigger via a `foreachBatch` re-read — noted, not needed for a bounded
    run.)  Only order-insensitive aggregates (max/min/avg/sum/count) are
    used — a sector-minute can legitimately contain equal timestamps
    across symbols, so ordered open/close would be tie-ambiguous across
    engines.

    Bounded, oracle-checkable: complete-mode foreachBatch overwrite (the
    session-bars pattern); the final table equals the batch join+GROUP BY
    the oracle runs.
    """
    # complete mode: the final data batch already wrote the full table
    run, out_dir, ckpt = _bounded_run_env(
        spark, sf_dir, base_dir, "sector", skip_no_data_batch=True
    )
    # cache: Structured Streaming re-evaluates an uncached static plan
    # (full corpus decode + distinct + broadcast rebuild) EVERY micro-batch
    dim = symbol_sector_dim(run, sf_dir).cache()
    try:
        raw = raw_json_stream(run, _ensure_corpus(run, sf_dir))
        ticks, _failed = tick_stream_from_raw(raw)
        rollup = (
            ticks.withWatermark("event_time", "2 minutes")
            .join(F.broadcast(dim), "symbol")
            .groupBy(
                F.col("sector"),
                F.window("event_time", "1 minute").alias("w"),
            )
            .agg(
                F.max("price").alias("high"),
                F.min("price").alias("low"),
                F.avg("price").alias("avg_price_raw"),
                F.sum(F.coalesce(F.col("volume"), F.lit(0))).alias(
                    "volume_sum"
                ),
                F.count(F.lit(1)).alias("tick_count"),
            )
            .select(
                "sector",
                F.col("w.start").alias("bucket_start"),
                "high",
                "low",
                "avg_price_raw",
                "volume_sum",
                "tick_count",
            )
        )
        writer = rollup.writeStream.outputMode("complete").foreachBatch(
            lambda df, _epoch: df.write.mode("overwrite").parquet(out_dir)
        )
        return _drain(spark, writer, out_dir, ckpt)
    finally:
        # unpersist even when the stream raises — the cached dim would
        # otherwise pin executor memory for the life of the session
        dim.unpersist()


def run_stream_stream_join_available_now(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
    left_symbol: str = "PURCHASE",
    right_symbol: str = "CLICK",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM inner join end-to-end — the last Structured Streaming
    join class (stream-static lives in ``run_sector_rollup_available_now``):
    purchase-side ticks joined to click-side ticks of the SAME minute
    window, both sides watermarked so the join state is garbage-collected.

    The join key is the 1-minute ``window(event_time)`` struct on both
    sides — the supported state-cleanup pattern (equal windows + both-side
    watermarks bound how long an unmatched row waits in the state store).
    Inner stream-stream joins emit matches immediately (the watermark only
    GCs state), so a bounded availableNow run emits the complete pair set;
    each micro-batch appends its matches, and the result is a SET — equal
    to the batch equality-join the oracle runs, independent of batch
    boundaries.

    ``how="left_outer"`` is the semantics users actually struggle with:
    an unmatched purchase row is NOT dropped — it is emitted with null
    click columns once the event-time watermark passes its window's end
    (i.e. once the engine can PROVE no matching click can still arrive).
    In a bounded availableNow run the final no-data batch flushes every
    expirable window; windows newer than (final watermark = min of both
    sides' max event_time − the 2-minute delay) keep their unmatched rows
    withheld — exactly the cutoff the oracle replays.

    ``how="right_outer"`` mirrors that for unmatched clicks (null purchase
    columns on expiry), and ``how="full_outer"`` emits BOTH sides' null-
    padded rows at the same watermark cutoff — completing the stream-stream
    join matrix and exercising the state-store eviction path inner/left
    never touch on the right side.  Outer rows carry their window in the
    surviving side's struct, so ``bucket_start`` coalesces across the two.

    At 100 TB: both sides shuffle on the window struct (uniform in time);
    state per key is the window's rows on each side, bounded by the
    watermark horizon × arrival rate — the knob a capacity plan sizes.
    """
    kinds = {
        "inner": "ssjoin",
        "left_outer": "ssjoin_lo",
        "right_outer": "ssjoin_ro",
        "full_outer": "ssjoin_fo",
    }
    run, out_dir, ckpt = _bounded_run_env(
        spark,
        sf_dir,
        base_dir,
        kinds[how],
        # inner joins emit matches in-batch; the OUTER variants rely on
        # the final no-data batch's watermark advance to flush their
        # null-padded rows and MUST keep it
        skip_no_data_batch=(how == "inner"),
    )
    raw = raw_json_stream(run, _ensure_corpus(run, sf_dir))
    ticks, _failed = tick_stream_from_raw(raw)
    # each stream may carry at most ONE event-time column into the
    # join: the window struct inherits the watermark, so the raw
    # timestamps ride along as plain epoch-µs longs and are re-cast
    # after the bounded run completes
    left = (
        ticks.filter(F.col("symbol") == left_symbol)
        .withWatermark("event_time", "2 minutes")
        .select(
            F.window("event_time", "1 minute").alias("w"),
            F.col("price").alias("purchase_price"),
            F.unix_micros("event_time").alias("purchase_us"),
        )
    )
    right = (
        ticks.filter(F.col("symbol") == right_symbol)
        .withWatermark("event_time", "2 minutes")
        .select(
            F.window("event_time", "1 minute").alias("w2"),
            F.col("price").alias("click_price"),
            F.unix_micros("event_time").alias("click_us"),
        )
    )
    # outer variants: an unmatched row's opposite-side window struct is
    # NULL, so bucket_start coalesces across the two (equal when matched)
    joined = left.join(right, F.col("w") == F.col("w2"), how).select(
        F.coalesce(F.col("w.start"), F.col("w2.start")).alias(
            "bucket_start"
        ),
        "purchase_us",
        "purchase_price",
        "click_us",
        "click_price",
    )
    writer = joined.writeStream.format("parquet").option("path", out_dir)
    return _drain(spark, writer, out_dir, ckpt).select(
        "bucket_start",
        F.timestamp_micros(F.col("purchase_us")).alias("purchase_time"),
        "purchase_price",
        F.timestamp_micros(F.col("click_us")).alias("click_time"),
        "click_price",
    )


def run_stream_stream_interval_join_available_now(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
    left_symbol: str = "PURCHASE",
    right_symbol: str = "CLICK",
    attribution_minutes: int = 10,
    key_buckets: int = 10,
    files_per_trigger: int = 30,
) -> DataFrame:
    """STREAM-STREAM INTERVAL join end-to-end — the attribution-join class
    (the one shape ``run_stream_stream_join_available_now`` cannot express):
    each purchase joins the clicks of the SAME key whose click time falls
    in ``[purchase_time − attribution_minutes, purchase_time]`` — a
    time-RANGE condition on the raw event times, not equal tumbling
    windows.  This is the canonical Structured Streaming ad-attribution
    pattern (equi-key + interval bounds), and it exercises the state-store
    shape window-equality joins never touch: each side's state is evicted
    by a RANGE-derived per-side watermark (click state must outlive its
    click by the full attribution horizon; purchase state only by the
    late-data allowance).

    The join key is a price-derived bucket (``pmod(floor(price), 10)``) —
    the tick model has no user id, and any ``event_id``-derived key is
    structurally useless here because event ids are monotone in event time
    (two ticks inside a 10-minute window always have nearby ids, so any
    modulus either never collides or collides for everything); the price
    bucket is independent of arrival order, deterministic, and replayed
    identically by the oracle from the same JSON-parsed price.

    Inner joins emit matches immediately (watermarks only GC state), so a
    bounded availableNow run appends the complete pair set — equal to the
    batch interval join the oracle runs, independent of batch boundaries.

    Batching: the corpus replays from the DAY-PARTITIONED corpus
    (``_ensure_daily_corpus``) in event-time order, ``files_per_trigger``
    day-files per micro-batch, so the watermark ADVANCES between batches
    and join state is garbage-collected mid-run.  A single availableNow
    mega-batch never moves the watermark — both entire sides sit in the
    state store and every probe scans its whole key bucket, which the
    round-8 scaling probe measured at 38× wall for 10× data (quadratic
    per key); chunked replay is linear in replayed history, the honest
    backfill cost.  ``files_per_trigger`` only sizes the replay chunk
    (state ≤ chunk + horizon per key) — the emitted rows are identical at
    any setting; 30 (a month per batch) amortizes micro-batch barrier
    overhead at bench sfs (r15 measured 7.0 s at 7 files vs 4.6 s at 15;
    the r16 warm-session sweep: 10.5 s at 15, 7.1 s at 30, 7.5 s at 45,
    identical 5504 rows — batch barrier + state-commit overhead dominates
    below ~30, per-key probe cost grows above it) while keeping per-key
    state bounded at chunk+horizon instead of the whole history.  Late-drop safety: batches are whole days in order,
    so no row can arrive behind a watermark derived from a LATER day.

    At 100 TB: both sides shuffle on the equi-key bucket; per-key state is
    bounded by (attribution horizon + watermark delay + replay chunk) ×
    per-key arrival rate — the attribution window is the capacity knob,
    exactly how production click-attribution pipelines are sized.
    """
    # inner interval join: matches emit in-batch
    run, out_dir, ckpt = _bounded_run_env(
        spark, sf_dir, base_dir, "ssjoin_iv", skip_no_data_batch=True
    )
    raw = raw_json_stream(
        run,
        _ensure_daily_corpus(run, sf_dir),
        max_files_per_trigger=files_per_trigger,
    ).select("value")
    ticks, _failed = tick_stream_from_raw(raw)
    key = F.pmod(F.floor("price").cast("long"), key_buckets)
    left = (
        ticks.filter(F.col("symbol") == left_symbol)
        .withWatermark("event_time", "2 minutes")
        .select(
            key.alias("user_key"),
            F.col("event_time").alias("purchase_time"),
            F.col("price").alias("purchase_price"),
        )
    )
    right = (
        ticks.filter(F.col("symbol") == right_symbol)
        .withWatermark("event_time", "2 minutes")
        .select(
            key.alias("user_key2"),
            F.col("event_time").alias("click_time"),
            F.col("price").alias("click_price"),
        )
    )
    joined = left.join(
        right,
        (F.col("user_key") == F.col("user_key2"))
        & (F.col("purchase_time") >= F.col("click_time"))
        & (
            F.col("purchase_time")
            <= F.col("click_time")
            + F.expr(f"INTERVAL {attribution_minutes} MINUTES")
        ),
        "inner",
    ).select(
        "user_key",
        F.unix_micros("purchase_time").alias("purchase_us"),
        "purchase_price",
        F.unix_micros("click_time").alias("click_us"),
        "click_price",
    )
    writer = joined.writeStream.format("parquet").option("path", out_dir)
    return _drain(spark, writer, out_dir, ckpt).select(
        "user_key",
        F.timestamp_micros(F.col("purchase_us")).alias("purchase_time"),
        "purchase_price",
        F.timestamp_micros(F.col("click_us")).alias("click_time"),
        "click_price",
    )
