"""The reference API's query surface as DataFrame functions (SURVEY.md §2.10).

Each function mirrors one FastAPI endpoint's SQL (services/api/app/routers/
ticks.py, bars.py) as a pure DataFrame expression over a ticks/bars table:

=====================  ==========================================  ==========
endpoint               composition (SURVEY.md op IDs)              here
=====================  ==========================================  ==========
GET /symbols           A9  distinct + sort                         symbols
GET /ticks/latest      P5 ∘ P2 ∘ O1                                latest_ticks
GET /ticks/summary     P5 ∘ P2 ∘ P3 ∘ A7                           tick_summary
GET /bars/latest       P5 ∘ P2 ∘ O1                                latest_bars
GET /bars/summary      P5 ∘ P2 ∘ P3 ∘ A8 (+F6 change_pct)          bar_summary
GET /movers            (A10×2) ∘ J1 ∘ F6 ∘ O2                      movers
=====================  ==========================================  ==========

Determinism: the reference's ``NOW()``-relative windows (op F9) are pinned
to ``as_of = max(event_time)`` of the input — the deterministic NOW()
stand-in, so results are reproducible and oracle-checkable at any scale
factor.  (To replay a historical window, pre-filter the input to
``event_time <= t`` — the max-based as-of then equals ``t``'s last tick;
no separate as_of parameter exists.)  The as-of scalar is a SQL scalar
subquery (see ``_window_filter``), never a ``.collect()`` round-trip, so
the whole query stays one lazily-planned DAG that works unchanged on a
cluster.

Scale notes:
* ``latest_*`` compile to TakeOrderedAndProject (top-k, no global sort).
* ``movers`` fuses the reference's two ``DISTINCT ON`` CTE branches
  (bars.py:122-135) into ONE hash aggregate with ``min_by``/``max_by`` —
  one scan + one shuffle instead of two of each (the manual rewrite called
  out in SURVEY.md §4); the follow-up J1 join disappears entirely.
* summaries are single partial→final aggregates; with a symbol predicate
  they scan only matching row groups (predicate pushdown on the symbol
  column; at 100 TB the ticks table would be partitioned/clustered by
  symbol+date exactly like the reference's composite B-tree, init.sql:10-11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stockpulse_batch_realtime_etl_spark.functions.scalars import (
    SYMBOL_RE,
    change_pct,
    null_safe_volume,
    round4,
)


def validate_symbol(symbol: str) -> str:
    """API-layer guard: 422 in the reference; ValueError here."""
    import re

    # fullmatch, not match: Python's '$' matches before a trailing
    # newline, so match() would accept 'AAPL\n' through the 1-10-letter
    # contract
    if not re.fullmatch(SYMBOL_RE, symbol):
        raise ValueError(f"invalid symbol: {symbol!r}")
    return symbol.upper()


def _window_filter(df: DataFrame, time_col: str, minutes: int) -> DataFrame:
    """P3: time_col >= as_of - minutes (inclusive upper edge, matching the
    reference's ``event_time >= NOW() - interval`` with no upper bound),
    where as_of = max(time_col) — the deterministic stand-in for NOW() (F9).

    as_of is a *scalar subquery* (``DataFrame.scalar()``): it executes once
    cluster-side and its result becomes a real filter predicate on the main
    scan — one codegen'd stage.  The alternatives are slower: a 1-row
    aggregate + broadcast join plans as BroadcastNestedLoopJoin across three
    extra AQE stages (measured 4-6× slower at sf0.1), and a window-function
    ``max() OVER ()`` would force all rows through a single partition.
    """
    as_of = df.select(F.max(time_col)).scalar()
    return df.filter(
        F.col(time_col) >= as_of - F.expr(f"INTERVAL {int(minutes)} MINUTES")
    )


# --- /symbols ---------------------------------------------------------------

def symbols(ticks: DataFrame) -> DataFrame:
    """A9: SELECT DISTINCT symbol ORDER BY symbol (ticks.py:24-26)."""
    return ticks.select("symbol").distinct().orderBy("symbol")


# --- /ticks/latest ----------------------------------------------------------

def latest_ticks(ticks: DataFrame, symbol: str, limit: int = 100) -> DataFrame:
    """P2 ∘ O1 (ticks.py:38-46): latest N ticks for one symbol.

    Tie-break on (price, volume) after event_time keeps the row *set*
    deterministic if equal timestamps ever occur; NULLS LAST is explicit on
    the nullable volume because Spark and other engines default differently.
    """
    limit = max(1, min(int(limit), 100))  # Query bound ticks.py:33
    return (
        ticks.filter(F.col("symbol") == validate_symbol(symbol))
        .select("symbol", "price", "volume", "event_time")
        .orderBy(
            F.col("event_time").desc(),
            F.col("price").desc(),
            F.col("volume").desc_nulls_last(),
        )
        .limit(limit)
    )


# --- /ticks/summary ---------------------------------------------------------

def tick_summary(ticks: DataFrame, symbol: str, minutes: int = 60) -> DataFrame:
    """A7 (ticks.py:70-84): windowed global aggregate for one symbol.

    Empty window → empty DataFrame (the API's 404, ticks.py:86-90, is a
    serving-layer concern).  avg_price is rounded at 4dp — the reference's
    visible rounding point (ticks.py:73).
    """
    minutes = max(1, min(int(minutes), 1440))
    t = _window_filter(ticks, "event_time", minutes).filter(
        F.col("symbol") == validate_symbol(symbol)
    )
    return t.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("tick_count"),
        round4(F.avg("price")).alias("avg_price"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
        F.sum(null_safe_volume(F.col("volume"))).alias("volume_sum"),
        F.min("event_time").alias("first_tick"),
        F.max("event_time").alias("last_tick"),
    )


# --- /bars/latest -----------------------------------------------------------

def latest_bars(bars: DataFrame, symbol: str, limit: int = 100) -> DataFrame:
    """P2 ∘ O1 over bars (bars.py:30-35)."""
    limit = max(1, min(int(limit), 1440))  # Query bound bars.py:25
    return (
        bars.filter(F.col("symbol") == validate_symbol(symbol))
        .select(
            "symbol",
            "bucket_start",
            "open",
            "high",
            "low",
            "close",
            "volume_sum",
            "tick_count",
        )
        .orderBy(F.col("bucket_start").desc())
        .limit(limit)
    )


# --- /bars/summary ----------------------------------------------------------

def bar_summary(bars: DataFrame, symbol: str, minutes: int = 180) -> DataFrame:
    """A8 (bars.py:66-96): period summary over bars in the window.

    period open  = open of the earliest bar   (A2 on bucket_start ASC)
    period close = close of the latest bar    (A2 DESC)
    change_pct   = (close-open)/open*100 with zero/null guard (bars.py:90-96)
    """
    minutes = max(1, min(int(minutes), 1440))
    b = _window_filter(bars, "bucket_start", minutes).filter(
        F.col("symbol") == validate_symbol(symbol)
    )
    agg = b.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("bar_count"),
        F.min_by("open", "bucket_start").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "bucket_start").alias("close"),
        F.sum("volume_sum").alias("volume_sum"),
        F.sum("tick_count").alias("tick_count"),
        F.min("bucket_start").alias("first_bucket"),
        F.max("bucket_start").alias("last_bucket"),
    )
    return agg.withColumn("change_pct", change_pct(F.col("open"), F.col("close")))


# --- /movers ----------------------------------------------------------------

def movers(bars: DataFrame, minutes: int = 180, limit: int = 20) -> DataFrame:
    """Top movers by |percent change| (bars.py:120-151).

    The reference runs two ``DISTINCT ON (symbol)`` scans (first/last bar per
    symbol) and joins them (J1); here both collapse into one aggregate —
    ``min_by(open, bucket_start)`` / ``max_by(close, bucket_start)`` — so the
    plan is scan → partial agg → final agg → TakeOrderedAndProject.  O2's
    NULLS LAST ordering is kept explicit.
    """
    limit = max(1, min(int(limit), 20))
    minutes = max(1, min(int(minutes), 1440))
    b = _window_filter(bars, "bucket_start", minutes)
    per_symbol = b.groupBy("symbol").agg(
        F.min_by("open", "bucket_start").alias("open"),
        F.max_by("close", "bucket_start").alias("close"),
    )
    return (
        per_symbol.withColumn(
            "change_pct", change_pct(F.col("open"), F.col("close"))
        )
        .orderBy(
            F.abs(F.col("change_pct")).desc_nulls_last(), F.col("symbol").asc()
        )
        .limit(limit)
    )


# --- bonus: explicit window-function variant of A10 -------------------------

def latest_tick_per_symbol(ticks: DataFrame) -> DataFrame:
    """A10 expressed as a ranking window (the reference's DISTINCT ON shape,
    bars.py:122-135) — kept alongside the fused-aggregate form in ``movers``
    to cover the window-function operator class explicitly.  At scale this is
    one shuffle on symbol; prefer the aggregate form when only min/max-by
    values are needed (map-side combine beats full row sort)."""
    from pyspark.sql.window import Window

    # volume completes the total order (the latest_ticks convention):
    # duplicate (event_time, price) rows must not flip volumes across runs
    w = Window.partitionBy("symbol").orderBy(
        F.col("event_time").desc(),
        F.col("price").desc(),
        F.col("volume").desc_nulls_last(),
    )
    return (
        ticks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --- health / readiness (reference §2.10) -----------------------------------

def health_counts(ticks: DataFrame, bars: DataFrame) -> DataFrame:
    """The /ready deep health check (reference health.py:10-34): a liveness
    probe row (``SELECT 1``) plus row counts of the tick and 1-minute bar
    tables.  Three count-only aggregates — each is a map-side-combined
    COUNT(*), the cheapest full-table statistic Spark has (and at 100 TB,
    answered from parquet row-group metadata without reading data pages)."""
    spark = ticks.sparkSession
    one = spark.range(1).select(
        F.lit("db").alias("check_name"), F.lit(1).cast("long").alias("n")
    )
    t = ticks.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("stock_ticks").alias("check_name"), "n"
    )
    b = bars.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("stock_bars_1m").alias("check_name"), "n"
    )
    return one.unionByName(t).unionByName(b)


def version_info(spark) -> DataFrame:
    """The /version static endpoint (reference health.py:32-34): service
    name, semantic version, and executing engine as a one-row table — the
    last piece of the reference's API surface, closing SURVEY §2.10.
    Constant-folded by Catalyst; no scan, no shuffle."""
    return spark.range(1).select(
        F.lit("stockpulse-spark").alias("service"),
        F.lit("1.0.0").alias("version"),
        F.lit("pyspark").alias("engine"),
    )
