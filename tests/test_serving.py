"""Serving-suite semantics: validation, ordering, summary math, movers."""

from __future__ import annotations

import pytest
from conftest import ts

from stockpulse_batch_realtime_etl_spark.operators import serving
from stockpulse_batch_realtime_etl_spark.operators.ohlcv import ohlcv_bars


@pytest.fixture(scope="module")
def ticks(make_ticks):
    rows = []
    # AAPL rises 190 → 199 over 10 minutes; MSFT falls 420 → 411
    for m in range(10):
        rows.append(("AAPL", 190.0 + m, 100 + m, ts(m, 5)))
        rows.append(("MSFT", 420.0 - m, 200 + m, ts(m, 7)))
    rows.append(("GOOG", 175.0, None, ts(9, 30)))
    return make_ticks(rows)


def test_symbols_distinct_sorted(ticks):
    assert [r.symbol for r in serving.symbols(ticks).collect()] == [
        "AAPL",
        "GOOG",
        "MSFT",
    ]


def test_validate_symbol():
    assert serving.validate_symbol("aapl") == "AAPL"
    for bad in ("", "TOOLONGSYMBOL", "AAPL1", "AA PL", "a-b"):
        with pytest.raises(ValueError):
            serving.validate_symbol(bad)


def test_latest_ticks_order_and_limit(ticks):
    out = serving.latest_ticks(ticks, "aapl", 3).collect()
    assert [r.event_time for r in out] == [ts(9, 5), ts(8, 5), ts(7, 5)]
    assert all(r.symbol == "AAPL" for r in out)


def test_latest_ticks_clamps_limit(ticks):
    assert len(serving.latest_ticks(ticks, "AAPL", 10**6).collect()) == 10


def test_tick_summary_math(ticks):
    # window = everything (as_of = max ts; 1440 min covers all)
    r = serving.tick_summary(ticks, "AAPL", 1440).collect()[0]
    assert r.tick_count == 10
    assert r.min_price == 190.0 and r.max_price == 199.0
    assert r.avg_price == round(sum(190.0 + m for m in range(10)) / 10, 4)
    assert r.volume_sum == sum(100 + m for m in range(10))
    assert r.first_tick == ts(0, 5) and r.last_tick == ts(9, 5)


def test_tick_summary_null_volume_counts_zero(ticks):
    r = serving.tick_summary(ticks, "GOOG", 1440).collect()[0]
    assert r.volume_sum == 0 and r.tick_count == 1


def test_tick_summary_empty_window_is_empty(make_ticks):
    df = make_ticks([("AAPL", 1.0, 1, ts(5))])
    # symbol not present → empty result (the API layer's 404)
    assert serving.tick_summary(df, "MSFT", 60).collect() == []


def test_window_filter_no_catalog_growth(ticks):
    """_window_filter registers nothing in the catalog: a long-lived
    serving session issuing thousands of windowed queries must not leak
    catalog entries, and every returned plan must execute."""
    spark = ticks.sparkSession
    before = {t.name for t in spark.catalog.listTables()}
    dfs = [serving._window_filter(ticks, "event_time", 60) for _ in range(50)]
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before  # zero growth, not merely bounded
    # plans remain executable post-drop
    assert dfs[0].count() > 0 and dfs[-1].count() > 0


def test_bar_summary_change_pct(ticks):
    bars = ohlcv_bars(ticks)
    r = serving.bar_summary(bars, "AAPL", 1440).collect()[0]
    assert r.bar_count == 10
    assert r.open == 190.0 and r.close == 199.0
    expected = round((199.0 - 190.0) / 190.0 * 100, 4)
    assert r.change_pct == expected


def test_bar_summary_zero_open_guard(spark):
    bars = spark.createDataFrame(
        [("X", ts(1), 0.0, 5.0, 0.0, 5.0, 10, 2)],
        "symbol string, bucket_start timestamp, open double, high double, "
        "low double, close double, volume_sum long, tick_count int",
    )
    r = serving.bar_summary(bars, "X", 1440).collect()[0]
    assert r.change_pct is None  # NULLIF(open, 0) guard (bars.py:141)


def test_movers_rank_by_abs_change(ticks):
    bars = ohlcv_bars(ticks)
    out = serving.movers(bars, 1440, 20).collect()
    # AAPL +4.7%, MSFT -2.1% → AAPL first by |change|
    assert [r.symbol for r in out][:2] == ["AAPL", "MSFT"]
    aapl = next(r for r in out if r.symbol == "AAPL")
    assert aapl.change_pct == round((199.0 - 190.0) / 190.0 * 100, 4)
    msft = next(r for r in out if r.symbol == "MSFT")
    assert msft.change_pct < 0


def test_latest_tick_per_symbol(ticks):
    out = {r.symbol: r for r in serving.latest_tick_per_symbol(ticks).collect()}
    assert out["AAPL"].event_time == ts(9, 5)
    assert out["MSFT"].price == 411.0
    assert out["GOOG"].event_time == ts(9, 30)
