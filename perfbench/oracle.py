"""Reference answers computed with DuckDB from the generator's own inputs,
and the comparisons the workloads run after their timed region."""

from __future__ import annotations

import math

import duckdb

MINUTE_US = 60_000_000


def ticks_con(symbol, price, volume, event_us) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection holding the valid ticks as table ``ticks``."""
    import pyarrow as pa

    con = duckdb.connect()
    tbl = pa.table({
        "symbol": pa.array(symbol, pa.string()),
        "price": pa.array(price, pa.float64()),
        "volume": pa.array(volume, pa.int64()),
        "us": pa.array(event_us, pa.int64()),
    })
    con.register("ticks_arrow", tbl)
    con.execute(
        "CREATE TABLE ticks AS SELECT symbol, price, volume, us, "
        "make_timestamp(us) AS event_time FROM ticks_arrow"
    )
    return con


BARS_SQL = f"""
SELECT symbol, us - us % {MINUTE_US} AS bucket_us,
       arg_min(price, us) AS open, max(price) AS high, min(price) AS low,
       arg_max(price, us) AS close, sum(coalesce(volume, 0)) AS volume_sum,
       count(*) AS tick_count
FROM ticks GROUP BY 1, 2 ORDER BY 1, 2
"""

#: Spark side of the same comparison, over the upserted bars table.
SPARK_BARS_COLS = (
    "symbol", "unix_micros(bucket_start) AS bucket_us", "open", "high", "low",
    "close", "volume_sum", "tick_count",
)


def oracle_bars(con) -> list[tuple]:
    return [tuple(r) for r in con.execute(BARS_SQL).fetchall()]


def spark_bars(spark, path: str) -> list[tuple]:
    rows = spark.read.parquet(path).selectExpr(*SPARK_BARS_COLS).collect()
    return sorted(tuple(r) for r in rows)


def bars_mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal, else a short description of the first difference."""
    if got == want:
        return None
    gs, ws = set(got), set(want)
    return (f"bars differ: {len(got)} rows vs oracle {len(want)}; "
            f"extra={sorted(gs - ws)[:2]} missing={sorted(ws - gs)[:2]}")


# --- serving: ticks-table endpoints, compared with DuckDB -------------------

def _window(minutes: int) -> str:
    return (f"event_time >= (SELECT max(event_time) FROM ticks) "
            f"- INTERVAL {int(minutes)} MINUTE")


def serving_oracle(con, endpoint: str, args: dict) -> list[tuple] | None:
    """Expected rows for the ticks-table endpoints; None for bars endpoints."""
    sym = args.get("symbol")
    if endpoint == "symbols":
        sql = "SELECT DISTINCT symbol FROM ticks ORDER BY symbol"
    elif endpoint == "latest_ticks":
        sql = (f"SELECT symbol, price, volume, us FROM ticks WHERE symbol = '{sym}' "
               "ORDER BY event_time DESC, price DESC, volume DESC NULLS LAST "
               f"LIMIT {max(1, min(int(args['limit']), 100))}")
    elif endpoint == "tick_summary":
        sql = (f"SELECT symbol, count(*), round(avg(price), 4), min(price), max(price), "
               f"sum(coalesce(volume, 0)), min(us), max(us) FROM ticks "
               f"WHERE {_window(args['minutes'])} AND symbol = '{sym}' GROUP BY symbol")
    elif endpoint == "latest_tick_per_symbol":
        sql = ("SELECT symbol, price, volume, us FROM (SELECT *, row_number() OVER ("
               "PARTITION BY symbol ORDER BY event_time DESC, price DESC, "
               "volume DESC NULLS LAST) AS rn FROM ticks) WHERE rn = 1 ORDER BY symbol")
    elif endpoint == "health_counts":
        sql = "SELECT 'stock_ticks', count(*) FROM ticks"
    else:
        return None
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _close(a, b, tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], tol: float = 1e-9) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y, tol) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def check_serving(endpoint: str, args: dict, rows: list[tuple], con,
                  final_bar_count: int) -> str | None:
    """None when the response is right, else why not.  ``rows`` is the
    response projected by ``serve.project``."""
    want = serving_oracle(con, endpoint, args)
    if endpoint == "health_counts":
        d = {r[0]: r[1] for r in rows}
        ok = (d.get("db") == 1 and d.get("stock_ticks") == want[0][1]
              and 0 <= d.get("stock_bars_1m", -1) <= final_bar_count)
        return None if ok else f"health_counts {rows}"
    if want is not None:
        # avg_price is rounded to 4 dp by both engines; allow the last digit
        tol = 1.0001e-4 if endpoint == "tick_summary" else 1e-9
        return None if rows_match(rows, want, tol) else f"{endpoint}{args} {rows[:2]} != {want[:2]}"
    return bar_invariants(endpoint, args, rows)


def bar_invariants(endpoint: str, args: dict, rows: list[tuple]) -> str | None:
    """Bars are read while the upsert rewrites them, so their values move;
    check what must hold for any consistent snapshot."""
    sym = args.get("symbol")
    for r in rows:
        if endpoint == "latest_bars":
            s, bucket_us, o, h, lo, c, _v, n = r
            ok = (s == sym and lo <= o <= h and lo <= c <= h
                  and bucket_us % MINUTE_US == 0 and n >= 1)
        elif endpoint == "bar_summary":
            s, _n, o, h, lo, c, first_us, last_us = r
            ok = (s == sym and lo <= o <= h and lo <= c <= h
                  and first_us % MINUTE_US == 0 and last_us % MINUTE_US == 0
                  and first_us <= last_us)
        else:  # movers
            s, o, c, pct = r
            ok = s.isalpha() and (pct is None or o is None or o == 0
                                  or math.isclose(pct, round((c - o) / o * 100, 4),
                                                  abs_tol=1.0001e-4))
        if not ok:
            return f"{endpoint}{args} violates bar invariants: {r}"
    if endpoint == "movers":
        pcts = [abs(r[3]) for r in rows if r[3] is not None]
        if pcts != sorted(pcts, reverse=True):
            return f"movers not ordered by |change_pct|: {rows}"
    return None


# --- analytics: registry oracles, normalized as the parity gate does --------

def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def result_key(cols: list[str], rows: list[tuple]):
    """(row count, sorted column names, order-insensitive value multiset)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keyed = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return len(rows), sorted(cols), keyed


def tables_con(data_dir: str, names: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_query(name: str, cols: list[str], rows: list[tuple], con, sql: str) -> str | None:
    rel = con.execute(sql)
    want = result_key([d[0] for d in rel.description], [tuple(r) for r in rel.fetchall()])
    got = result_key(cols, rows)
    if got == want:
        return None
    return f"{name}: {got[0]} rows {got[1]} vs oracle {want[0]} rows {want[1]}"
