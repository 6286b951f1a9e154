"""The benchmark's own checks: deterministic inputs, oracles that catch a
corrupted result, and metric names that match BENCHMARK.json.  No Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import hashlib
import json
import shutil
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import analytics  # noqa: E402
import gen  # noqa: E402
import ingest  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import serve  # noqa: E402


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(Path(p).read_bytes())
    return h.hexdigest()


def test_same_seed_same_tick_corpus():
    a, b = gen.tick_corpus(5, 4, 300), gen.tick_corpus(5, 4, 300)
    assert a.files == b.files and a.event_us == b.event_us
    assert gen.tick_corpus(6, 4, 300).files != a.files


def test_same_seed_same_serve_inputs():
    def inputs(seed):
        day = gen.tick_corpus(seed, serve.DAY_FILES, 300, serve.DAY_WINDOW_S,
                              symbols=serve.REF_SYMBOLS, zipf_s=0)
        live = gen.tick_corpus(seed, 4, serve.LIVE_PER_FILE, serve.PERIOD_S,
                               symbols=serve.REF_SYMBOLS, zipf_s=0)
        return day.files, live.files

    assert inputs(5) == inputs(5) != inputs(6)
    day, live = inputs(5)
    assert {json.loads(line)["symbol"] for f in day for line in f
            if line.startswith("{") and line.endswith("}") and "symbol" in line
            } <= set(serve.REF_SYMBOLS)


def test_analytics_tables_are_committed():
    names = set(analytics.table_names())
    assert {"events", "documents", "embeddings", "lineitem", "orders"} <= names


def test_corpus_properties():
    c = gen.tick_corpus(9, 6, 500)
    assert all(s.isalpha() for s in c.symbol)
    keys = [(s, us // oracle.MINUTE_US, us) for s, us in zip(c.symbol, c.event_us)]
    assert len(set(keys)) == len(keys)  # unique timestamps per (symbol, minute)
    assert 0.03 < c.malformed / c.records < 0.07
    # lateness: no tick is older than 2 minutes behind the newest tick of
    # the files before it (the watermark the stream holds)
    newest = None
    for f in range(len(c.files)):
        ts = [us for us, fi in zip(c.event_us, c.file_idx) if fi == f]
        if newest is not None:
            assert min(ts) > newest - 120_000_000
        newest = max(ts) if newest is None else max(newest, max(ts))


def _python_bars(c: gen.TickCorpus) -> list[tuple]:
    groups = defaultdict(list)
    for s, p, v, us in zip(c.symbol, c.price, c.volume, c.event_us):
        groups[(s, us - us % oracle.MINUTE_US)].append((us, p, v))
    out = []
    for (s, b), ticks in groups.items():
        ticks.sort()
        ps = [p for _, p, _ in ticks]
        out.append((s, b, ticks[0][1], max(ps), min(ps), ticks[-1][1],
                    sum(v or 0 for _, _, v in ticks), len(ticks)))
    return sorted(out)


def test_bars_oracle_agrees_with_python_and_catches_corruption():
    c = gen.tick_corpus(3, 4, 400)
    want = oracle.oracle_bars(oracle.ticks_con(c.symbol, c.price, c.volume, c.event_us))
    assert want == _python_bars(c)
    assert ingest.round_errors(want, want, c.malformed, c.malformed, 0) == []
    bad = copy.deepcopy(want)
    bad[3] = bad[3][:5] + (bad[3][5] + 0.01,) + bad[3][6:]
    assert ingest.round_errors(bad, want, c.malformed, c.malformed, 0)
    assert ingest.round_errors(want[1:], want, c.malformed, c.malformed, 0)
    assert ingest.round_errors(want, want, c.malformed - 1, c.malformed, 0)
    assert ingest.round_errors(want, want, c.malformed, c.malformed, 2)


def test_serving_checks_catch_corruption():
    c = gen.tick_corpus(4, 4, 400, window_s=600)
    con = oracle.ticks_con(c.symbol, c.price, c.volume, c.event_us)
    cases = [
        ("symbols", {}),
        ("latest_ticks", {"symbol": "AAPL", "limit": 7}),
        ("tick_summary", {"symbol": "MSFT", "minutes": 30}),
        ("latest_tick_per_symbol", {}),
    ]
    for ep, a in cases:
        good = oracle.serving_oracle(con, ep, a)
        assert good and oracle.check_serving(ep, a, good, con, 0) is None, ep
        last = good[0][-1]
        bad = [good[0][:-1] + (last + "X" if isinstance(last, str) else last + 1,)] + good[1:]
        assert oracle.check_serving(ep, a, bad, con, 0), ep
        if len(good) > 1:
            assert oracle.check_serving(ep, a, good[:-1], con, 0), ep
    n = len(c.symbol)
    health = [("db", 1), ("stock_ticks", n), ("stock_bars_1m", 5)]
    assert oracle.check_serving("health_counts", {}, health, con, 10) is None
    assert oracle.check_serving("health_counts", {}, health, con, 4)
    assert oracle.check_serving("health_counts", {}, [("db", 1), ("stock_ticks", n - 1),
                                                      ("stock_bars_1m", 5)], con, 10)


def test_only_reads_that_lost_their_files_are_retried():
    lost = RuntimeError("Job aborted\nCaused by: java.io.FileNotFoundException: "
                        "file:/t/bars/bucket_date=2024-01-02/part-0.parquet")
    assert serve.raced(lost) == "FileNotFoundException"
    assert serve.raced(RuntimeError("[FAILED_READ_FILE.FILE_NOT_EXIST] file:/t"))
    assert serve.raced(RuntimeError("[UNABLE_TO_INFER_SCHEMA] Unable to infer schema for Parquet"))
    assert serve.raced(RuntimeError("[UNRESOLVED_COLUMN] bucket_start")) is None
    assert serve.raced(ValueError("wrong row count")) is None


def test_bar_invariants_catch_corruption():
    t = 1_704_187_800_000_000
    bar = ("AAPL", t, 10.0, 12.0, 9.0, 11.0, 100, 3)
    assert oracle.bar_invariants("latest_bars", {"symbol": "AAPL"}, [bar]) is None
    assert oracle.bar_invariants("latest_bars", {"symbol": "MSFT"}, [bar])
    assert oracle.bar_invariants("latest_bars", {"symbol": "AAPL"}, [bar[:3] + (8.0,) + bar[4:]])
    assert oracle.bar_invariants("latest_bars", {"symbol": "AAPL"}, [(bar[0], t + 1) + bar[2:]])
    summ = ("AAPL", 4, 10.0, 12.0, 9.0, 11.0, t, t + oracle.MINUTE_US)
    assert oracle.bar_invariants("bar_summary", {"symbol": "AAPL"}, [summ]) is None
    assert oracle.bar_invariants("bar_summary", {"symbol": "AAPL"}, [summ[:6] + (t + 5, t)])
    movers = [("AAPL", 10.0, 11.0, 10.0), ("MSFT", 10.0, 10.5, 5.0)]
    assert oracle.bar_invariants("movers", {}, movers) is None
    assert oracle.bar_invariants("movers", {}, movers[::-1])
    assert oracle.bar_invariants("movers", {}, [("AAPL", 10.0, 11.0, 12.0)])


def test_query_check_catches_corruption():
    con = oracle.tables_con(analytics.DATA_DIR, analytics.table_names())
    sql = "SELECT event_type, count(*) AS n, round(sum(value), 4) AS s FROM events GROUP BY 1"
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = [tuple(r) for r in rel.fetchall()]
    assert oracle.check_query("q", cols, rows[::-1], con, sql) is None
    assert oracle.check_query("q", cols, rows[1:], con, sql)
    assert oracle.check_query("q", cols, [rows[0][:2] + (rows[0][2] + 1,)] + rows[1:], con, sql)
    assert oracle.check_query("q", ["event_type", "m", "s"], rows, con, sql)


def _source_log(ckpt, offsets: dict[int, list[str]]) -> None:
    d = ckpt / "sources" / "0"
    d.mkdir(parents=True)
    for off, names in offsets.items():
        (d / str(off)).write_text("v1\n" + "".join(
            json.dumps({"path": f"file:///live/{n}", "timestamp": 0, "batchId": off}) + "\n"
            for n in names))


def test_bar_lags_join_files_to_batches_by_source_offset(tmp_path):
    # batch 1 reads no data, so batch ids run one ahead of log offsets
    _source_log(tmp_path / "ckpt", {0: ["ticks-day.json"], 1: ["ticks-00000.json"],
                                   2: ["ticks-00001.json"]})
    progress = [
        {"batch_id": 0, "start": 100.0, "trigger_ms": 500, "end_offset": {"logOffset": 0}},
        {"batch_id": 1, "start": 100.6, "trigger_ms": 100, "end_offset": {"logOffset": 0}},
        {"batch_id": 2, "start": 103.0, "trigger_ms": 1000, "end_offset": '{"logOffset":1}'},
        {"batch_id": 3, "start": 105.0, "trigger_ms": 1500, "end_offset": {"logOffset": 2}},
    ]
    st = {"ckpt": str(tmp_path / "ckpt"), "progress": progress,
          "written": [("ticks-day.json", 99.0), ("ticks-00000.json", 102.5),
                      ("ticks-00001.json", 104.0)]}
    assert serve.bar_lags_ms(st) == [1500.0, 2500.0]


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(run.MODULES) == set(metrics.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == {
        k: v[:2] for k, v in metrics.END_TO_END.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()}
    printed = run.end_to_end(1.0, 2**20, {"op_ms": [1.0], "ops_per_s": 1.0})
    assert set(printed) == set(metrics.END_TO_END)
    assert len(metrics.PER_LAYER) <= 128


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [*spec["command"], "--workload", "ingest_replay", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
    assert not (tmp_path / ".perfbench_runs").exists()
