"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_replay --seed 1 --seconds 10 --trace 0

Runs one workload against the engine in this checkout, checks its outputs
against DuckDB oracles, prints a human-readable report and, as the last
line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (see
``metrics.py``).  Each run gets its own directory under ``.perfbench_runs/``
in the checkout; its record (configuration, load, all metrics, spans) is
kept in ``.perfbench_runs/records/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import metrics  # noqa: E402

MODULES = {"ingest_replay": "ingest", "serve_live": "serve", "analytics_mix": "analytics"}


class Ctx:
    def __init__(self, args, spark, run, tracer):
        self.args, self.spark, self.run, self.tracer = args, spark, run, tracer
        self.seed = args.seed
        self.trace = bool(args.trace)


def end_to_end(setup_s: float, peak_rss_bytes: int, res: dict) -> dict:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_bytes / 2**20,
        "op_ms_p50": common.median(res["op_ms"]),
        "ops_per_s": res["ops_per_s"],
    }


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(MODULES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                   help="SPARK_GRAFT_CPUS for the engine (default: nproc)")
    p.add_argument("--record", help="also write the run record to this path")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not common.engine_present():
        print(f"perfbench: engine package {common.PACKAGE} not found next to "
              f"{os.path.basename(os.path.dirname(__file__))}/", file=sys.stderr)
        return 2
    run = common.RunDir(args.workload, args.seed)
    common.isolate_env(run, args.cpus)
    from tracing import Tracer

    wl = importlib.import_module(MODULES[args.workload])
    tracer = Tracer(bool(args.trace))
    load_start = common.loadavg()
    spark = None
    try:
        t = time.perf_counter()
        with tracer.span("session.get_spark", op="setup"):
            spark = common.start_spark(run)
        session_s = time.perf_counter() - t
        ctx = Ctx(args, spark, run, tracer)
        t = time.perf_counter()
        with tracer.span("setup", op="setup"):
            st = wl.setup(ctx)
        setup_s = session_s + (time.perf_counter() - t)
        with common.RssSampler(common.jvm_process(spark).pid) as rss:
            res = wl.measure(ctx, st, args.seconds)
        errors = wl.check(ctx, st)
        layers = wl.layers(ctx, st) if args.trace else {}
        record = common.describe(spark, args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            common.stop_spark(spark)
        run.cleanup()

    failed = min(res["attempted"], res.get("failed", 0) + len(errors))
    e2e = end_to_end(setup_s, rss.peak, res)
    samples = {"setup_s": 1, "peak_rss_mb": rss.samples,
               "op_ms_p50": len(res["op_ms"]), "ops_per_s": len(res["op_ms"])}
    if args.trace:
        layers["session.get_spark_s"] = session_s
        out = {k: layers.get(k, 0.0) for k in metrics.PER_LAYER}
        units = {k: v[0] for k, v in metrics.PER_LAYER.items()}
    else:
        out = e2e
        units = {k: v[0] for k, v in metrics.END_TO_END.items()}
    record.update(
        setup={"session_s": session_s, "prep_s": st["prep_s"]},
        load_start=load_start, load_end=common.loadavg(),
        end_to_end=e2e, samples=samples, errors=errors, detail=st.get("detail"),
        per_layer=layers or None, self_time_s=tracer.self_times() if args.trace else None,
    )
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    for path in filter(None, (run.records / f"{name}.json", args.record)):
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.write(str(run.records / f"{name}.spans.jsonl"))

    print(f"# {args.workload} seed={args.seed} cpus={args.cpus} nproc={record['nproc']} "
          f"load={record['load_start']}->{record['load_end']} spark={record['spark_version']} "
          f"commit={record['git_commit'][:12]}")
    for k, v in e2e.items():
        print(f"# {k:12s} {v:12.4f} {metrics.END_TO_END[k][0]:4s} n={samples[k]}")
    print(f"# error_frac   {failed / max(1, res['attempted']):.4f} "
          f"({failed} of {res['attempted']} operations)")
    for k, v in res.get("notes", {}).items():
        print(f"# {k:12s} {v}")
    for e in errors[:10]:
        print(f"# ERROR {e}")
    if args.trace:
        for k, v in sorted(record["self_time_s"].items(), key=lambda kv: -kv[1]):
            print(f"# self  {k:40s} {v:10.4f} s")
    print(json.dumps({
        "correct": not errors,
        "attempted": int(res["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
