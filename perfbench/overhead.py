"""Tracing overhead and the single-thread baseline.

    python3 perfbench/overhead.py [--seed 11] [--seconds 10] [--out FILE]

For each workload, runs ``run.py`` untraced and traced on the same seed and
prints, per end-to-end metric, traced minus untraced (the tracing overhead).
Then runs ``ingest_replay`` with ``--cpus 1`` as the one-core baseline.
Writes everything as one JSON document (default:
``.perfbench_runs/records/overhead-<time>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from common import ROOT  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int, *extra: str) -> dict:
    with tempfile.NamedTemporaryFile(suffix=".json", dir=ROOT) as rec:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--record", rec.name, *extra],
            check=True, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        return json.load(open(rec.name))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=11)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--out")
    a = p.parse_args()
    doc = {"seed": a.seed, "seconds": a.seconds, "workloads": {}}
    for w in metrics.WORKLOADS:
        off, on = _run(w, a.seed, a.seconds, 0), _run(w, a.seed, a.seconds, 1)
        delta = {k: on["end_to_end"][k] - off["end_to_end"][k] for k in metrics.END_TO_END}
        doc["workloads"][w] = {"untraced": off["end_to_end"], "traced": on["end_to_end"],
                               "overhead": delta, "self_time_s": on["self_time_s"],
                               "per_layer": on["per_layer"]}
        for k, d in delta.items():
            base = off["end_to_end"][k]
            print(f"{w:14s} {k:12s} untraced {base:12.4f}  traced-untraced {d:+12.4f}"
                  f" ({d / base:+.1%})")
    one = _run("ingest_replay", a.seed, a.seconds, 0, "--cpus", "1")
    doc["ingest_replay_1cpu"] = one["end_to_end"]
    for k, v in one["end_to_end"].items():
        print(f"ingest_replay  {k:12s} cpus=1   {v:12.4f}")
    out = a.out or os.path.join(ROOT, ".perfbench_runs", "records",
                                f"overhead-{time.strftime('%Y%m%dT%H%M%S')}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
