"""Seeded input generators for the streaming workloads.  ``analytics_mix``
reads the committed test tables in ``data/`` instead.

* ``tick_corpus`` — JSON-lines tick files for ``ingest_replay`` and
  ``serve_live``: alphabetic symbols (Zipf-skewed unless ``zipf_s=0``),
  timestamps unique per (symbol, minute), a fixed share of malformed
  records, and late ticks that stay inside the 2-minute watermark.  Returns
  the files and the ground truth the oracles aggregate.

The same seed gives byte-identical output (``tests/test_perfbench.py``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

#: Alphabetic symbols (``validate_symbol`` rejects digits).  Zipf weights
#: make the first few hot, like real tick traffic.
SYMBOLS = (
    "AAPL", "MSFT", "NVDA", "AMZN", "GOOG", "TSLA", "META", "AMD",
    "NFLX", "INTC", "ORCL", "CSCO", "ADBE", "QCOM", "PYPL", "SHOP",
)
ZIPF_S = 1.1
#: 2024-01-02 09:30:00 UTC in microseconds
T0_US = 1_704_187_800_000_000
MALFORMED_SHARE = 0.05
LATE_SHARE = 0.10


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def iso_us(us: int) -> str:
    """ISO-8601 UTC with microseconds, the reference producer's wire form."""
    sec, frac = divmod(int(us), 1_000_000)
    return (
        np.datetime64(sec, "s").astype(object).strftime("%Y-%m-%dT%H:%M:%S")
        + f".{frac:06d}+00:00"
    )


@dataclass
class TickCorpus:
    files: list[list[str]]  # JSON lines per file, one micro-batch each
    symbol: list[str]  # valid ticks, column-wise
    price: list[float]
    volume: list[int | None]
    event_us: list[int]
    file_idx: list[int]  # the file each valid tick arrives in
    malformed: int

    @property
    def records(self) -> int:
        return sum(len(f) for f in self.files)


def _malformed(rng: np.random.Generator, sym: str, us: int) -> str:
    kind = int(rng.integers(4))
    if kind == 0:
        return '{"symbol": "' + sym  # truncated JSON
    if kind == 1:
        return json.dumps({"symbol": sym, "event_time": iso_us(us)})  # no price
    if kind == 2:
        return json.dumps({"price": 10.5, "event_time": iso_us(us)})  # no symbol
    return json.dumps({"symbol": sym, "price": 10.5, "event_time": "not-a-time"})


def tick_corpus(
    seed: int, n_files: int, per_file: int, window_s: float = 30,
    t0_us: int = T0_US, symbols: tuple[str, ...] = SYMBOLS, zipf_s: float = ZIPF_S,
) -> TickCorpus:
    """``n_files`` files; file ``i`` holds ticks of event-time window ``i``
    (``window_s`` seconds) plus a ``LATE_SHARE`` of ticks from window
    ``i - 1``.  Lateness is at most ``2 * window_s`` behind the newest tick
    already seen, so with ``window_s <= 30`` no tick is older than the
    2-minute watermark.  ``zipf_s=0`` draws the symbols uniformly."""
    rng = np.random.default_rng(seed)
    n = n_files * per_file
    w_us = int(window_s * 1_000_000)
    # globally unique microsecond offsets → unique per (symbol, minute)
    offs = np.unique(rng.integers(0, n_files * w_us, size=n + n // 10))
    while len(offs) < n:
        offs = np.unique(np.concatenate([offs, rng.integers(0, n_files * w_us, n)]))
    offs = np.sort(rng.choice(offs, size=n, replace=False))
    win = offs // w_us
    late = (rng.random(n) < LATE_SHARE) & (win < n_files - 1)
    file_of = np.where(late, win + 1, win)
    sym_idx = rng.choice(len(symbols), size=n, p=zipf_weights(len(symbols), zipf_s))
    base = 20.0 + 40.0 * np.arange(len(symbols))
    price = np.round(base[sym_idx] + rng.uniform(-5, 5, n), 2)
    volume = rng.integers(100, 20_000, n)
    vol_null = rng.random(n) < 0.05
    bad = rng.random(n) < MALFORMED_SHARE
    order = rng.permutation(n)  # arrival order inside a file is shuffled

    files: list[list[str]] = [[] for _ in range(n_files)]
    out = TickCorpus(files, [], [], [], [], [], 0)
    for i in order:
        sym = symbols[sym_idx[i]]
        us = t0_us + int(offs[i])
        if bad[i]:
            line = _malformed(rng, sym, us)
            out.malformed += 1
        else:
            vol = None if vol_null[i] else int(volume[i])
            line = json.dumps(
                {"symbol": sym, "price": float(price[i]), "volume": vol,
                 "event_time": iso_us(us)}
            )
            out.symbol.append(sym)
            out.price.append(float(price[i]))
            out.volume.append(vol)
            out.event_us.append(us)
            out.file_idx.append(int(file_of[i]))
        files[file_of[i]].append(line)
    return out


def write_file(path: str, lines: list[str]) -> None:
    """Write atomically: the file source must never list a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)
