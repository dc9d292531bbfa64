"""Seeded tick streams and market schedules for the flagship workload.

Every input the flagship workload feeds the engine is made here from a
seed, with NumPy only, so the same seed gives the same ticks, the same
schedule and the same files.

- Keys ``s0000``.. are drawn with Zipf-like weights ``1 / rank**skew``;
  key ``i`` trades on market ``m{i % markets}``.
- Timestamps are strictly increasing across the whole stream (one tick per
  ``1e6 / rate`` microseconds, jittered inside its slot), so they are
  unique per key and open/close (``min_by``/``max_by``) are defined.
- Prices are whole quarters, so every sum is exact in binary floating
  point and engine and reference agree bit for bit.
- Each market is closed for ``CLOSURE_S`` seconds of every ``PERIOD_S``
  seconds, at a different offset per market: the session gate drops
  those ticks and the gap-fill has whole minutes to synthesize.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-02 09:00:00 UTC, a Tuesday; on a 5-minute boundary
E0_US = 1704186000 * 1_000_000
PERIOD_S = 300
CLOSURE_S = 75

TICK_SCHEMA = pa.schema([
    ("ts", pa.timestamp("us", tz="UTC")),
    ("market", pa.string()),
    ("sym", pa.string()),
    ("price", pa.float64()),
])


@dataclass(frozen=True)
class TickSpec:
    seed: int
    n_keys: int
    rate: int  # ticks per event second
    seconds: int  # event seconds covered
    start_s: int = 0  # event start, seconds after E0
    skew: float = 1.0
    markets: int = 4

    @property
    def start_us(self) -> int:
        return E0_US + self.start_s * 1_000_000

    @property
    def end_us(self) -> int:
        return self.start_us + self.seconds * 1_000_000


def closure_offset_s(market: int) -> int:
    return 170 + 20 * market


def make_ticks(spec: TickSpec) -> pd.DataFrame:
    """Ticks in event-time order: ts (µs, UTC), market, sym, price."""
    if 1_000_000 % spec.rate:
        raise ValueError("rate must divide 1e6 so tick slots are whole µs")
    rng = np.random.default_rng(spec.seed)
    n = spec.rate * spec.seconds
    step = 1_000_000 // spec.rate
    ts = spec.start_us + np.arange(n, dtype=np.int64) * step + rng.integers(
        0, step, n)
    w = 1.0 / np.arange(1, spec.n_keys + 1) ** spec.skew
    key = rng.choice(spec.n_keys, size=n, p=w / w.sum())
    # per-key random walk in quarters, starting between 100 and 1000
    base = rng.integers(400, 4000, spec.n_keys)
    moves = rng.integers(-2, 3, n)
    walk = pd.Series(moves).groupby(key).cumsum().to_numpy()
    quarters = np.maximum(base[key] + walk, 1)
    syms = np.array([f"s{i:04d}" for i in range(spec.n_keys)], dtype=object)
    mkts = np.array([f"m{i % spec.markets}" for i in range(spec.n_keys)],
                    dtype=object)
    return pd.DataFrame({
        "ts": pd.to_datetime(ts, unit="us", utc=True),
        "market": mkts[key],
        "sym": syms[key],
        "price": quarters / 4.0,
    })


def make_schedule(spec: TickSpec) -> pd.DataFrame:
    """Sessions per market covering the stream:
    market_key, open_time, close_time (open inclusive, close exclusive)."""
    first = (spec.start_s // PERIOD_S - 1) * PERIOD_S
    last = spec.start_s + spec.seconds + PERIOD_S
    rows = []
    for m in range(spec.markets):
        off = closure_offset_s(m)
        for p in range(first, last, PERIOD_S):
            # open [p - (PERIOD_S - off - CLOSURE_S), p + off) wraps the
            # period boundary; split as [p + off + CLOSURE_S, p + PERIOD_S + off)
            rows.append((f"m{m}", p + off + CLOSURE_S, p + PERIOD_S + off))
    df = pd.DataFrame(rows, columns=["market_key", "open_s", "close_s"])
    return pd.DataFrame({
        "market_key": df.market_key,
        "open_time": pd.to_datetime(E0_US + df.open_s * 1_000_000, unit="us",
                                    utc=True),
        "close_time": pd.to_datetime(E0_US + df.close_s * 1_000_000,
                                     unit="us", utc=True),
    })


def split_by_second(ticks: pd.DataFrame, file_seconds: int):
    """Yield (index, frame) for consecutive ``file_seconds`` event spans."""
    sec = (ticks.ts.astype("int64") // 1000 - E0_US) // 1_000_000
    slot = (sec - sec.min()) // file_seconds
    for i, part in ticks.groupby(slot.to_numpy(), sort=True):
        yield int(i), part


def write_tick_file(part: pd.DataFrame, path: str) -> None:
    """Write one parquet tick file atomically (staged, then renamed)."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), ".staging",
                       os.path.basename(path))
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(part, schema=TICK_SCHEMA,
                                        preserve_index=False), tmp)
    os.replace(tmp, path)
