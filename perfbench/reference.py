"""Reference computation of the flagship pipeline, apart from the engine.

Pandas/NumPy over the generated ticks; it shares no code with
``ksql_linq_spark``.  It computes what the composed pipeline must emit:

- the session gate: a tick is kept iff ``open <= ts < close`` for some
  session of its market;
- OHLC bars per key and 1 s / 1 min / 5 min bucket: open and close are the
  prices of the earliest and latest tick, with high, low, sum and count;
- gap-fill: one row per key and minute from its first to its last 1 min
  bar; a minute without a bar carries the previous close and is synthetic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BAR_COLS = ["sym", "bucket_start", "open", "high", "low", "close", "sum_v",
            "cnt"]


def gate(ticks: pd.DataFrame, schedule: pd.DataFrame) -> pd.DataFrame:
    """Ticks inside a session of their market (open inclusive, close
    exclusive)."""
    keep = np.zeros(len(ticks), dtype=bool)
    ts = ticks.ts.to_numpy()
    mk = ticks.market.to_numpy()
    for market, s in schedule.groupby("market_key"):
        s = s.sort_values("open_time")
        opens = s.open_time.to_numpy()
        closes = s.close_time.to_numpy()
        rows = np.flatnonzero(mk == market)
        # the last session opening at or before ts is the only candidate
        # when sessions do not overlap
        i = np.searchsorted(opens, ts[rows], side="right") - 1
        ok = i >= 0
        ok[ok] = ts[rows][ok] < closes[i[ok]]
        keep[rows[ok]] = True
    return ticks[keep]


def bars(ticks: pd.DataFrame, seconds: int) -> pd.DataFrame:
    """OHLC bars of width ``seconds`` per key: BAR_COLS plus first/last ts."""
    t = ticks.sort_values("ts", kind="stable")
    us = t.ts.astype("int64") // 1000  # ns -> µs
    width = seconds * 1_000_000
    t = t.assign(bucket_start=pd.to_datetime(us // width * width, unit="us",
                                             utc=True))
    g = t.groupby(["sym", "bucket_start"], sort=True)
    out = g.agg(open=("price", "first"), high=("price", "max"),
                low=("price", "min"), close=("price", "last"),
                sum_v=("price", "sum"), cnt=("price", "size"),
                first_ts=("ts", "min"), last_ts=("ts", "max"))
    return out.reset_index()


def gap_fill(bars_1m: pd.DataFrame) -> pd.DataFrame:
    """Per key, every minute from its first to its last bar: sym,
    bucket_start, close, is_synthetic."""
    out = []
    step = pd.Timedelta(minutes=1)
    for sym, b in bars_1m.sort_values("bucket_start").groupby("sym"):
        spine = pd.date_range(b.bucket_start.iloc[0], b.bucket_start.iloc[-1],
                              freq=step)
        close = b.set_index("bucket_start").close.reindex(spine)
        synthetic = close.isna()
        out.append(pd.DataFrame({
            "sym": sym,
            "bucket_start": spine,
            "close": close.ffill().to_numpy(),
            "is_synthetic": synthetic.to_numpy(),
        }))
    cols = ["sym", "bucket_start", "close", "is_synthetic"]
    if not out:
        return pd.DataFrame(columns=cols)
    return pd.concat(out, ignore_index=True)[cols]


def compare(got: pd.DataFrame, want: pd.DataFrame, key: list[str],
            cols: list[str]) -> list[str]:
    """Problems found comparing emitted rows with reference rows on ``key``.

    Every emitted row must exist in ``want`` with equal ``cols``; a key may
    be emitted once only.  Missing rows are the caller's question, because
    which reference rows must have been emitted depends on watermarks."""
    problems = []
    if got.empty:
        return problems
    dup = got.duplicated(key)
    if dup.any():
        problems.append(f"{int(dup.sum())} duplicate rows, e.g. "
                        f"{got[dup].iloc[0].to_dict()}")
    m = got.merge(want, on=key, how="left", suffixes=("", "_ref"),
                  indicator=True)
    extra = m["_merge"] == "left_only"
    if extra.any():
        problems.append(f"{int(extra.sum())} rows not in the reference, e.g. "
                        f"{m[extra].iloc[0][key].to_dict()}")
    both = m[~extra]
    for c in cols:
        diff = both[c].to_numpy() != both[f"{c}_ref"].to_numpy()
        if diff.any():
            r = both[diff].iloc[0]
            problems.append(f"{int(diff.sum())} rows differ in {c}, e.g. "
                            f"{r[key].to_dict()}: {r[c]!r} != {r[c + '_ref']!r}")
    return problems
