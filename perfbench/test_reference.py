"""The flagship reference computation on a hand-checked input.

Run with ``python3 -m pytest perfbench/test_reference.py``.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import reference as R  # noqa: E402


def ts(s: str) -> pd.Timestamp:
    return pd.Timestamp(f"2024-01-02 {s}", tz="UTC")


# market m0 is closed from 09:01:00 to 09:02:00 and from 09:04:00 on
SCHEDULE = pd.DataFrame({
    "market_key": ["m0", "m0"],
    "open_time": [ts("09:00:00"), ts("09:02:00")],
    "close_time": [ts("09:01:00"), ts("09:04:00")],
})
TICKS = pd.DataFrame({
    "ts": [ts("09:00:05"), ts("09:00:10"), ts("09:00:10.5"), ts("09:00:50"),
           ts("09:01:30"), ts("09:02:00"), ts("09:03:59.999"),
           ts("09:04:00")],
    "market": ["m0"] * 8,
    "sym": ["B", "A", "A", "A", "A", "A", "A", "A"],
    "price": [5.0, 10.0, 12.0, 11.0, 99.0, 13.0, 14.0, 15.0],
})


def rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return [tuple(r) for r in df[cols].itertuples(index=False)]


def test_gate_keeps_open_inclusive_close_exclusive():
    kept = R.gate(TICKS, SCHEDULE)
    # 09:01:30 falls in the closure, 09:04:00 is the exclusive close
    assert kept.price.tolist() == [5.0, 10.0, 12.0, 11.0, 13.0, 14.0]


def test_bars_per_width():
    kept = R.gate(TICKS, SCHEDULE)
    cols = ["sym", "bucket_start", "open", "high", "low", "close", "sum_v",
            "cnt"]
    assert rows(R.bars(kept, 1), cols) == [
        ("A", ts("09:00:10"), 10.0, 12.0, 10.0, 12.0, 22.0, 2),
        ("A", ts("09:00:50"), 11.0, 11.0, 11.0, 11.0, 11.0, 1),
        ("A", ts("09:02:00"), 13.0, 13.0, 13.0, 13.0, 13.0, 1),
        ("A", ts("09:03:59"), 14.0, 14.0, 14.0, 14.0, 14.0, 1),
        ("B", ts("09:00:05"), 5.0, 5.0, 5.0, 5.0, 5.0, 1),
    ]
    assert rows(R.bars(kept, 60), cols) == [
        ("A", ts("09:00:00"), 10.0, 12.0, 10.0, 11.0, 33.0, 3),
        ("A", ts("09:02:00"), 13.0, 13.0, 13.0, 13.0, 13.0, 1),
        ("A", ts("09:03:00"), 14.0, 14.0, 14.0, 14.0, 14.0, 1),
        ("B", ts("09:00:00"), 5.0, 5.0, 5.0, 5.0, 5.0, 1),
    ]
    assert rows(R.bars(kept, 300), cols) == [
        ("A", ts("09:00:00"), 10.0, 14.0, 10.0, 14.0, 60.0, 5),
        ("B", ts("09:00:00"), 5.0, 5.0, 5.0, 5.0, 5.0, 1),
    ]
    first_last = R.bars(kept, 60)[["first_ts", "last_ts"]].iloc[0].tolist()
    assert first_last == [ts("09:00:10"), ts("09:00:50")]


def test_gap_fill_carries_the_previous_close():
    g = R.gap_fill(R.bars(R.gate(TICKS, SCHEDULE), 60))
    assert rows(g, ["sym", "bucket_start", "close", "is_synthetic"]) == [
        ("A", ts("09:00:00"), 11.0, False),
        ("A", ts("09:01:00"), 11.0, True),
        ("A", ts("09:02:00"), 13.0, False),
        ("A", ts("09:03:00"), 14.0, False),
        ("B", ts("09:00:00"), 5.0, False),
    ]


def test_compare_reports_wrong_extra_and_duplicate_rows():
    want = pd.DataFrame({"sym": ["A", "A"], "b": [1, 2], "v": [1.0, 2.0]})
    assert R.compare(want, want, ["sym", "b"], ["v"]) == []
    got = pd.DataFrame({"sym": ["A", "A", "A"], "b": [1, 3, 3],
                        "v": [1.5, 0.0, 0.0]})
    problems = R.compare(got, want, ["sym", "b"], ["v"])
    assert len(problems) == 3
    assert "duplicate" in problems[0]
    assert "not in the reference" in problems[1]
    assert "differ in v" in problems[2]
