"""Open-loop tick generator for the live feed of the flagship workload.

Writes event second ``skip + i`` of the seeded tick stream as one
parquet file at wall-clock time ``t0 + i + 1``, the moment its last tick
was due, so a tick stamped ``ts`` was created at ``t0 + (ts - live start)
seconds``.  The first ``skip`` event seconds are the backlog, which the
caller writes.  The schedule does not wait for the engine.  Prints one
JSON line when done: how many files it wrote and how late the latest
one was.

Usage: python3 perfbench/livegen.py --seed N --keys K --rate R
           --start-s S --seconds D --skip B --out DIR --t0 EPOCH
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ticks as T  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    for name in ("--seed", "--keys", "--rate", "--start-s", "--seconds",
                 "--skip"):
        ap.add_argument(name, type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()
    spec = T.TickSpec(seed=a.seed, n_keys=a.keys, rate=a.rate,
                      seconds=a.seconds, start_s=a.start_s)
    files = list(T.split_by_second(T.make_ticks(spec), 1))[a.skip:]
    late_max = 0.0
    for i, (_, part) in enumerate(files):
        due = a.t0 + i + 1
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        T.write_tick_file(part, os.path.join(a.out, f"live-{i:05d}.parquet"))
        late_max = max(late_max, time.time() - due)
    print(json.dumps({"files": len(files), "late_max_s": late_max}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
