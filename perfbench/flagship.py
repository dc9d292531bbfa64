"""Flagship workload: the composed bar pipeline, session gate -> 1 s hub
-> 1 min / 5 min tiers -> gap-fill, on the RocksDB changelog store.

One seeded tick stream feeds one pipeline run:

- a backlog of 220 event seconds (44k ticks) waits in files of 110 event
  seconds, read two files per trigger, so the first batches are large;
- from the pipeline's start, a generator process writes the following
  event seconds, one file per wall-clock second on a fixed schedule (an
  open loop), so the live ticks queue behind the backlog and then arrive
  as small batches;
- a client thread makes READS pull reads of the 1 min tier through
  ``TimeBucket`` while the stream writes it.

The run ends when every bar the stream's last tick closes is committed
in every sink and the reads are done.  ``cpu_s`` is the engine's CPU
time for all of that.  The latency of a live 1 s bar is the time its sink
committed it minus the creation time of its last tick.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd

import reference as R
import ticks as T
from harness import Run, median, quantile
from observe import (StatusReader, progress_time, read_sink, sink_rows,
                     stream_layers)

TICK_DDL = "ts timestamp, market string, sym string, price double"
BAR_DDL = ("bucket_start timestamp, sym string, open double, high double, "
           "low double, close double, sum_v double, cnt long")
NAMES = {"hub": "bars_1s_rows", "tier_1m": "bars_1m_live",
         "tier_5m": "bars_5m_live", "gapfill": "bars_1m_gapfill"}
SINKS = tuple(NAMES)
WIDTH_S = {"hub": 1, "tier_1m": 60, "tier_5m": 300}
OHLC = ["open", "high", "low", "close", "sum_v", "cnt"]
TRIGGER_S = 3

# 1000 Zipf keys at 200 ticks per event second; 44k backlog ticks from
# 09:52:00, so it closes the 1 min bars up to 09:54 (with a whole closed
# minute for market m0) and the 09:50 5 min bar
N_KEYS, RATE = 200, 200
BACKLOG_S, FILE_S, MAX_FILES = 220, 110, 2
LIVE_START_S = 3340  # the backlog ends, and the live feed starts, at 09:55:40
# bars the stream's last tick must close: hub windows ending 2 s, tier
# windows ending 10 s before it (each query's watermark trails the
# newest event time it saw by 1 s)
CLOSED_MARGIN_S = {"hub": 2, "tier_1m": 10, "tier_5m": 10}
READ_KEYS = 8
READS = 12
READ_PAUSE_S = 0.3  # the pull client's think time before each read
READS_TIMEOUT_S = 60
CATCHUP_TIMEOUT_S = 90
# a live 1 s window closes 2 s after it ends, so a shorter feed closes none
MIN_LIVE_S = 3


def us(s: pd.Series) -> np.ndarray:
    """Timestamps as int64 microseconds since the epoch (UTC)."""
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.to_numpy(dtype="datetime64[us]").astype(np.int64)


def expected(ticks: pd.DataFrame, schedule: pd.DataFrame) -> dict:
    """Reference outputs of the pipeline, with timestamps as int64 µs."""
    kept = R.gate(ticks, schedule)
    out = {"gated": kept}
    for q, w in WIDTH_S.items():
        out[q] = R.bars(kept, w)
    out["gapfill"] = R.gap_fill(out["tier_1m"])
    for q in SINKS:
        f = out[q]
        for c in ("bucket_start", "first_ts", "last_ts"):
            if c in f:
                f[c] = us(f[c])
    return out


def closed_by(want: dict, end_us: int) -> dict:
    """Reference rows that ticks before ``end_us`` alone must close."""
    out = {}
    for q, margin in CLOSED_MARGIN_S.items():
        w = want[q]
        end = w.bucket_start + WIDTH_S[q] * 1_000_000
        out[q] = w[end <= end_us - margin * 1_000_000]
    g = R.gap_fill(out["tier_1m"].assign(bucket_start=pd.to_datetime(
        out["tier_1m"].bucket_start, unit="us")))
    g["bucket_start"] = us(g.bucket_start)
    out["gapfill"] = g
    return out


class Pipeline:
    """The four streaming queries, and where they write."""

    def __init__(self, run: Run, spark, src: str, base: str,
                 schedule: pd.DataFrame):
        from ksql_linq_spark.operators.calendar import in_session_join
        from ksql_linq_spark.operators.cascade import (
            CascadePlan, start_streaming_cascade)
        from ksql_linq_spark.operators.gapfill import streaming_gap_fill

        self.base = base
        self.sink = os.path.join(base, "sink")
        ckpt = os.path.join(base, "ckpt")
        sc = spark.sparkContext
        if run.trace:
            sc.setJobGroup(f"build-{base}", "pipeline build")
        t0 = time.perf_counter()
        ticks = (spark.readStream.schema(TICK_DDL)
                 .option("maxFilesPerTrigger", MAX_FILES).parquet(src))
        gated = in_session_join(ticks, spark.createDataFrame(schedule),
                                row_key="market", ts_col="ts")
        plan = CascadePlan(base_name="bars", keys=["sym"], ts_col="ts",
                           price_col="price", timeframes=["1m", "5m"])
        hub, t1m, t5m = start_streaming_cascade(
            plan, gated.drop("market"), sink_dir=self.sink,
            checkpoint_dir=ckpt, trigger_seconds=TRIGGER_S)
        bars_1m = (spark.readStream.schema(BAR_DDL)
                   .parquet(self.path("tier_1m"))
                   .select("sym", "bucket_start", "close"))
        gf = streaming_gap_fill(bars_1m, key="sym", bucket_col="bucket_start",
                                close_col="close", timeframe="1m")
        gfq = (gf.writeStream.format("parquet").queryName(NAMES["gapfill"])
               .option("path", self.path("gapfill"))
               .option("checkpointLocation", os.path.join(ckpt, "gapfill"))
               .outputMode("append")
               .trigger(processingTime=f"{TRIGGER_S} seconds").start())
        self.build_s = time.perf_counter() - t0
        if run.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
        run.tracer.add("build", t0, t0 + self.build_s, "pipeline")
        self.queries = {"hub": hub, "tier_1m": t1m, "tier_5m": t5m,
                        "gapfill": gfq}

    def path(self, q: str) -> str:
        return os.path.join(self.sink, NAMES[q])

    def raise_failure(self) -> None:
        for q in self.queries.values():
            if q.exception() is not None:
                raise RuntimeError(f"{q.name} failed: {q.exception()}")

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def progress(self) -> dict[str, list[dict]]:
        return {k: list(q.recentProgress) for k, q in self.queries.items()}


def pull(tb, i: int, keys: list[str], buckets: list[int]) -> tuple:
    """Read ``i`` of a closed loop: ``to_list`` of a key when ``i`` is
    even, else ``read`` of a bucket with a tolerance of one bucket.
    Returns (kind, key, bucket µs, start epoch s, seconds, rows)."""
    key, bucket = keys[i % len(keys)], buckets[i % len(buckets)]
    start = time.time()
    t0 = time.perf_counter()
    if i % 2 == 0:
        rows = tb.to_list(key)
    else:
        at = pd.Timestamp(bucket, unit="us", tz="UTC").to_pydatetime()
        row = tb.read([key], at, tolerance_buckets=1)
        rows = [] if row is None else [row]
    secs = time.perf_counter() - t0
    return ("list" if i % 2 == 0 else "read", key, bucket, start, secs,
            [r.asDict() for r in rows])


class Reader(threading.Thread):
    """One client pulling the 1 min tier while the stream writes it:
    READS reads in a closed loop with a think time between them, from
    the moment the tier holds its first bars."""

    def __init__(self, spark, path: str, keys: list[str], buckets: list[int]):
        super().__init__(daemon=True)
        self.spark, self.path = spark, path
        self.keys, self.buckets = keys, buckets
        self.halt = threading.Event()
        self.reads: list[tuple] = []
        self.errors = 0

    def run(self) -> None:
        from ksql_linq_spark.runtime import Period, TimeBucket

        counts: dict[str, int] = {}
        while sink_rows(self.path, counts) == 0:
            if self.halt.wait(0.25):
                return
        tb = TimeBucket(self.spark, self.path, Period.minutes(1), ["sym"])
        for i in range(READS):
            if self.halt.wait(READ_PAUSE_S):
                return
            try:
                self.reads.append(pull(tb, i, self.keys, self.buckets))
            except Exception as e:  # noqa: BLE001 — counted as a failed read
                self.errors += 1
                print(f"perfbench: read failed: {e}", file=sys.stderr)

    def finish(self, run: Run) -> None:
        self.halt.set()
        if self.is_alive():
            self.join(timeout=60)
        if self.is_alive():
            raise RuntimeError("pull reader did not stop")
        run.attempted += len(self.reads) + self.errors
        run.failed += self.errors


def check_reads(run: Run, reads: list[tuple], want_1m: pd.DataFrame,
                committed: pd.DataFrame, margin_s: float = 0.5) -> None:
    """Every row a read returned equals the reference bar; every bar the
    sink had committed ``margin_s`` before a read started is returned:
    all of the key's bars for ``to_list``, the latest bar within one
    bucket before the asked one for ``read``."""
    ref = want_1m.set_index(["sym", "bucket_start"])
    done = committed.groupby("sym")
    bad = missing = 0
    for kind, key, bucket, start, _, rows in reads:
        got = set()
        for r in rows:
            b = int(pd.Timestamp(r["bucket_start"]).value // 1000)
            got.add(b)
            k = (r["sym"], b)
            if (r["sym"] != key or k not in ref.index
                    or any(r[c] != ref.loc[k, c] for c in OHLC)):
                bad += 1
            if kind == "read" and not bucket - 60_000_000 <= b <= bucket:
                bad += 1
        if key not in done.groups:
            continue
        c = done.get_group(key)
        due = c.bucket_start[c.commit_time < start - margin_s]
        if kind == "read":
            due = due[(due <= bucket) & (due >= bucket - 60_000_000)]
            due = due.nlargest(1)
        missing += sum(1 for b in due if b not in got)
    if bad:
        run.problem(f"{bad} pull-read rows differ from the reference")
    if missing:
        run.problem(f"{missing} committed bars missing from pull reads")


def real_rows(got: pd.DataFrame, want: pd.DataFrame) -> pd.DataFrame:
    """A sink's rows with timestamps as int64 µs (``want``'s columns plus
    ``commit_time`` when the sink is empty)."""
    if got.empty:
        return want.iloc[0:0].assign(commit_time=0.0)
    got = got.copy()
    for c in ("bucket_start", "first_ts", "last_ts"):
        if c in got:
            got[c] = us(got[c])
    return got


def missing_rows(got: pd.DataFrame, due: pd.DataFrame) -> pd.DataFrame:
    m = due[["sym", "bucket_start"]].merge(got[["sym", "bucket_start"]],
                                           how="left", indicator=True)
    return m[m["_merge"] == "left_only"]


def check_sink(run: Run, q: str, got: pd.DataFrame, want: pd.DataFrame,
               closed_before_us: int | None) -> None:
    """Every emitted row equals the reference; no bar whose window ended
    by the query's last watermark is missing; the gap-fill emitted, per
    key, every reference row up to the last one it emitted."""
    cols = (["close", "is_synthetic"] if q == "gapfill"
            else OHLC + (["first_ts", "last_ts"] if q == "hub" else []))
    for p in R.compare(got, want, ["sym", "bucket_start"], cols):
        run.problem(f"{q}: {p}")
    if q == "gapfill":
        last = got.groupby("sym").bucket_start.max()
        w = want[want.sym.isin(last.index)]
        due = w[w.bucket_start.to_numpy() <= last.reindex(w.sym).to_numpy()]
    elif closed_before_us is None:
        return
    else:
        end = want.bucket_start + WIDTH_S[q] * 1_000_000
        due = want[end <= closed_before_us]
    n_missing = len(missing_rows(got, due))
    if n_missing:
        run.problem(f"{q}: {n_missing} closed rows missing")


def watermark_us(progress: list[dict]) -> int | None:
    wm = progress[-1].get("eventTime", {}).get("watermark") if progress else None
    return int(pd.Timestamp(wm).value // 1000) if wm else None


def wait_closed(pipe: Pipeline, due: dict) -> dict | None:
    """Poll the sinks named in ``due`` until each holds every row listed
    for it; returns, per sink, the commit time of the last of them, or
    None on timeout."""
    counts: dict[str, int] = {}
    done: dict[str, float] = {}
    deadline = time.monotonic() + CATCHUP_TIMEOUT_S
    while time.monotonic() < deadline:
        pipe.raise_failure()
        for q in due:
            if q in done or sink_rows(pipe.path(q), counts) < len(due[q]):
                continue
            rows = real_rows(read_sink(pipe.path(q)), due[q])
            if missing_rows(rows, due[q]).empty:
                hit = due[q][["sym", "bucket_start"]].merge(rows)
                done[q] = float(hit.commit_time.max())
        if len(done) == len(due):
            return done
        time.sleep(0.25)
    return None


def layer_totals(run: Run, status: StatusReader, pipe: Pipeline,
                 progress: dict, first_execution: int) -> None:
    """Per-layer figures of the run from the status stores and progress."""
    status.settle()
    tot: dict[str, float] = {"build.s": pipe.build_s}
    tot["build.jobs"] = status.jobs(f"build-{pipe.base}")["jobs"]
    per_q = {q: stream_layers(progress[q]) for q in SINKS}
    for sq in pipe.queries.values():
        for k, v in status.jobs(str(sq.runId)).items():
            key = f"exec.{k}"
            tot[key] = (max(tot.get(key, 0), v) if k == "task_skew_max"
                        else tot.get(key, 0) + v)
    for k, v in status.python_bytes(first_execution).items():
        tot[f"exec.{k}"] = v
    total = {k: sum(d.get(k, 0) for d in per_q.values())
             for k in per_q["hub"]}
    tot["plan.s"] = total["planning_s"]
    tot["exec.s"] = total["add_batch_s"]
    tot["stream.batches"] = total["batches"]
    tot["state.rows"] = total["state_rows"]
    tot["state.memory_bytes"] = total["state_memory_bytes"]
    tot["state.dropped_rows"] = total["dropped_rows"]
    tot["gate.rows_in"] = per_q["hub"]["input_rows"]
    run.layers.update(tot)
    detail = run.detail.setdefault("layers", {})
    for q, d in per_q.items():
        for k in ("add_batch_s", "batches", "planning_s", "commit_s",
                  "source_s", "trigger_s"):
            detail[f"stream.{q}.{k}"] = d.get(k, 0)
        for k, name in (("state_update_s", "update_s"),
                        ("state_commit_s", "commit_s"),
                        ("state_rows", "rows"),
                        ("state_memory_bytes", "memory_bytes"),
                        ("dropped_rows", "dropped_rows")):
            detail[f"state.{q}.{name}"] = d.get(k, 0)


def spans_from_progress(run: Run, progress: dict) -> None:
    """One span per micro-batch, from its progress timestamp and
    trigger duration."""
    for q, prog in progress.items():
        for p in prog:
            start = run.tracer.at(progress_time(p))
            run.tracer.add(f"batch.{q}", start,
                           start + p["durationMs"].get("triggerExecution", 0)
                           / 1e3, f"{q}/{p['batchId']}", parent="pipeline")


def finish_reads(run: Run, reads: list[tuple]) -> None:
    if not reads:
        raise RuntimeError("no pull read completed")
    secs = [r[4] for r in reads]
    run.layers["wall.read_p50_ms"] = median(secs) * 1e3
    run.layers["runtime.reads"] = len(reads)
    run.layers["runtime.read_s"] = sum(secs)


def warm_up(src_file: str, schedule: pd.DataFrame):
    """Select the state store and pass one tick file through the session
    gate as a batch job."""
    from ksql_linq_spark.operators.calendar import in_session_join
    from ksql_linq_spark.streaming.stateful import ensure_rocksdb_provider

    def go(spark):
        ensure_rocksdb_provider(spark, check_shards=False)
        t = spark.read.schema(TICK_DDL).parquet(src_file)
        s = spark.createDataFrame(schedule)
        (in_session_join(t, s, row_key="market", ts_col="ts")
         .groupBy("sym").count().write.format("noop").mode("overwrite")
         .save())
    return go


def run_flagship(run: Run) -> None:
    spec = T.TickSpec(seed=run.seed, n_keys=N_KEYS, rate=RATE,
                      seconds=BACKLOG_S + max(run.seconds, MIN_LIVE_S),
                      start_s=LIVE_START_S - BACKLOG_S)
    ticks = T.make_ticks(spec)
    schedule = T.make_schedule(spec)
    live_us = T.E0_US + LIVE_START_S * 1_000_000
    n_backlog = int((ticks.ts < pd.Timestamp(live_us, unit="us",
                                             tz="UTC")).sum())
    want = expected(ticks, schedule)
    due = closed_by(want, spec.end_us)
    src = os.path.join(run.work, "src")
    os.makedirs(src)
    t_old = time.time() - 1000
    for i, part in T.split_by_second(ticks.iloc[:n_backlog], FILE_S):
        p = os.path.join(src, f"backlog-{i:03d}.parquet")
        T.write_tick_file(part, p)
        os.utime(p, (t_old + i, t_old + i))  # the source reads oldest first
    rng = np.random.default_rng(run.seed)
    hot = (want["tier_1m"].groupby("sym").cnt.sum()
           .sort_values(ascending=False).index[:4 * READ_KEYS])
    keys = sorted(rng.choice(hot, READ_KEYS, replace=False).tolist())
    buckets = sorted(want["tier_1m"].bucket_start.unique().tolist())

    run.setup(warm_up(os.path.join(src, "backlog-000.parquet"), schedule))
    spark = run.spark
    status = StatusReader(spark)
    first_execution = status.next_execution_id()

    cpu0 = run.engine_cpu_s()
    t_start = time.time()
    pipe = Pipeline(run, spark, src, os.path.join(run.work, "pipeline"),
                    schedule)
    reader = Reader(spark, pipe.path("tier_1m"), keys, buckets)
    t0 = time.time() + 0.5
    gen = run.spawn(
        [sys.executable, os.path.join(os.path.dirname(
            os.path.abspath(__file__)), "livegen.py"),
         "--seed", str(run.seed), "--keys", str(N_KEYS), "--rate", str(RATE),
         "--start-s", str(spec.start_s), "--seconds", str(spec.seconds),
         "--skip", str(BACKLOG_S), "--out", src, "--t0", repr(t0)],
        stdout=subprocess.PIPE, text=True)
    reader.start()
    lag_max = 0
    try:
        while gen.poll() is None:
            pipe.raise_failure()
            written = sum(1 for f in os.listdir(src) if f.startswith("live"))
            seen = sum(p["numInputRows"] for p in
                       pipe.queries["hub"].recentProgress) - n_backlog
            lag_max = max(lag_max, written - max(seen, 0) // RATE)
            time.sleep(0.25)
        gen_out = gen.communicate()[0]
        if gen.returncode != 0:
            raise RuntimeError(f"tick generator exited with {gen.returncode}")
        closed = wait_closed(pipe, due)
        if closed is None:
            raise RuntimeError(f"stream not drained in {CATCHUP_TIMEOUT_S} s")
        reader.join(READS_TIMEOUT_S)
        run.e2e["cpu_s"] = run.engine_cpu_s() - cpu0
    finally:
        reader.finish(run)
        progress = pipe.progress()
        pipe.stop()
    done = max(closed.values())
    run.tracer.add("drain", run.tracer.at(t_start), run.tracer.at(done),
                   "pipeline")
    run.record_rss()
    spans_from_progress(run, progress)
    for i, r in enumerate(reader.reads):
        start = run.tracer.at(r[3])
        run.tracer.add("read", start, start + r[4], f"read/{i}")

    sinks = {}
    for q in SINKS:
        run.attempted += 1
        sinks[q] = real_rows(read_sink(pipe.path(q)), want[q])
        check_sink(run, q, sinks[q], want[q],
                   None if q == "gapfill" else watermark_us(progress[q]))
    check_reads(run, reader.reads, want["tier_1m"], sinks["tier_1m"])
    dropped = sum(stream_layers(progress[q]).get("dropped_rows", 0)
                  for q in SINKS)
    if dropped:
        run.problem(f"{dropped} rows dropped by watermark")

    live = sinks["hub"][sinks["hub"].last_ts >= live_us]
    created = t0 + (live.last_ts - live_us) / 1e6
    lat_1s = (live.commit_time - created).tolist()
    run.layers["wall.busy_s"] = done - t_start
    run.layers["wall.result_p50_s"] = median(lat_1s)
    finish_reads(run, reader.reads)
    late_max = json.loads(gen_out.strip().splitlines()[-1])["late_max_s"]
    run.detail.update({
        "rows_per_s": len(ticks) / (done - t_start),
        "bar_1s_latency_p90_s": quantile(lat_1s, 0.9),
        "samples": {"bar_1s": len(lat_1s), "reads": len(reader.reads)},
        "generator_late_max_s": late_max,
    })
    if run.trace:
        layer_totals(run, status, pipe, progress, first_execution)
        run.layers["gate.rows_out"] = float(sinks["hub"].cnt.sum())
        run.layers["gapfill.synthetic_rows"] = float(
            sinks["gapfill"].is_synthetic.sum())
        run.layers["source.lag_files_max"] = lag_max
        run.detail["layers"]["generator.late_max_s"] = late_max
