"""Catalog workload: a fixed sample of the registered queries, built and
executed into the noop sink as ``bench.py`` does, in registration order,
plus ``TimeBucket`` pull reads of a bar table nothing is writing.

The sample is the first registered query of every name prefix with at
least three queries: 16 operator families.  A pass over all 179 queries
does not fit in one run on a 4-core host (about 80 s warm even at
sf0.001).  Before the timed round, one untimed round collects every
sampled query's result and compares it with its DuckDB oracle twin,
canonicalised as ``tools/check.py`` does; it also warms the JVM up.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import catalog_data
import reference as R
import ticks as T
from flagship import check_reads, finish_reads, pull, us
from harness import Run, median, quantile
from observe import StatusReader

SCALE = 0.001
FAMILY_MIN = 3
READS_PER_ROUND = 4
ROUND_S = 8  # nominal length of one timed round on a 4-core host
# the read table: 50 keys, 10 event minutes
READ_TICKS = {"n_keys": 50, "rate": 100, "seconds": 600}


def family(name: str) -> str:
    return name.split("_", 1)[0]


def sample(names: list[str]) -> list[str]:
    """The first registered query of every family (name prefix) with at
    least FAMILY_MIN queries, in registration order."""
    count = defaultdict(int)
    for n in names:
        count[family(n)] += 1
    first = {}
    for n in names:
        if count[family(n)] >= FAMILY_MIN:
            first.setdefault(family(n), n)
    return list(first.values())


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows by all columns, positional index."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def same_result(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Equal as rendered CSV text after canonicalisation."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    return canon(a).to_csv(index=False) == canon(b).to_csv(index=False)


def oracle(data_dir: str):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    for t in catalog_data.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def write_read_table(work: str, seed: int):
    """Reference 1 min bars of a small seeded tick stream, written as a
    parquet bar table; returns (path, bars with µs timestamps)."""
    bars = R.bars(T.make_ticks(T.TickSpec(seed=seed, **READ_TICKS)), 60)
    path = os.path.join(work, "bars", "bars_1m_live")
    os.makedirs(path)
    table = pa.Table.from_pandas(bars[R.BAR_COLS], preserve_index=False)
    table = table.set_column(1, "bucket_start", table["bucket_start"].cast(
        pa.timestamp("us", tz="UTC")))
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    bars["bucket_start"] = us(bars.bucket_start)
    return path, bars


def run_catalog(run: Run) -> None:
    from ksql_linq_spark.entry_queries import ORACLES, QUERIES, flagship
    from ksql_linq_spark.runtime import Period, TimeBucket
    from ksql_linq_spark.session import release_lineage_cuts

    names = sample(list(QUERIES))
    data = os.path.join(run.work, "data")
    catalog_data.write_tables(run.seed, SCALE, data)

    def warm_up(spark):
        spark.read.parquet(os.path.join(data, "lineitem.parquet")).count()
        flagship(spark, data).write.mode("overwrite").format("noop").save()

    run.setup(warm_up)
    spark = run.spark
    path, want_bars = write_read_table(run.work, run.seed)
    reader = TimeBucket(spark, path, Period.minutes(1), ["sym"])
    rng = np.random.default_rng(run.seed)
    keys = sorted(rng.choice(want_bars.sym.unique(), 8, replace=False))
    buckets = sorted(rng.choice(want_bars.bucket_start.unique(), 8,
                                replace=False).tolist())

    # untimed: correctness of every sampled query, which also warms up
    con = oracle(data)
    for name in names:
        ok, got = run.op(lambda: QUERIES[name](spark, data).toPandas())
        release_lineage_cuts(spark)
        if ok and not same_result(got, con.execute(ORACLES[name]).df()):
            run.problem(f"{name}: result differs from its DuckDB oracle")

    status = StatusReader(spark) if run.trace else None
    sc = spark.sparkContext
    per_query: dict[str, list[float]] = defaultdict(list)
    rounds: list[dict] = []
    reads: list[tuple] = []
    # the number of timed rounds follows --seconds, never the speed of
    # the engine, so every run does the same work
    rounds_due = max(1, round(run.seconds / ROUND_S))
    rnd = 0
    while True:
        layer = defaultdict(float)
        cpu0 = run.engine_cpu_s() + time.process_time()
        for name in names:
            op = f"r{rnd}/{name}"

            def timed():
                t0 = time.perf_counter()
                if run.trace:
                    sc.setJobGroup(f"{op}/build", op)
                df = QUERIES[name](spark, data)
                t1 = time.perf_counter()
                t2 = t1
                if run.trace:
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    sc.setJobGroup(f"{op}/exec", op)
                df.write.mode("overwrite").format("noop").save()
                t3 = time.perf_counter()
                if run.trace:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    run.tracer.add("query", t0, t3, op)
                    run.tracer.add("build", t0, t1, op, "query")
                    run.tracer.add("plan", t1, t2, op, "query")
                    run.tracer.add("exec", t2, t3, op, "query")
                    layer["build.s"] += t1 - t0
                    layer["plan.s"] += t2 - t1
                    layer["exec.s"] += t3 - t2
                return t3 - t0

            first = status.next_execution_id() if run.trace else 0
            ok, secs = run.op(timed)
            release_lineage_cuts(spark)
            if not ok:
                continue
            per_query[name].append(secs)
            layer["busy_s"] += secs
            layer[f"family.{family(name)}_s"] += secs
            if run.trace:
                status.settle()
                layer["build.jobs"] += status.jobs(f"{op}/build")["jobs"]
                for k, v in status.jobs(f"{op}/exec").items():
                    if k == "task_skew_max":
                        layer["exec.task_skew_max"] = max(
                            layer["exec.task_skew_max"], v)
                    else:
                        layer[f"exec.{k}"] += v
                for k, v in status.python_bytes(first).items():
                    layer[f"exec.{k}"] += v
        layer["cpu_s"] = run.engine_cpu_s() + time.process_time() - cpu0
        for i in range(READS_PER_ROUND):
            ok, r = run.op(pull, reader, i, keys, buckets)
            if ok:
                reads.append(r)
                start = run.tracer.at(r[3])
                run.tracer.add("read", start, start + r[4], f"r{rnd}/read{i}")
        rounds.append(layer)
        rnd += 1
        if rnd >= rounds_due:
            break
    run.record_rss()
    # a query's best time over the rounds, as bench.py reports it
    best = {k: min(v) for k, v in per_query.items()}
    run.e2e["cpu_s"] = median([r["cpu_s"] for r in rounds])
    run.layers["wall.busy_s"] = sum(best.values())
    run.layers["wall.result_p50_s"] = median(best.values())
    check_reads(run, reads, want_bars, want_bars.assign(commit_time=0.0))
    finish_reads(run, reads)
    run.detail.update({
        "rounds": rnd, "queries": names, "best_query_s": best,
        "result_p90_s": quantile(best.values(), 0.9),
        "round_busy_s": [r["busy_s"] for r in rounds],
        "round_cpu_s": [r["cpu_s"] for r in rounds],
        "samples": {"result": len(best), "reads": len(reads)}})
    if run.trace:
        keys_all = set().union(*rounds)
        avg = {k: (max(r.get(k, 0) for r in rounds) if k == "exec.task_skew_max"
                   else sum(r.get(k, 0) for r in rounds) / len(rounds))
               for k in keys_all}
        run.layers.update({k: v for k, v in avg.items()
                           if not k.startswith("family.")
                           and k not in ("busy_s", "cpu_s")})
        run.detail["layers"] = {k: v for k, v in avg.items()
                                if k.startswith("family.")}
        for k in ("stream.batches", "state.rows", "state.memory_bytes",
                  "state.dropped_rows", "gate.rows_in", "gate.rows_out",
                  "gapfill.synthetic_rows", "source.lag_files_max"):
            run.layers[k] = 0
