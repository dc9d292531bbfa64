"""What the benchmark reads from outside the engine: spans it records
itself, and what Spark records in its own status stores, streaming
progress and sink logs.

All of it works with the Spark UI off: the status stores are the
in-process ``AppStatusStore`` (jobs, stages, tasks) and
``SQLAppStatusStore`` (per-node SQL metrics), filled by listeners on the
driver's event bus.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq


class Tracer:
    """Spans kept in memory and written as JSON when the run ends.

    A span has a name, a start, an end, the id of the operation it belongs
    to and the name of its parent span.  Times are taken on the
    ``perf_counter`` clock the benchmark's timings use and written as
    epoch seconds.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.epoch0 = time.time() - time.perf_counter()

    def at(self, epoch: float) -> float:
        """An epoch time on the ``perf_counter`` clock."""
        return epoch - self.epoch0

    def export(self) -> list[dict]:
        return [{**s, "start": s["start"] + self.epoch0,
                 "end": s["end"] + self.epoch0} for s in self.spans]

    def add(self, name: str, start: float, end: float, op: str,
            parent: str | None = None) -> None:
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end,
                               "id": op, "parent": parent})

    @contextmanager
    def span(self, name: str, op: str, parent: str | None = None):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, t0, time.perf_counter(), op, parent)


_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


class StatusReader:
    """Per-phase execution statistics from the in-process status stores.

    ``jobs(group)`` sums the stages of every job run under one job group;
    ``python_bytes(first_execution)`` sums the Python boundary's SQL
    metrics over the SQL executions started since then."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def settle(self) -> None:
        """Wait until the listeners have seen every event posted so far."""
        self._bus.waitUntilEmpty()

    def next_execution_id(self) -> int:
        return int(self._sql.executionsCount())

    STAGE_KEYS = ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "task_skew_max")

    def jobs(self, group: str) -> dict:
        out = dict.fromkeys(self.STAGE_KEYS, 0.0)
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        stages = set()
        for j in job_ids:
            ids = self._store.job(j).stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for s in stages:
            st = self._store.stageAttempt(s, 0, False, None, False, self._q)._1()
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += (st.shuffleRemoteBytesRead()
                                          + st.shuffleLocalBytesRead())
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.numCompleteTasks() > 1:
                summary = self._store.taskSummary(s, 0, self._q)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    out["task_skew_max"] = max(out["task_skew_max"],
                                               mx / max(med, 1.0))
        return out

    def python_bytes(self, first_execution: int) -> dict:
        out = {"python_sent_bytes": 0.0, "python_received_bytes": 0.0}
        for eid in range(first_execution, self.next_execution_id()):
            e = self._sql.execution(eid)
            if not e.isDefined():
                continue
            mets = e.get().metrics()
            vals = self._sql.executionMetrics(eid)
            seen = set()
            for i in range(mets.size()):
                m = mets.apply(i)
                name, acc = m.name(), m.accumulatorId()
                if name not in (PY_SENT, PY_RECEIVED) or acc in seen:
                    continue
                seen.add(acc)
                v = vals.get(acc)
                if not v.isDefined():
                    continue
                hit = _SIZE.search(v.get())
                if hit:
                    key = ("python_sent_bytes" if name == PY_SENT
                           else "python_received_bytes")
                    out[key] += float(hit.group(1)) * _UNITS[hit.group(2)]
        return out


def progress_time(p: dict) -> float:
    """A progress entry's trigger start as epoch seconds."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")) \
        .timestamp()


def stream_layers(progress: list[dict]) -> dict:
    """Per-query layer figures from ``StreamingQuery.recentProgress``."""
    d = defaultdict(float)
    for p in progress:
        ms = p["durationMs"]
        d["batches"] += 1
        d["add_batch_s"] += ms.get("addBatch", 0) / 1e3
        d["planning_s"] += ms.get("queryPlanning", 0) / 1e3
        d["commit_s"] += (ms.get("walCommit", 0)
                          + ms.get("commitOffsets", 0)) / 1e3
        d["source_s"] += (ms.get("latestOffset", 0)
                          + ms.get("getBatch", 0)) / 1e3
        d["trigger_s"] += ms.get("triggerExecution", 0) / 1e3
        d["input_rows"] += p["numInputRows"]
        for so in p.get("stateOperators", []):
            d["state_update_s"] += so.get("allUpdatesTimeMs", 0) / 1e3
            d["state_commit_s"] += so.get("commitTimeMs", 0) / 1e3
            d["dropped_rows"] += so.get("numRowsDroppedByWatermark", 0)
    last = progress[-1].get("stateOperators", []) if progress else []
    d["state_rows"] = sum(so.get("numRowsTotal", 0) for so in last)
    d["state_memory_bytes"] = sum(so.get("memoryUsedBytes", 0) for so in last)
    return dict(d)


def sink_batches(path: str) -> list[tuple[int, float, list[str]]]:
    """Batches of a file sink from its ``_spark_metadata`` log:
    (batch id, commit time in epoch seconds, data files it added).

    The log writes one file per batch and, every few batches, a
    ``.compact`` file that repeats all earlier entries; a batch's own
    files are the ones no earlier batch listed."""
    log = os.path.join(path, "_spark_metadata")
    entries = []
    for f in os.listdir(log) if os.path.isdir(log) else []:
        if f.startswith("."):
            continue
        batch = int(f.split(".")[0])
        full = os.path.join(log, f)
        with open(full) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the version
        files = [json.loads(x)["path"] for x in lines if x]
        entries.append((batch, os.stat(full).st_mtime, files))
    entries.sort()
    seen: set[str] = set()
    out = []
    for batch, mtime, files in entries:
        new = [f for f in files if f not in seen]
        seen.update(new)
        out.append((batch, mtime, new))
    return out


def local_path(uri: str) -> str:
    return unquote(urlparse(uri).path)


def read_sink(path: str):
    """Rows of a file sink as a pandas frame, with a ``commit_time``
    column: when the batch that wrote the row committed."""
    import pandas as pd

    parts = []
    for _, mtime, files in sink_batches(path):
        for f in files:
            t = pq.read_table(local_path(f)).to_pandas()
            t["commit_time"] = mtime
            parts.append(t)
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()


def sink_rows(path: str, cache: dict[str, int]) -> int:
    """Rows a file sink has committed, from its log and the data files'
    footers; ``cache`` keeps each file's row count between calls."""
    if not os.path.exists(os.path.join(path, "_spark_metadata")):
        return 0
    total = 0
    for _, _, files in sink_batches(path):
        for f in files:
            if f not in cache:
                cache[f] = pq.ParquetFile(local_path(f)).metadata.num_rows
            total += cache[f]
    return total


def jvm_peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
