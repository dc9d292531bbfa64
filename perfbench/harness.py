"""One benchmark run: host pinning, the engine's session and JVM, the
operation count, metrics and the cleanup that leaves no process behind."""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

from observe import Tracer, jvm_peak_rss_mb

SETUP_REPS = 3


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """The ``q`` quantile of ``xs`` by linear interpolation."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def descendants(pid: int) -> set[int]:
    """Every live descendant of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_s(pid: int, reaped: bool) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # utime, stime, and with ``reaped`` cutime, cstime (fields 14-17)
    ticks = fields[11:15] if reaped else fields[11:13]
    return sum(int(x) for x in ticks) / CLK_TCK


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if "Compiler" in name:
            fields = stat.rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / CLK_TCK
    return total


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of a process, its live descendants and the children
    it has reaped.  Time the hypervisor stole is not counted."""
    total = _cpu_s(pid, True)
    for c in descendants(pid):
        try:
            total += _cpu_s(c, False)
        except OSError:
            pass  # exited meanwhile; its parent counts it once reaped
    return total


def wait_gone(pids, timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout
    left = {p for p in pids if _alive(p)}
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = {p for p in left if _alive(p)}
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while any(_alive(p) for p in left):
        time.sleep(0.05)


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(sum(d), 1)


def pin_host(root: str, work: str) -> dict:
    """Environment for the engine on this host, set before pyspark loads.

    Every scratch directory Spark and Python use lies under ``work``
    inside the checkout, which the run removes when it ends."""
    cpus = str(os.cpu_count() or 1)
    try:
        cpus = str(len(os.sched_getaffinity(0)))
    except AttributeError:
        pass
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    if root not in sys.path:
        sys.path.insert(0, root)
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": int(cpus),
        "master": f"local[{cpus}]",
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_start": list(os.getloadavg()),
        "cpu_ticks_start": cpu_ticks(),
        "commit": commit,
    }


class Run:
    """State of one run: counts, metrics, problems found, the session."""

    def __init__(self, root: str, work: str, workload: str, seed: int,
                 seconds: int, trace: bool):
        self.root, self.work = root, work
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}  # trace-file only figures
        self.spark = None
        self.session_starts: list[float] = []
        self.children: list[subprocess.Popen] = []

    # -- operations --------------------------------------------------
    def op(self, fn, *args, **kw):
        """Run one counted operation; a raised error counts as failed."""
        self.attempted += 1
        try:
            return True, fn(*args, **kw)
        except Exception:  # noqa: BLE001 — a failed operation is counted
            self.failed += 1
            print(f"perfbench: operation {getattr(fn, '__name__', fn)} "
                  f"failed:\n{traceback.format_exc()}", file=sys.stderr)
            return False, None

    def problem(self, what: str) -> None:
        self.problems.append(what)
        print(f"perfbench: wrong output: {what}", file=sys.stderr)

    # -- session -----------------------------------------------------
    def start_session(self):
        from ksql_linq_spark.session import build_session

        t0 = time.perf_counter()
        spark = build_session(
            f"perfbench-{self.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.session_starts.append(time.perf_counter() - t0)
        self.spark = spark
        return spark

    def setup(self, warm_up) -> None:
        """Start the session and warm it up ``SETUP_REPS`` times; setup_s
        is the median.  The first start also launches the JVM."""
        times = []
        for i in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("setup", f"setup-{i}"):
                spark = self.start_session()
                warm_up(spark)
            times.append(time.perf_counter() - t0)
        self.e2e["setup_s"] = median(times)
        self.layers["session.start_s"] = median(self.session_starts)
        self.detail["setup_s_each"] = times

    def spawn(self, argv: list[str], **kw) -> subprocess.Popen:
        p = subprocess.Popen(argv, **kw)
        self.children.append(p)
        return p

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def engine_cpu_s(self) -> float:
        """CPU seconds so far of the Spark JVM and its Python workers,
        less the JVM's JIT compiler threads: compilation is warm-up, and
        how much of it lands in a measured window varies from run to run."""
        pid = self.jvm_pid()
        return tree_cpu_s(pid) - jit_cpu_s(pid)

    def record_rss(self) -> None:
        self.layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(self.jvm_pid())

    def close(self) -> None:
        """Stop every stream, the session, the JVM and every process the
        run started, and wait until each has ended."""
        from pyspark import SparkContext

        left = descendants(os.getpid())
        for p in self.children:
            if p.poll() is None:
                p.terminate()
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        if self.spark is not None:
            try:
                for q in self.spark.streams.active:
                    q.stop()
            finally:
                self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may be gone already
                pass
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_gone(left | descendants(os.getpid()), timeout=30)

    # -- result ------------------------------------------------------
    def result(self, e2e_names, layer_names) -> dict:
        names = layer_names if self.trace else e2e_names
        source = self.layers if self.trace else self.e2e
        metrics = {}
        for name, unit in names:
            if name not in source:
                raise RuntimeError(f"metric {name} was not measured")
            metrics[name] = {"value": float(source[name]), "unit": unit}
        return {"correct": not self.problems, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def write_trace(self, path: str, host: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "seconds": self.seconds, "host": host,
                       "end_to_end": self.e2e, "per_layer": self.layers,
                       "detail": self.detail, "problems": self.problems,
                       "spans": self.tracer.export()}, f, indent=1)

