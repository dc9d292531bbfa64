"""Benchmark of the ksql_linq_spark engine: one named workload per call.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``catalog`` and ``flagship`` (see README.md).  The run makes its inputs from ``--seed``, measures for at
least ``--seconds`` seconds in whole rounds, checks every output against
a computation made apart from the engine, and prints as its last stdout
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones).  The line before it records the host.  A traced run also writes
its spans and every per-layer figure to
``.perfbench-out/<workload>-seed<N>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import Run, cpu_ticks, pin_host, steal_share  # noqa: E402

WORKLOADS = ("catalog", "flagship")


def declared() -> tuple[list, list]:
    """(end-to-end, per-layer) metric (name, unit) pairs of BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ksql_linq_spark",
                                       "__init__.py")):
        print("perfbench: no ksql_linq_spark/ here; run from the root of a "
              "checkout of the engine", file=sys.stderr)
        return 2
    e2e_names, layer_names = declared()
    work = os.path.join(root, ".perfbench-work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host = pin_host(root, work)
    run = Run(root, work, args.workload, args.seed, args.seconds,
              bool(args.trace))
    try:
        if args.workload == "catalog":
            from catalog import run_catalog as body
        else:
            from flagship import run_flagship as body
        body(run)
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_end"] = list(os.getloadavg())
    host["steal_share"] = steal_share(host.pop("cpu_ticks_start"), cpu_ticks())
    if run.trace:
        path = os.path.join(root, ".perfbench-out",
                            f"{args.workload}-seed{args.seed}.json")
        run.write_trace(path, host)
        print(f"perfbench: trace written to {path}", file=sys.stderr)
    result = run.result(e2e_names, layer_names)
    print(json.dumps({"host": host, "layers": run.layers,
                      "detail": run.detail}, default=str))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: done in {time.perf_counter() - t0:.1f} s",
          file=sys.stderr)
    raise SystemExit(code)
