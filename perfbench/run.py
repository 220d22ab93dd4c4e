#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads are listed in ``perfbench/workloads.py`` and in BENCHMARK.json.
The last line of standard output is one JSON object::

    {"correct": true, "attempted": 3, "failed": 0,
     "metrics": {"setup_s": {"value": 29.74, "unit": "s"}, ...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, and the spans go to
``.perfbench/results/<workload>-seed<n>.spans.json``. The line before the
last carries the run's details: session sizing (master, cores, driver heap,
default parallelism), host state over the run (CPU idle and steal shares,
CPU pressure), per-job phase times, setup samples and any errors or output
mismatches.

The session is sized from the host: ``local[<cores>]`` with a driver heap
of at most 60% of RAM. Every run works in a fresh ``.perfbench/runs/...``
directory (the generated corpus and the engine's temp files included) that
is removed at the end; DuckDB oracle answers are cached in
``.perfbench/cache``. Metric names and units come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench import metrics  # noqa: E402


def _sized_env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    return {
        "SPARK_GRAFT_CPUS": str(host.cores()),
        "SPARK_GRAFT_DRIVER_MEM": host.driver_heap(),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_SUBMIT_OPTS": f"{opts} -Djava.io.tmpdir={tmp}".strip(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "irio_mapreduce_spark")):
        print(f"perfbench: the engine package irio_mapreduce_spark is not under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.environ.update(_sized_env(run_dir))
    tempfile.tempdir = None

    # Keep stdout for the result: everything else, the JVM's output
    # included, goes to stderr.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    from perfbench import harness

    try:
        if args.workload not in harness.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(harness.WORKLOADS)}",
                  file=sys.stderr)
            return 2
        run = harness.Run(harness.WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
                          cache_dir=os.path.join(work, "cache"), run_dir=run_dir)
        try:
            result = run.execute()
        finally:
            harness.stop_spark()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    results = os.path.join(work, "results")
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if run.traced is not None:
        run.detail["spans_file"] = stem + ".spans.json"
        harness.write_json(run.detail["spans_file"], run.traced.tracer.to_json())
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):  # tracing overhead against the same seed's untraced run
            with open(untraced) as fh:
                base = json.load(fh)
            run.detail["tracing_overhead"] = {
                "makespan_s": run.detail["wall"]["makespan_s"] - base["wall"]["makespan_s"],
                "cpu_s": run.detail["end_to_end"]["cpu_s"] - base["end_to_end"]["cpu_s"],
            }
    harness.write_json(stem + ".json", run.detail)
    defs = metrics.load()["per_layer" if args.trace else "end_to_end"]
    values = run.layers if args.trace else result["metrics"]
    result["metrics"] = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in defs}
    out = json.dumps(run.detail, separators=(",", ":"), default=str) + "\n" + json.dumps(result) + "\n"
    os.write(real_stdout, out.encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
