"""What every metric means. Names, units, directions and bounds are read from
BENCHMARK.json, the one place they are written down.

End-to-end metrics come from untraced runs and are counted in CPU seconds of
the Spark driver's whole process tree (driver Python, JVM, Python workers,
piped commands):

* ``setup_s``: the cold setup, engine import plus session start (JVM
  launch) plus warm-up (one tiny SQL job and the workload's own warm-up,
  which on ``mr_batch`` runs each Batch surface on a tiny corpus). One
  sample per run: only the first setup in a process is cold.
* ``cpu_s``: the median timed pass over the workload's jobs (two passes
  of ``mr_batch`` fit in a run, one of each catalog workload).

On the shared 4-core host the benchmark was built on, CPU steal of up to 16%
and co-tenant load moved wall-clock pass times by up to 45% between
consecutive runs of identical work. The tree's CPU seconds move less but
still follow co-tenant load: over ten runs their quartiles lay 4-16% of the
median apart, with every job and the setup of one run moving together. The
wall-clock figures (setup, makespan, job p50 and tail with their percentile
and sample count, MB/s) and the per-job CPU p50 and tail are in every run's
detail record.

Per-layer metrics come from traced runs. A per-layer metric's layer is the
prefix of its name, after the engine module or Spark subsystem it measures.
:data:`MOVES` names, for each, the end-to-end metric it should move and on
which workloads.
"""

from __future__ import annotations

import json
import os

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load() -> dict:
    with open(BENCHMARK_JSON) as fh:
        return json.load(fh)


_ALL = "all workloads"
_CONSTRUCT = "cpu_s on graph_iter and stream_drain; not on mr_batch"
_EXEC = "cpu_s on graph_iter and mr_batch"
_SHUFFLE = "cpu_s on mr_batch"
_IO = "cpu_s on mr_batch (input MB per pass is fixed)"
_PYTHON = "cpu_s on mr_batch; flat on graph_iter and stream_drain"
_STREAM = "cpu_s on stream_drain; zero elsewhere"
_DRIVER = "cpu_s (CPU) and driver memory on " + _ALL

#: per-layer metric -> the end-to-end metric it should move, and where
MOVES = {
    "session.start_s": "setup_s on " + _ALL,
    "session.warm_s": "setup_s on " + _ALL,
    "session.default_parallelism": "setup_s on " + _ALL + " (must equal the core count)",
    "queries.construct_s": _CONSTRUCT,
    "queries.construct_jobs": _CONSTRUCT,
    "queries.construct_share": _CONSTRUCT,
    "catalyst.optimize_s": "cpu_s on graph_iter and stream_drain (predicted below 3%)",
    "catalyst.plan_s": "cpu_s on graph_iter and stream_drain (predicted below 3%)",
    "exec.execute_s": _EXEC,
    "exec.jobs": _EXEC,
    "exec.stages": _EXEC,
    "exec.tasks": _EXEC,
    "exec.executor_run_s": _EXEC,
    "exec.executor_cpu_s": _EXEC,
    "exec.gc_s": _EXEC,
    "exec.busy_ratio": _EXEC,
    "exec.underfilled_stages": _EXEC,
    "shuffle.write_bytes": _SHUFFLE,
    "shuffle.read_bytes": _SHUFFLE,
    "shuffle.fetch_wait_s": _SHUFFLE,
    "shuffle.write_s": _SHUFFLE,
    "spill.bytes": _SHUFFLE,
    "io.input_bytes": _IO,
    "io.input_records": _IO,
    "io.output_bytes": _IO,
    "io.output_records": _IO,
    "python.run_s": _PYTHON,
    "python.start_s": _PYTHON,
    "python.init_s": _PYTHON,
    "python.bytes_sent": _PYTHON,
    "python.bytes_returned": _PYTHON,
    "python.cpu_s": _PYTHON,
    "pipe.child_cpu_s": "cpu_s on mr_batch",
    "streaming.triggers": _STREAM,
    "streaming.data_triggers": _STREAM,
    "streaming.query_planning_ms": _STREAM,
    "streaming.add_batch_ms": _STREAM,
    "streaming.wal_commit_ms": _STREAM,
    "streaming.commit_offsets_ms": _STREAM,
    "streaming.latest_offset_ms": _STREAM,
    "streaming.fixed_share": _STREAM,
    "streaming.state_rows": _STREAM,
    "streaming.state_memory_bytes": _STREAM,
    "streaming.trigger_p50_ms": _STREAM,
    "streaming.trigger_tail_ms": _STREAM,
    "driver.jvm_cpu_s": _DRIVER,
    "driver.py_cpu_s": _DRIVER,
    "driver.jvm_rss_peak_mb": _DRIVER,
    "driver.tree_peak_mb": _DRIVER + " (Python processes by PSS, the rest by RSS)",
    "trace.overhead_s": "none: time the traced run spends reading the status store and /proc",
    "trace.orphans": "none: Spark work attributed to no benchmark job; must stay 0",
}
