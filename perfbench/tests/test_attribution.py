"""A traced pass attributes every Spark job, stage, SQL execution and
streaming trigger to exactly one benchmark job and phase, with no orphans.

One tiny pass at sf0.001 covers each kind of job the workloads run: an
iterative graph entry, a streaming drain, a TPC-H entry and the three
MapReduce batches. Run from the repository root:
``python3 -m pytest perfbench/tests -q`` (about a minute).
"""

import os
import sys
import tempfile
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    from perfbench import host

    work = tmp_path_factory.mktemp("perfbench")
    tmp, local = work / "tmp", work / "local"
    tmp.mkdir()
    local.mkdir()
    saved = dict(os.environ)
    os.environ.update(SPARK_GRAFT_CPUS=str(host.cores()), SPARK_GRAFT_DRIVER_MEM=host.driver_heap(),
                      TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(local),
                      SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp}")
    tempfile.tempdir = None
    from perfbench import harness, workloads

    graph_stream_tpch = workloads.catalog(0.001, ["graph_pagerank_purchases", "stream_tumbling_rollup",
                                                   "q3_shipping_priority"])
    batches = workloads.mr_batch(n_files=2, lines_per_file=200, r_num=2)

    workload = workloads.Workload("attribution", lambda ctx: graph_stream_tpch(ctx) + batches(ctx),
                                  workloads.WORKLOADS["mr_batch"].warm_up)
    run = harness.Run(workload, seed=7, seconds=0, trace=True, cache_dir=str(work / "cache"),
                      run_dir=str(work / "run"))
    try:
        result = run.execute()
    finally:
        harness.stop_spark()
        os.environ.clear()
        os.environ.update(saved)
        tempfile.tempdir = None
    return run, result


def test_outputs_correct(traced_run):
    run, result = traced_run
    assert result["correct"], run.detail
    assert result["attempted"] == 6


def test_every_record_in_exactly_one_phase(traced_run):
    run, _ = traced_run
    assert run.traced.orphans == []
    assert run.traced.ambiguous == []
    seen = Counter((kind, key) for kind, key, *_ in run.traced.assigned)
    assert max(seen.values()) == 1
    kinds = Counter(kind for kind, _ in seen)
    assert kinds["spark_job"] == run.layers["exec.jobs"] > 0
    assert kinds["stage"] >= run.layers["exec.stages"] > 0
    assert kinds["trigger"] == run.layers["streaming.triggers"] > 0
    assert kinds["sql_execution"] > 0


def test_every_span_has_a_parent_inside_the_run(traced_run):
    run, _ = traced_run
    spans = run.traced.tracer.spans
    assert [s.kind for s in spans if s.parent is None] == ["run"]
    depth = {"run": 0, "setup": 1, "job": 1, "phase": 2}
    for s in spans[1:]:
        parent = spans[s.parent]
        if s.kind in depth:
            assert depth[parent.kind] == depth[s.kind] - 1
        else:
            assert parent.kind in ("phase", "trigger", "spark_job"), s


def test_every_layer_reports(traced_run):
    run, _ = traced_run
    layers = run.layers
    for name in ["queries.construct_s", "catalyst.optimize_s", "catalyst.plan_s", "exec.execute_s",
                 "exec.executor_run_s", "shuffle.write_bytes", "io.input_bytes", "python.run_s",
                 "python.cpu_s", "streaming.add_batch_ms", "driver.jvm_cpu_s",
                 "driver.jvm_rss_peak_mb", "session.start_s"]:
        assert layers[name] > 0, name
    assert layers["pipe.child_cpu_s"] >= 0  # awk over this tiny corpus takes less than a clock tick
    assert layers["queries.construct_jobs"] > 0  # graph rounds checkpoint while the frame is built
