"""One benchmark run: set up a session, run timed passes over a workload's
jobs, check every output, and compute the metrics.

Timeline of a run:

1. Cold setup: engine import, session start (JVM launch) and warm-up (one
   tiny SQL job and the workload's own warm-up). This is ``setup_s``, in
   CPU seconds of the process tree; one sample per run, because only the
   first setup in a process is cold.
2. Timed passes: every job of the workload in its order, one after the
   other, repeated until ``seconds`` have passed (at least one pass). The
   untraced run times only the construct call and the forcing call; the
   traced run also times Catalyst (``optimizedPlan()``, ``executedPlan()``)
   and reads Spark's status store and ``/proc`` after each job.
3. Checks of the last pass's outputs, untimed.
4. Stop the session and the JVM, and wait for every process to end.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import host
from perfbench.stats import tail
from perfbench.workloads import WORKLOADS, Context, Job, WarmUp, Workload


@dataclass
class JobRecord:
    name: str
    pass_index: int
    phases: dict[str, tuple[float, float]] = field(default_factory=dict)  # epoch s
    error: str | None = None
    output: object = None
    input_bytes: int = 0
    cpu_s: float = 0.0  # CPU seconds of the Spark driver's whole process tree
    cpu: host.TreeCpu | None = None  # its split, in traced runs

    @property
    def seconds(self) -> float:
        starts = [a for a, _ in self.phases.values()]
        ends = [b for _, b in self.phases.values()]
        return max(ends) - min(starts) if starts else 0.0


def _tiny_sql_job(spark) -> None:
    spark.range(1 << 16).selectExpr("sum(id)").collect()


@dataclass
class SetupSample:
    start_s: float  # wall seconds to get a session
    warm_s: float  # wall seconds of the warm-up
    cpu_s: float  # CPU seconds the process tree spent on both


def _start_session(warm_up: WarmUp | None, ctx: Context, extra_s: float, extra_cpu_s: float):
    """Start a session and warm it up; ``extra_*`` is setup work done just
    before (the engine import)."""
    from irio_mapreduce_spark.session import get_spark

    cpu0, t0 = host.tree_cpu_s(os.getpid()), time.perf_counter()
    spark = get_spark()
    t1 = time.perf_counter()
    _tiny_sql_job(spark)
    if warm_up is not None:
        warm_up(spark, ctx)
    t2 = time.perf_counter()
    cpu = host.tree_cpu_s(os.getpid()) - cpu0
    return spark, SetupSample(extra_s + t1 - t0, t2 - t1, extra_cpu_s + cpu)


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until every process the run
    started (JVM, Python workers, piped commands) has ended."""
    from pyspark import SparkContext

    descendants = [p.pid for p in host.process_tree(os.getpid())[1:]]
    spark.stop()
    gw, proc = SparkContext._gateway, _jvm_proc()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    left = host.wait_gone(descendants, 30)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    if host.wait_gone(left, 10):
        raise RuntimeError(f"processes {left} outlived the run")


def stop_spark() -> None:
    """Shut down a session a failed run left running."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        _shutdown(spark)


class Run:
    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool,
                 cache_dir: str, run_dir: str):
        self.wl = workload
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.ctx = Context(cache_dir=cache_dir, run_dir=run_dir, seed=seed)
        self.cores = host.cores()
        self.records: list[JobRecord] = []
        self.pass_seconds: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.setup: SetupSample | None = None
        self.traced = None  # spans.TracedPass of a traced run
        self.trace_s = 0.0  # time the traced pass spent in self.traced
        self.layers: dict[str, float] = {}
        self.detail: dict = {}

    # -- timed part -----------------------------------------------------

    def _run_job(self, spark, job: Job, p: int) -> JobRecord:
        rec = JobRecord(job.name, p, input_bytes=job.input_bytes)
        jvm = _jvm_proc()
        cpu0 = host.tree_cpu(os.getpid(), jvm.pid if jvm else None) if self.trace else None
        tree_cpu0 = host.tree_cpu_s(os.getpid())
        t = time.time()

        def phase_ends(name: str) -> None:
            nonlocal t
            rec.phases[name] = (t, t := time.time())

        try:
            built = job.build(spark, p)
            phase_ends("construct")
            if self.trace and job.plannable:
                qe = built._jdf.queryExecution()
                qe.optimizedPlan()
                phase_ends("optimize")
                qe.executedPlan()
                phase_ends("plan")
            rec.output = job.run(spark, built)
            phase_ends("execute")
        except Exception as exc:  # a failed job is counted, and the pass goes on
            rec.error = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc(file=sys.stderr)
            if not rec.phases:
                phase_ends("construct")
        rec.cpu_s = host.tree_cpu_s(os.getpid()) - tree_cpu0
        if self.trace:
            rec.cpu = host.tree_cpu(os.getpid(), jvm.pid if jvm else None).minus(cpu0)
        spark.catalog.clearCache()
        return rec

    def _timed_passes(self, spark, jobs: list[Job]) -> None:
        t_window = time.perf_counter()
        p = 0
        while True:
            t0, cpu0 = time.perf_counter(), host.tree_cpu_s(os.getpid())
            recs = []
            for job in jobs:
                rec = self._run_job(spark, job, p)
                recs.append(rec)
                if self.traced is not None:
                    h = time.perf_counter()
                    self.traced.ingest(rec)
                    self.trace_s += time.perf_counter() - h
            self.pass_seconds.append(time.perf_counter() - t0)
            self.pass_cpu_s.append(host.tree_cpu_s(os.getpid()) - cpu0)
            self.records.extend(recs)
            p += 1
            if time.perf_counter() - t_window >= self.seconds:
                return

    # -- the whole run --------------------------------------------------

    def execute(self) -> dict:
        cpu0, psi0, wall0 = host.cpu_times(), host.cpu_pressure_us(), time.time()
        sampler = host.RssSampler(os.getpid()).start() if self.trace else None

        t0, epoch0, cpu_import = time.perf_counter(), time.time(), host.tree_cpu_s(os.getpid())
        from irio_mapreduce_spark import queries  # noqa: F401  (engine import is part of setup)

        import_s, cpu_import = time.perf_counter() - t0, host.tree_cpu_s(os.getpid()) - cpu_import
        jobs = self.wl.make(self.ctx)  # generates inputs, untimed
        spark, self.setup = _start_session(self.wl.warm_up, self.ctx, import_s, cpu_import)
        sc = spark.sparkContext
        session = {
            "master": sc.master,
            "cores": self.cores,
            "driver_heap": sc.getConf().get("spark.driver.memory"),
            "default_parallelism": sc.defaultParallelism,
        }
        if sc.defaultParallelism != self.cores:
            raise RuntimeError(f"defaultParallelism {sc.defaultParallelism} != {self.cores} cores")

        if self.trace:
            from perfbench.spans import TracedPass

            now = time.time()
            self.traced = TracedPass(spark, self.wl.name, self.seed, self.cores,
                                     setup=(epoch0, now - self.setup.warm_s, now))
        self._timed_passes(spark, jobs)
        if sampler is not None:
            sampler.stop()

        t_checks = time.perf_counter()
        last = [r for r in self.records if r.pass_index == len(self.pass_seconds) - 1]
        mismatches = {}
        for job, rec in zip(jobs, last):
            if rec.error is None:
                try:
                    why = job.check(spark, rec.output)
                except Exception as exc:
                    why = f"check raised {type(exc).__name__}: {exc}"[:500]
                if why:
                    mismatches[rec.name] = why
        errors = {f"{r.name}#{r.pass_index}": r.error for r in self.records if r.error}
        t_shutdown = time.perf_counter()
        _shutdown(spark)
        untimed = {"checks_s": t_shutdown - t_checks, "shutdown_s": time.perf_counter() - t_shutdown}

        self.detail = {
            "workload": self.wl.name,
            "seed": self.seed,
            "trace": int(self.trace),
            "session": session,
            "host": host.host_state(cpu0, host.cpu_times(), psi0, host.cpu_pressure_us(), time.time() - wall0),
            "passes": len(self.pass_seconds),
            "pass_cpu_s": self.pass_cpu_s,
            "jobs": [{"name": r.name, "pass": r.pass_index, "seconds": r.seconds, "cpu_s": r.cpu_s,
                      "phases": {k: b - a for k, (a, b) in r.phases.items()}} for r in self.records],
            "setup": vars(self.setup),
            "untimed": untimed,
            "errors": errors,
            "mismatches": mismatches,
        }
        metrics = self._end_to_end()
        if self.traced is not None:
            self.layers = self.traced.layers()
            self.layers["trace.overhead_s"] = self.trace_s
            self.layers["driver.jvm_rss_peak_mb"] = sampler.peak_jvm_bytes / 1e6
            self.layers["driver.tree_peak_mb"] = sampler.peak_tree_bytes / 1e6
            self.layers["session.start_s"] = self.setup.start_s
            self.layers["session.warm_s"] = self.setup.warm_s
            self.layers["session.default_parallelism"] = session["default_parallelism"]
            self.detail["orphans"] = self.traced.orphans
            self.detail["ambiguous"] = self.traced.ambiguous
        self.detail["end_to_end"] = metrics
        self.detail["per_layer"] = self.layers
        failed = len(errors) + len(mismatches)
        self.detail["failed_ratio"] = failed / len(self.records)
        return {"correct": failed == 0, "attempted": len(self.records), "failed": failed,
                "metrics": metrics}

    def _end_to_end(self) -> dict[str, float]:
        """The end-to-end metrics, in CPU seconds of the Spark driver's process
        tree; the wall-clock and per-job figures go into the detail record."""
        walls = [r.seconds for r in self.records]
        cpus = [r.cpu_s for r in self.records]
        mb = sum(r.input_bytes for r in self.records) / 1e6
        wall_tail, pct = tail(walls)
        self.detail["wall"] = {
            "setup_s": self.setup.start_s + self.setup.warm_s,
            "makespan_s": statistics.median(self.pass_seconds),
            "job_p50_s": statistics.median(walls),
            "job_tail_s": wall_tail,
            "throughput_mb_s": mb / sum(self.pass_seconds),
        }
        self.detail["job_cpu"] = {"p50_s": statistics.median(cpus), "tail_s": tail(cpus)[0]}
        self.detail.update(job_tail_pct=pct, jobs_sampled=len(cpus))
        return {"setup_s": self.setup.cpu_s, "cpu_s": statistics.median(self.pass_cpu_s)}


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)
