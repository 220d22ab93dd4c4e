"""The traced run's bookkeeping: after every benchmark job, turn what Spark's
status store and the streaming listener report into spans under that job's
phases, and add them up into the per-layer metrics.

Every Spark job, stage, SQL execution and trigger the pass produces must
land in exactly one phase of one benchmark job; whatever lands in none is
kept in ``orphans`` (and counted), whatever lands in two in ``ambiguous``.
"""

from __future__ import annotations

import math
import statistics
import time
from collections import defaultdict

from perfbench.stats import tail
from perfbench.trace import PYTHON_METRICS, ProgressCollector, StatusReader, Tracer, Window, attribute, parse_sql_metric, window

_STAGE_SUMS = {
    # status-store field -> (metric, scale to the metric's unit)
    "executorRunTime": ("exec.executor_run_s", 1e-3),
    "executorCpuTime": ("exec.executor_cpu_s", 1e-9),
    "jvmGcTime": ("exec.gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle.fetch_wait_s", 1e-3),
    "shuffleWriteTime": ("shuffle.write_s", 1e-9),
    "diskBytesSpilled": ("spill.bytes", 1),
    "inputBytes": ("io.input_bytes", 1),
    "inputRecords": ("io.input_records", 1),
    "outputBytes": ("io.output_bytes", 1),
    "outputRecords": ("io.output_records", 1),
}
_PHASE_SUMS = {"construct": "queries.construct_s", "optimize": "catalyst.optimize_s",
               "plan": "catalyst.plan_s", "execute": "exec.execute_s"}
_DURATIONS = {
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
}


class TracedPass:
    """Spans and per-layer sums of one traced pass."""

    def __init__(self, spark, name: str, seed: int, cores: int, setup: tuple[float, float, float]):
        """``setup``: epoch seconds at which the cold session setup began,
        the session was up, and the warm-up ended."""
        self.cores = cores
        self.tracer = Tracer()
        self.status = StatusReader(spark)
        self.progress = ProgressCollector()
        spark.streams.addListener(self.progress)
        self.status.flush()
        self.status.mark()
        begin, up, warm = (x * 1000.0 for x in setup)
        self.run_span = self.tracer.add(None, "run", name, begin, warm, seed=seed)
        self.tracer.add(self.run_span, "setup", "session.start", begin, up)
        self.tracer.add(self.run_span, "setup", "session.warm", up, warm)
        self.sums: dict[str, float] = defaultdict(float)
        self.phase_of: dict[int, tuple[int, str]] = {}  # span id -> (benchmark job span, phase name)
        self.orphans: list[tuple] = []
        self.ambiguous: list[tuple] = []
        self.assigned: list[tuple] = []  # (kind, key, benchmark job span, phase name)
        self.trigger_ms: list[float] = []
        self.state: dict[str, tuple[int, int]] = {}  # query id -> (state rows, bytes) at its latest trigger
        self.seen_progress = 0

    def _place(self, kind: str, key, ts: float | None, inner: list[Window], outer: list[Window]) -> int | None:
        """Find the span a record hangs under: the innermost window holding
        ``ts``. Record it as assigned, orphaned or ambiguous."""
        ms = None if ts is None else math.floor(ts)
        hits = attribute(ms, inner) or attribute(ms, outer)
        if not hits:
            self.orphans.append((kind, key, ts))
            return None
        if len({self.phase_of[h] for h in hits}) > 1:
            self.ambiguous.append((kind, key, ts))
        self.assigned.append((kind, key) + self.phase_of[hits[0]])
        return hits[0]

    def _child(self, parent: int, kind: str, name: str, start: float, end: float, **attrs) -> int:
        sid = self.tracer.add(parent, kind, name, start, end, **attrs)
        self.phase_of[sid] = self.phase_of[parent]
        return sid

    def ingest(self, rec) -> None:
        """Hang everything Spark did during benchmark job ``rec`` under its
        phases, and add it to the sums."""
        t, s = self.tracer, self.sums
        self.status.flush()
        start = min(a for a, _ in rec.phases.values()) * 1000.0
        end = max(b for _, b in rec.phases.values()) * 1000.0
        job_span = t.add(self.run_span, "job", rec.name, start, end, pass_index=rec.pass_index, error=rec.error)
        t.spans[self.run_span].end_ms = end
        phases = []
        for name, (a, b) in rec.phases.items():
            sid = t.add(job_span, "phase", name, a * 1000.0, b * 1000.0)
            self.phase_of[sid] = (job_span, name)
            phases.append(window(t.spans[sid]))
            s[_PHASE_SUMS[name]] += b - a
        s["jobs_s"] += rec.seconds

        triggers = []
        for p in self.progress.progress[self.seen_progress:]:
            dur = float(p["duration_ms"].get("triggerExecution", 0))
            parent = self._place("trigger", (p["query"], p["batch"]), p["start_ms"], [], phases)
            if parent is None:
                continue
            sid = self._child(parent, "trigger", f"{p['query'][:8]}#{p['batch']}", p["start_ms"],
                              p["start_ms"] + dur, rows=p["rows"], duration_ms=p["duration_ms"])
            triggers.append(Window(sid, math.floor(p["start_ms"]), math.floor(p["start_ms"] + dur) + 1))
            self.trigger_ms.append(dur)
            s["streaming.triggers"] += 1
            s["streaming.data_triggers"] += p["rows"] > 0
            s["trigger_total_ms"] += dur
            for key, metric in _DURATIONS.items():
                s[metric] += float(p["duration_ms"].get(key, 0))
            self.state[p["query"]] = (p["state_rows"], p["state_bytes"])
        self.seen_progress = len(self.progress.progress)

        job_span_of_stage = {}
        for j in self.status.new_jobs():
            parent = self._place("spark_job", j["jobId"], j.get("submissionTime"), triggers, phases)
            if parent is None:
                continue
            sid = self._child(parent, "spark_job", str(j["jobId"]), j["submissionTime"],
                              j.get("completionTime") or j["submissionTime"], status=j["status"])
            s["exec.jobs"] += 1
            s["queries.construct_jobs"] += self.phase_of[sid][1] == "construct"
            for stage in j["stageIds"]:
                job_span_of_stage.setdefault(stage, sid)

        for st in self.status.new_stages():
            ts = st.get("submissionTime")
            via_job = job_span_of_stage.get(st["stageId"])
            if ts is None and via_job is not None:  # skipped: never submitted
                ts = t.spans[via_job].start_ms
            parent = self._place("stage", (st["stageId"], st["attemptId"]), ts, triggers, phases)
            if parent is None:
                continue
            if via_job is not None and self.phase_of[via_job] == self.phase_of[parent]:
                parent = via_job
            self._child(parent, "stage", f"{st['stageId']}.{st['attemptId']}", ts,
                        st.get("completionTime") or ts, status=st["status"], tasks=st["numTasks"],
                        **{metric: st.get(key) or 0 for key, (metric, _) in _STAGE_SUMS.items()})
            if st["status"] == "SKIPPED":
                continue
            s["exec.stages"] += 1
            s["exec.tasks"] += st["numCompleteTasks"]
            s["exec.underfilled_stages"] += st["numTasks"] < self.cores
            for key, (metric, scale) in _STAGE_SUMS.items():
                s[metric] += (st.get(key) or 0) * scale

        for e in self.status.new_executions():
            parent = self._place("sql_execution", e["executionId"], e["submissionTime"], triggers, phases)
            if parent is None:
                continue
            python = defaultdict(float)
            for name, value in e["metrics"]:
                if name in PYTHON_METRICS:
                    python[PYTHON_METRICS[name]] += parse_sql_metric(value)
            self._child(parent, "sql_execution", str(e["executionId"]), e["submissionTime"],
                        e["completionTime"] or e["submissionTime"], **python)
            for metric, value in python.items():
                s[metric] += value

        if rec.cpu is not None:
            s["driver.jvm_cpu_s"] += rec.cpu.jvm_s
            s["driver.py_cpu_s"] += rec.cpu.py_driver_s
            s["python.cpu_s"] += rec.cpu.python_workers_s
            s["pipe.child_cpu_s"] += rec.cpu.pipe_children_s

    def layers(self) -> dict[str, float]:
        s = self.sums
        jobs_s = s["jobs_s"] or 1e-9
        out = {
            "queries.construct_share": s["queries.construct_s"] / jobs_s,
            "exec.busy_ratio": s["exec.executor_run_s"] / (jobs_s * self.cores),
            "streaming.fixed_share": (1.0 - s["streaming.add_batch_ms"] / s["trigger_total_ms"]
                                      if s["trigger_total_ms"] else 0.0),
            "streaming.state_rows": sum(r for r, _ in self.state.values()),
            "streaming.state_memory_bytes": sum(b for _, b in self.state.values()),
            "streaming.trigger_p50_ms": statistics.median(self.trigger_ms) if self.trigger_ms else 0.0,
            "streaming.trigger_tail_ms": tail(self.trigger_ms)[0] if self.trigger_ms else 0.0,
            "trace.orphans": len(self.orphans),
        }
        for key in ["queries.construct_s", "queries.construct_jobs", "catalyst.optimize_s", "catalyst.plan_s",
                    "exec.execute_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.underfilled_stages",
                    "streaming.triggers", "streaming.data_triggers", "driver.jvm_cpu_s", "driver.py_cpu_s",
                    "python.cpu_s", "pipe.child_cpu_s", *(m for m, _ in _STAGE_SUMS.values()),
                    *_DURATIONS.values(), *PYTHON_METRICS.values()]:
            out[key] = s[key]
        return out
