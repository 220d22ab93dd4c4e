"""Spans and Spark-side counters for the traced run.

The benchmark records spans only from its own code, around the calls it
makes into the engine: run -> benchmark job -> phase (construct, optimize,
plan, execute). Spark jobs and stages are read from Spark's status store
after each benchmark job and hung under the phase whose time window holds
their submission time; streaming triggers come from a
``StreamingQueryListener`` and hang under their phase the same way, and a
Spark job submitted during a trigger hangs under that trigger. Attribution
is by time window, not job group, because streaming micro-batches do not
carry the caller's job group.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str  # run | job | phase | trigger | spark_job | stage
    name: str
    start_ms: float
    end_ms: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans held in memory and written out once at the end."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, parent: int | None, kind: str, name: str, start_ms: float, end_ms: float, **attrs) -> int:
        self.spans.append(Span(len(self.spans), parent, kind, name, start_ms, end_ms, attrs))
        return len(self.spans) - 1

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_ms(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start_ms):
                a, b = max(c.start_ms, s.start_ms), min(c.end_ms, s.end_ms)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    covered += 0 if cur_e is None else cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            covered += 0 if cur_e is None else cur_e - cur_s
            out[s.id] = (s.end_ms - s.start_ms) - covered
        return out

    def to_json(self) -> list[dict]:
        selfs = self.self_ms()
        return [dict(vars(s), self_ms=selfs[s.id]) for s in self.spans]


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


class ProgressCollector(StreamingQueryListener):
    """Keeps every micro-batch progress report."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.progress.append({
            "query": p["id"],
            "batch": p["batchId"],
            "start_ms": _iso_ms(p["timestamp"]),
            "rows": p.get("numInputRows", 0),
            "duration_ms": p.get("durationMs", {}),
            "state_rows": sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", [])),
            "state_bytes": sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", [])),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


_UNITS = {"": 1.0, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}


def parse_sql_metric(text: str) -> float:
    """The total of a formatted SQL metric value: ``"1,000"``, ``"8.4 KiB"``
    or ``"total (min, med, max ...)\\n5.9 s (1.5 s, ...)"`` (seconds, bytes)."""
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text.strip().split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


class StatusReader:
    """Reads Spark's status store (jobs, stages, SQL executions) as JSON.

    The store keeps 1000 jobs and 1000 stages by default, so the harness
    reads it after every benchmark job and remembers what it has seen."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._jvm = jvm
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[tuple[int, int]] = set()
        self.last_execution = -1

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def flush(self) -> None:
        """Wait until the listener bus has delivered every posted event, so
        the store and the progress listener are complete."""
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Treat everything in the store so far as seen."""
        self.new_jobs()
        self.new_stages()
        self.new_executions()

    def new_jobs(self) -> list[dict]:
        jobs = self._json(self._jsc.statusStore().jobsList(self._jvm.java.util.ArrayList()))
        fresh = [j for j in jobs if j["jobId"] not in self.seen_jobs]
        self.seen_jobs.update(j["jobId"] for j in fresh)
        return fresh

    def new_stages(self) -> list[dict]:
        store = self._jsc.statusStore()
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        stages = self._json(store.stageList(self._jvm.java.util.ArrayList(), False, False,
                                            no_quantiles, self._jvm.java.util.ArrayList()))
        fresh = [s for s in stages if (s["stageId"], s["attemptId"]) not in self.seen_stages]
        self.seen_stages.update((s["stageId"], s["attemptId"]) for s in fresh)
        return fresh

    def new_executions(self) -> list[dict]:
        count = self._sql.executionsCount()
        if count == 0:
            return []
        newest = self._json(self._sql.executionsList(count - 1, 1))[0]["executionId"]
        out = []
        for eid in range(self.last_execution + 1, newest + 1):
            opt = self._sql.execution(eid)
            if opt.isDefined():
                e = self._json(opt.get())
                values = e.get("metricValues") or self._json(self._sql.executionMetrics(eid))
                names = {str(m["accumulatorId"]): m["name"] for m in e["metrics"]}
                out.append({
                    "executionId": eid,
                    "submissionTime": e["submissionTime"],
                    "completionTime": e.get("completionTime"),
                    "metrics": [(names.get(k, ""), v) for k, v in (values or {}).items()],
                })
        self.last_execution = max(self.last_execution, newest)
        return out


@dataclass
class Window:
    """A span's time window in whole epoch milliseconds, half-open."""

    span: int
    lo: int
    hi: int


def window(span: Span) -> Window:
    return Window(span.id, math.floor(span.start_ms), math.floor(span.end_ms))


def attribute(ts_ms: int | None, windows: list[Window]) -> list[int]:
    """The spans whose window holds ``ts_ms``."""
    if ts_ms is None:
        return []
    return [w.span for w in windows if w.lo <= ts_ms < w.hi]
