"""Tracing for the benchmark's traced runs.

Spans are recorded only here and in the workload modules, around calls
into the engine's public entry points; the engine itself is not
instrumented. Each span keeps its name, start, end, parent and op id, in
memory, until the run writes them out. A layer's self time is the sum
over its spans of the span's duration minus the time its child spans
cover.

Spark-side counts come from two places, both read outside the spans:

- job groups: ``setJobGroup("<op>:<phase>")`` is set before each call,
  and the jobs of a group are read back from the status store (jobs,
  stages, tasks, shuffle write bytes, spilled bytes, job wall time);
- a ``QueryExecutionListener`` registered over py4j, which sees every
  SQL action's own ``QueryExecution``: its planning-phase times and the
  SQL metrics of Python exec nodes in its executed plan.

With tracing off, ``Tracer.span`` and ``Tracer.phase`` are no-ops and
nothing is registered with Spark, so untraced runs measure the program
alone.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from collections import defaultdict

_PY_NODE_METRICS = ("pythonDataSent", "pythonDataReceived")

#: Per-layer metrics a workload can fill, with their units. A traced run
#: prints all of them; a layer the workload does not reach reads 0.
LAYER_UNITS = {
    "suites.build_s": "s",
    "suites.eager_jobs": "count",
    "suites.eager_job_s": "s",
    "suites.eager_stages": "count",
    "planning.analysis_s": "s",
    "planning.optimization_s": "s",
    "planning.physical_s": "s",
    "execution.action_s": "s",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.shuffle_write_bytes": "bytes",
    "execution.spill_bytes": "bytes",
    "execution.output_rows": "count",
    "multimodal.python_rows": "count",
    "multimodal.python_bytes": "bytes",
    "multimodal.action_s": "s",
    "api.monitor_jobs_ms": "ms",
    "api.metrics_ms": "ms",
    "api.health_ms": "ms",
    "api.search_logs_ms": "ms",
    "api.run_query_ms": "ms",
    "api.create_job_ms": "ms",
    "cache.health_hit_rate": "ratio",
    "etl.extract_s": "s",
    "etl.transform_s": "s",
    "etl.load_s": "s",
    "etl.bytes_written": "bytes",
    "etl.files_written": "count",
    "etl.jobs_table_rows": "count",
    "etl_job_p50_s": "s",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_update_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "events_per_s": "1/s",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
}


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile, linearly interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None
        self._listener = None

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None,
             "parent": parent, "op": op}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextlib.contextmanager
    def phase(self, op: str, phase: str, layer: str):
        """A span that also tags the Spark jobs it launches with the job
        group ``<op>:<phase>``."""
        if not self.enabled:
            yield
            return
        self.spark.sparkContext.setJobGroup(f"{op}:{phase}", phase)
        try:
            with self.span(layer, op):
                yield
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child_time[i]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_time_s": self.self_times(), **extra}, f)

    # -- Spark-side accounting (traced runs only) ---------------------------

    def attach(self, spark) -> None:
        self.spark = spark
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _QueryListener()
        spark._jsparkSession.listenerManager().register(self._listener)

    def flush(self) -> list[dict]:
        """Wait for Spark's listener bus to deliver every pending event and
        return the query executions seen since the last flush."""
        if not self.enabled:
            return []
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return self._listener.drain()

    def group_stats(self, group: str) -> dict:
        """Jobs, stages, tasks, shuffle write and spill of one job group,
        from the status store; ``job_s`` sums the jobs' wall times."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        no_status = gw.jvm.java.util.ArrayList()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "job_s": 0.0}
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            stage_ids = job.stageIds()
            it = stage_ids.iterator()
            while it.hasNext():
                sid = it.next()
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                if attempts.isEmpty():
                    continue
                st = attempts.head()
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class _QueryListener:
    """``org.apache.spark.sql.util.QueryExecutionListener`` implemented in
    Python; Spark calls it on its listener thread after each SQL action."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._records: list[dict] = []

    def drain(self) -> list[dict]:
        with self._lock:
            out, self._records = self._records, []
        return out

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM name
        rec = {"func": func_name, "ok": True}
        try:
            phases = qe.tracker().phases()
            for key in ("analysis", "optimization", "planning"):
                ph = phases.get(key)
                rec[key] = ph.get().durationMs() / 1e3 if ph.isDefined() else 0.0
            rec.update(_python_node_metrics(qe.executedPlan()))
        except Exception as exc:  # noqa: BLE001 — keep the listener alive
            rec["error"] = repr(exc)
        with self._lock:
            self._records.append(rec)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — JVM name
        with self._lock:
            self._records.append({"func": func_name, "ok": False})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _python_node_metrics(plan) -> dict:
    """Sum the Python-worker SQL metrics over every Python exec node of a
    physical plan, descending into adaptive plans and query stages."""
    out = {"python_nodes": 0, "python_rows": 0, "python_bytes": 0}
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage") or name == "ReusedExchange":
            todo.append(node.plan() if name != "ReusedExchange" else node.child())
            continue
        metrics = node.metrics()
        if metrics.contains(_PY_NODE_METRICS[0]):
            out["python_nodes"] += 1
            for key in _PY_NODE_METRICS:
                out["python_bytes"] += metrics.apply(key).value()
            if metrics.contains("pythonNumRowsReceived"):
                out["python_rows"] += metrics.apply("pythonNumRowsReceived").value()
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out
