"""Spans and per-layer counters, recorded from outside the package.

A ``Tracer`` wraps the benchmark's calls into each package layer. When it
is disabled every method is a no-op apart from the context manager itself,
so the untraced run pays nothing but a branch.

Three sources feed the counters:

- spans: wall time of each call (name, start, end, parent, operation id),
  kept in memory and written out once at the end;
- Spark SQL metrics of an action's *own* ``QueryExecution``: the final plan
  is walked through ``AdaptiveSparkPlanExec`` and every ``*QueryStageExec``
  and each node's metrics are folded into layers. A ``count()`` or ``noop``
  write would build a new ``QueryExecution`` whose metrics read zero;
- jobs, stages and tasks of one operation: Spark numbers jobs and stages
  sequentially, and the benchmark is one client, so the ids allocated
  between the start and end of an operation are exactly its jobs,
  including those a streaming query runs on its own thread.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric name -> (layer counter, how to fold). Times are converted to
# seconds from the metric's own type ("timing" is ms, "nsTiming" ns).
_PLAN_METRICS = {
    "shuffleBytesWritten": ("exchange.bytes_written", "sum"),
    "shuffleRecordsWritten": ("exchange.records_written", "sum"),
    "shuffleWriteTime": ("exchange.write_s", "sum"),
    "fetchWaitTime": ("exchange.fetch_wait_s", "sum"),
    "peakMemory": ("agg.peak_memory_bytes", "max"),
    "spillSize": ("agg.spill_bytes", "sum"),
    "pipelineTime": ("codegen.pipeline_s", "sum"),
    "pythonBootTime": ("python.boot_s", "sum"),
    "pythonInitTime": ("python.init_s", "sum"),
    "pythonTotalTime": ("python.compute_s", "sum"),
    "pythonDataSent": ("python.bytes_sent", "sum"),
    "pythonDataReceived": ("python.bytes_received", "sum"),
    "pythonNumRowsReceived": ("python.rows_received", "sum"),
}
_SCAN_METRICS = {
    "numFiles": "scan.files",
    "filesSize": "scan.bytes",
    "numOutputRows": "scan.rows",
    "scanTime": "scan.time_s",
}
_BROADCAST_METRICS = {
    "dataSize": "broadcast.bytes",
    "buildTime": "broadcast.build_s",
    "collectTime": "broadcast.build_s",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _scala_seq(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_metrics(jqe) -> dict[str, float]:
    """Fold the SQL metrics of an executed ``QueryExecution`` into layers."""
    out: dict[str, float] = defaultdict(float)
    stack = [jqe.executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls.startswith("Reused"):
            continue  # its metrics belong to the node it reuses
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        is_scan = "Scan" in cls
        is_broadcast = cls.startswith("Broadcast") and "Exchange" in cls
        for kv in _scala_seq(node.metrics()):
            name, metric = kv._1(), kv._2()
            if is_scan and name in _SCAN_METRICS:
                key, how = _SCAN_METRICS[name], "sum"
            elif is_broadcast and name in _BROADCAST_METRICS:
                key, how = _BROADCAST_METRICS[name], "sum"
            elif name in _PLAN_METRICS:
                key, how = _PLAN_METRICS[name]
            else:
                continue
            value = metric.value() * _TIME_SCALE.get(metric.metricType(), 1.0)
            out[key] = max(out[key], value) if how == "max" else out[key] + value
        stack.extend(_scala_seq(node.children()))
    return out


class Tracer:
    """Spans and counters of one run; every method is a no-op when disabled."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op: str | None = None
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, key: str | None = None):
        """Time one call into a layer; ``name`` is ``<layer>.<what>`` and the
        duration accumulates into ``<name>_s`` (and ``<name>_s.<key>``)."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            dur = rec["end"] - rec["start"]
            self.counters[f"{name}_s"] += dur
            if key is not None:
                self.counters[f"{name}_s.{key}"] += dur

    @contextmanager
    def op(self, op_id: str):
        """One benchmark operation: also counts the Spark jobs, stages and
        tasks it ran."""
        if not self.enabled:
            yield
            return
        sched = self.spark.sparkContext._jsc.sc().dagScheduler()
        first_job = sched.numTotalJobs()
        self._op = op_id
        try:
            yield
        finally:
            self._op = None
            self._count_jobs(first_job, sched.numTotalJobs())

    def _count_jobs(self, first: int, end: int) -> None:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        stages: set[int] = set()
        for job_id in range(first, end):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stages.update(info.stageIds)
        self.counters["spark.jobs"] += end - first
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its output was reused
            self.counters["spark.stages"] += 1
            self.counters["spark.tasks"] += st.numCompletedTasks + st.numFailedTasks
            self.counters["spark.tasks_failed"] += st.numFailedTasks

    def fold_plan(self, jqe) -> None:
        """Add the SQL metrics of an executed JVM ``QueryExecution`` to the
        counters: ``df._jdf.queryExecution()`` after an action on ``df``."""
        if not self.enabled:
            return
        for k, v in plan_metrics(jqe).items():
            if k == "agg.peak_memory_bytes":
                self.counters[k] = max(self.counters[k], v)
            else:
                self.counters[k] += v

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counters[key] += value

    def write_spans(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
