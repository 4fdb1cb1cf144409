"""In-memory tracing for the traced run.

Spans are recorded by the benchmark's own code around each call into a
layer of the engine (nothing inside the engine is instrumented). Each span
has an id, a parent, a run id (one per unit of work: an iteration or a
micro-batch), a name, a layer, a start and an end. Counts are read at the
same boundaries from Spark's public status and plan objects:

- jobs, stages and tasks from ``SparkContext.statusTracker()``, with one
  job group per span;
- Catalyst phase times and final-plan SQL metrics from every action's
  ``QueryExecution``, delivered by a ``QueryExecutionListener``.

With tracing off, ``Tracer.span`` does nothing but yield, so the untraced
run pays no probe cost.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time

#: QueryStage wrappers hide their stage plan from ``children()``
_STAGE_NODES = {"ShuffleQueryStageExec", "BroadcastQueryStageExec",
                "TableCacheQueryStageExec", "ResultQueryStageExec"}
_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^,]*, value: (-?\d+)\)")
_PY_NODES = ("EvalPython", "InPandas", "InArrow", "PythonUDTF", "MapInBatch")


def plan_counts(plan) -> dict:
    """Walk a physical plan (through AQE stages) and total the SQL metrics
    the per-layer report uses."""
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "python_eval_nodes": 0,
           "scan_rows": 0, "scan_bytes": 0, "rows_written": 0, "files_written": 0}
    stack = [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.finalPhysicalPlan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if cls in _STAGE_NODES:
            stack.append(p.plan())
            continue
        name = p.nodeName()
        m = dict((k, int(v)) for k, v in _METRIC.findall(p.metrics().toString()))
        out["shuffle_write_bytes"] += m.get("shuffleBytesWritten", 0)
        out["spill_bytes"] += m.get("spillSize", 0)
        if any(t in name for t in _PY_NODES):
            out["python_eval_nodes"] += 1
        if name.startswith("Scan ") and "filesSize" in m:
            out["scan_rows"] += m.get("numOutputRows", 0)
            out["scan_bytes"] += m["filesSize"]
        if "InsertIntoHadoopFsRelationCommand" in name:
            out["rows_written"] += m.get("numOutputRows", 0)
            out["files_written"] += m.get("numFiles", 0)
        ch = p.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


class _ActionListener:
    """py4j implementation of ``QueryExecutionListener``: one record per
    finished action, with its Catalyst phase times and final-plan counts."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self.lock = threading.Lock()
        #: off during untraced units, so they pay no plan walks
        self.active = False

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if not self.active:
            return
        ev = {"func": func_name, "end": time.time(), "dur_s": duration_ns / 1e9}
        try:
            ph = qe.tracker().phases()
            it = ph.iterator()
            while it.hasNext():
                kv = it.next()
                summ = kv._2()
                ev[kv._1() + "_ms"] = summ.endTimeMs() - summ.startTimeMs()
            ev.update(plan_counts(qe.executedPlan()))
        except Exception as e:  # the listener bus must keep running
            ev["error"] = repr(e)
        with self.lock:
            self.events.append(ev)

    def onFailure(self, func_name, qe, exc):  # noqa: N802 (Java API)
        if not self.active:
            return
        with self.lock:
            self.events.append({"func": func_name, "end": time.time(), "failed": True})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Reads counts from Spark at span boundaries."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _ActionListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self._claimed = 0

    def drain(self) -> list[dict]:
        """Wait until every posted action event has been delivered, and
        return the ones not yet claimed by a span."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        with self.listener.lock:
            new = self.listener.events[self._claimed:]
            self._claimed = len(self.listener.events)
        return new

    def job_counts(self, group: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(group) or []
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = self.tracker.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def close(self) -> None:
        self.drain()
        self.spark._jsparkSession.listenerManager().unregister(self.listener)


#: counts summed from the action events a span claims
_EVENT_SUMS = ("analysis_ms", "optimization_ms", "planning_ms", "shuffle_write_bytes",
               "spill_bytes", "python_eval_nodes", "scan_rows", "scan_bytes",
               "rows_written", "files_written")


#: local properties a span's job group replaces and must restore
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    """Spans and counts of a traced run. ``enabled`` says whether this is a
    traced run; within it, ``begin_unit`` traces every other unit of work
    so that untraced units measure the overhead."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self.run_id = ""
        self._stack: list[dict] = []
        self._probe = SparkProbe(spark) if enabled else None

    @staticmethod
    def off() -> "Tracer":
        return Tracer(False)

    def begin_unit(self, run_id: str, index: int) -> bool:
        """Start unit ``index``; returns whether it is traced (odd units of
        a traced run)."""
        self.run_id = run_id
        self.active = self.enabled and index % 2 == 1
        if self._probe is not None:
            self._probe.listener.active = self.active
        return self.active

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span around a call into ``layer``; yields the span dict
        or None when this unit is not traced."""
        if not self.active:
            yield None
            return
        sc = self._probe.sc
        parent = self._stack[-1] if self._stack else None
        self._claim(parent)
        sp = {"id": len(self.spans), "parent": parent["id"] if parent else None,
              "run": self.run_id, "name": name, "layer": layer, "counts": {}}
        self.spans.append(sp)
        self._stack.append(sp)
        saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
        group = f"perfbench-{sp['id']}"
        sc.setJobGroup(group, name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._claim(sp)
            sp["counts"].update(self._probe.job_counts(group))
            self._stack.pop()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def _claim(self, sp: dict | None) -> None:
        events = self._probe.drain()
        if sp is None:
            return
        c = sp["counts"]
        for ev in events:
            c["actions"] = c.get("actions", 0) + 1
            if "error" in ev:  # a failed plan walk must show in the trace
                c["probe_errors"] = c.get("probe_errors", 0) + 1
            for k in _EVENT_SUMS:
                c[k] = c.get(k, 0) + ev.get(k, 0)

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def total(self, spans: list[dict], key: str) -> float:
        """Sum of a count over ``spans`` (each span holds only its own)."""
        return sum(s["counts"].get(key, 0) for s in spans)

    def write(self, path: str) -> None:
        """Write the spans out, one JSON object a line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")

    def close(self) -> None:
        if self._probe is not None:
            self._probe.close()
