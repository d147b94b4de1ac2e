"""Spans and per-call Spark counters, read from outside the engine.

Every public call the harness makes is an *op*: it is timed always, and
in a traced run it also runs under its own ``setJobGroup`` id, gets a
span (name, layer, start, end, parent) and, once the listener bus has
drained, the counters of exactly its jobs:

- the job and stage records of the JVM status store (jobs, stages,
  tasks, executor run/CPU/GC time, scan and shuffle bytes, spill);
- the SQL metrics of the executions those jobs belong to (files read,
  files and bytes written, and the Python-boundary nodes
  ``MapInPandas`` / ``ArrowEvalPython`` / ``FlatMap*InPandas``);
- the persisted-RDD gauge of the context.

All of these work with the Spark UI off.  Each job becomes a child span
of its op, so an op's self time is the driver-only part of its wall
time.  Spans are kept in memory and written once, at the end.
"""

from __future__ import annotations

import re
import time
import traceback
from dataclasses import dataclass, field

#: SQL metric name -> counter (``mmdata.*`` only on Python nodes)
SQL_METRICS = {
    "number of files read": "sources.files_read",
    "number of written files": "sinks.files_written",
    "written output": "sinks.bytes_written",
    "data sent to Python workers": "mmdata.python_bytes_in",
    "data returned from Python workers": "mmdata.python_bytes_out",
}
#: SQL plan nodes that run Python workers (pandas/Arrow UDF boundary)
PYTHON_NODE = re.compile(r"InPandas|ArrowEvalPython|BatchEvalPython|InArrow|PythonUDTF")
_NUMBER = re.compile(r"([\d,]*\.?\d+)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|min|h)?\b")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """Parse a SQL metric string: ``"7,500"``, ``"2.5 s"``, ``"1.2 KiB"`` or
    the multi-task form ``"total (min, med, max ...)\n2.5 s (...)"``."""
    m = _NUMBER.search(text.split("\n")[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Op:
    """One timed public call."""

    name: str
    layer: str
    kind: str  # "read" | "write" | "build" | "plan"
    seconds: float
    ok: bool
    counters: dict = field(default_factory=dict)


class Tracer:
    """Times ops; when ``enabled``, also records spans and counters."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[Op] = []
        self._seq = 0
        self._next_execution = 0
        self._parent: int | None = None

    def span(self, name: str, layer: str, start: float, end: float, parent, **attrs) -> int:
        self._seq += 1
        self.spans.append({"id": self._seq, "name": name, "layer": layer, "start": start,
                           "end": end, "parent": parent, **attrs})
        return self._seq

    def begin_pass(self, name: str) -> None:
        if self.enabled:
            self._parent = self.span(name, "bench", time.time(), 0.0, None)

    def end_pass(self) -> None:
        if self._parent is not None:
            self.spans[self._parent - 1]["end"] = time.time()
            self._parent = None

    def call(self, name: str, layer: str, kind: str, fn):
        """Run ``fn()`` as one op; returns ``(ok, result)``.  An exception is
        recorded as a failed op and never propagates."""
        sc = self.spark.sparkContext
        on = self.enabled
        group = f"perfbench-{self._seq + 1}-{name}"
        if on:
            sc.setJobGroup(group, name, False)
        start, t0 = time.time(), time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception:  # an op failure is a measured outcome, not a crash
            traceback.print_exc()
            out, ok = None, False
        seconds = time.perf_counter() - t0
        end = start + seconds
        op = Op(name, layer, kind, seconds, ok)
        self.ops.append(op)
        if on:
            sc.setLocalProperty("spark.jobGroup.id", None)
            try:
                op.counters = self._counters(group, start, end)
            except Exception:  # a counter read must not end the run; the span says so
                traceback.print_exc()
                op.counters = {"counters_failed": 1.0, "_jobs": []}
            sid = self.span(name, layer, start, end, self._parent, op_id=group, kind=kind,
                            ok=ok, counters=op.counters)
            for job in op.counters.pop("_jobs"):
                self.span(f"job {job[0]}", "spark", job[1], job[2], sid, op_id=group)
        return ok, out

    # -- counters ----------------------------------------------------------
    def _counters(self, group: str, start: float, end: float) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        c = dict.fromkeys([
            "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
            "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
            "spark.shuffle_write_bytes", "spark.spill_bytes", "sources.scan_bytes",
            "sources.scan_rows", "sources.files_read", "sinks.files_written",
            "sinks.bytes_written", "mmdata.python_s", "mmdata.python_bytes_in",
            "mmdata.python_bytes_out",
        ], 0.0)
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        jobs, stages = [], set()
        for jid in job_ids:
            data = store.job(jid)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined():
                jobs.append((jid, sub.get().getTime() / 1e3,
                             done.get().getTime() / 1e3 if done.isDefined() else end))
            info = sc.statusTracker().getJobInfo(jid)
            stages.update(info.stageIds if info else ())
        c["spark.jobs"] = len(job_ids)
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += sd.numTasks()
            c["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["spark.gc_s"] += sd.jvmGcTime() / 1e3
            c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c["sources.scan_bytes"] += sd.inputBytes()
            c["sources.scan_rows"] += sd.inputRecords()
        self._sql_counters(set(job_ids), c)
        busy = _union_seconds([(max(s, start), min(e, end)) for _, s, e in jobs])
        c["spark.driver_only_s"] = max(0.0, (end - start) - busy)
        rdds = jsc.getRDDStorageInfo()
        c["state.persisted_rdds"] = len(rdds)
        c["state.persisted_bytes"] = float(sum(r.memSize() + r.diskSize() for r in rdds))
        c["_jobs"] = jobs
        return c

    def _sql_counters(self, job_ids: set, c: dict) -> None:
        """Walk the SQL executions created since the last op; executions
        are numbered in order, so each is read once."""
        jvm = self.spark.sparkContext._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        sql = self.spark._jsparkSession.sharedState().statusStore()
        while True:
            found = sql.execution(self._next_execution)
            if not found.isDefined():
                if self._next_execution >= sql.executionsCount():
                    return
                self._next_execution += 1
                continue
            eid = self._next_execution
            execution = found.get()
            self._next_execution += 1
            if not {int(j) for j in conv.asJava(execution.jobs()).keySet()} & job_ids:
                continue
            values = conv.asJava(sql.executionMetrics(eid))
            for node in conv.asJava(sql.planGraph(eid).allNodes()):
                python = bool(PYTHON_NODE.search(node.name()))
                for m in conv.asJava(node.metrics()):
                    key = SQL_METRICS.get(m.name())
                    if key is None and python and m.name().startswith("time to "):
                        key = "mmdata.python_s"
                    elif key is not None and key.startswith("mmdata.") and not python:
                        key = None
                    raw = values.get(m.accumulatorId()) if key else None
                    if raw is not None:
                        c[key] += metric_value(raw)


def _union_seconds(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(spans: list[dict]) -> dict[str, float]:
    """Per layer: span duration minus the part covered by its children."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_seconds([(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, s["end"] - s["start"] - covered)
    return out
