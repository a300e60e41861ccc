"""Tracing for the benchmark's traced run.

Two sources feed the per-layer ledger:

- ``Tracer`` records spans (name, start, end, parent, run id) around the
  benchmark's calls into each module's public functions. Spans stay in
  memory and are written with the result when the run ends. Span names
  are ``<layer>:<call>``; a layer's self time is its spans' duration minus
  the part their child spans cover.
- ``SparkLedger`` reads Spark's own status stores: stage data of the jobs in
  one job group (run time, CPU, GC, shuffle, spill, I/O) and the SQL
  metrics of the SQL executions started since a mark (Python worker time
  and bytes, parquet scan files/partitions/rows, decode output rows).
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self seconds per layer (the span-name prefix before ``:``).

    Spans nest and never overlap their siblings (one client, one thread),
    so a span's covered time is the sum of its children's durations."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"].split(":", 1)[0]] += s["end"] - s["start"] - child[s["id"]]
    return dict(out)


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------

_UNITS = {"": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

#: SQL metric name -> ledger key (summed over every node that carries it)
_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_to_python",
    "data returned from Python workers": "python.bytes_to_jvm",
}
_SCAN_METRICS = {
    "number of files read": "scan.files_read",
    "number of partitions read": "scan.partitions_read",
    "number of output rows": "scan.rows_read",
}


def parse_metric(text: str) -> float:
    """Value of one rendered SQL metric: ``1,000``, ``8.8 KiB``, ``6 ms``
    or the ``total (min, med, max ...)\\n8.4 s (...)`` form (its total)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkLedger:
    def __init__(self, spark):
        self.spark = spark
        self._sc = spark._jsc.sc()
        self._tracker = spark.sparkContext.statusTracker()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the jobs and executions that already returned."""
        self._sc.listenerBus().waitUntilEmpty()

    # -- jobs and stages, scoped by job group --------------------------------

    def stages(self, group: str) -> dict[str, float]:
        self.drain()
        out = defaultdict(float)
        seen = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["spark.jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self._app.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["spark.gc_s"] += sd.jvmGcTime() / 1e3
                out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spark.spill_bytes"] += sd.diskBytesSpilled()
                out["spark.input_bytes"] += sd.inputBytes()
                out["spark.output_bytes"] += sd.outputBytes()
        return dict(out)

    # -- SQL executions since a mark -----------------------------------------

    def sql_mark(self) -> int:
        """Id of the newest SQL execution so far (-1 if none)."""
        self.drain()
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(int(n - 1), 1).apply(0).executionId()

    def sql_since(self, mark: int) -> dict[str, float]:
        """SQL metrics summed over executions newer than ``mark``;
        ``api.decode_rows`` counts the rows out of trace-decode nodes (the
        ``mapInPandas`` whose output carries ``x_step``)."""
        self.drain()
        out = defaultdict(float)
        n = self._sql.executionsCount()
        i = n - 1
        while i >= 0:
            ex = self._sql.executionsList(int(i), 1).apply(0)
            eid = ex.executionId()
            if eid <= mark:
                break
            i -= 1
            out["sql.executions"] += 1
            values = self._metric_values(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                scan = name.startswith("Scan parquet")
                if not (scan or "Pandas" in name or "Python" in name):
                    continue
                decode = name == "MapInPandas" and "x_step" in node.desc()
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v is None:
                        continue
                    mname = m.name()
                    if mname in _PY_METRICS:
                        out[_PY_METRICS[mname]] += parse_metric(v)
                    elif scan and mname in _SCAN_METRICS:
                        out[_SCAN_METRICS[mname]] += parse_metric(v)
                    elif decode and mname == "number of output rows":
                        out["api.decode_rows"] += parse_metric(v)
        return dict(out)

    def _metric_values(self, eid: int) -> dict[int, str]:
        sep = "\u0001"
        text = self._sql.executionMetrics(eid).mkString(sep)
        out = {}
        for item in text.split(sep) if text else ():
            k, _, v = item.partition(" -> ")
            out[int(k)] = v
        return out

    def cache_bytes(self) -> float:
        return float(sum(r.memSize() + r.diskSize()
                         for r in self._sc.getRDDStorageInfo()))


def planning_s(df) -> float:
    """Driver planning time of an executed frame the benchmark built:
    the parsing/analysis/optimization/planning phases of its
    ``QueryExecution`` tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for ph in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total += opt.get().durationMs() / 1e3
    return total
