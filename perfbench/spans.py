"""Spans and per-operation Spark counters for the traced run.

A span is recorded around each call the benchmark makes into a layer
(name, start, end, parent); spans stay in memory until the run ends.
After each operation, outside its timing, :meth:`Tracer.counters` reads
what Spark recorded for it:

- jobs, by the job groups the operation was tagged with
  (``setJobGroup``);
- stages, from ``AppStatusStore.stageList`` (its 5-argument Java
  signature), attributed by a stage-id watermark because ``StageData``
  carries no job group;
- Python-worker SQL metrics (``PythonSQLMetrics``), from the SQL status
  store's executions started after an execution-id watermark;
- Catalyst phase times and Exchange count, from the
  ``QueryExecution`` of each action the operation ran, as a registered
  ``QueryExecutionListener`` hands them over (a noop write plans and runs
  a command ``QueryExecution`` of its own, not its DataFrame's); the
  analysis of the operation's result DataFrame is added when no action
  ran on that DataFrame's own ``QueryExecution``.

The time spent inside the tracer itself is the tracing overhead.
:class:`NullTracer` has the same interface and does no bookkeeping; the
untraced run uses it, so both runs execute the same calls.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.java_gateway import ensure_callback_server_started

# PythonSQLMetrics display names (Spark 4.1) -> per-layer metric names
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_PY_NODES = ("Python", "Pandas", "Arrow")
_SCALE = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
COUNTERS = (
    "plans.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.exchanges",
    *PYTHON_METRICS.values(),
)


class _QueryListener:
    """``QueryExecutionListener`` in Python (through the Py4J callback
    server): keeps the ``QueryExecution`` of every action that succeeded
    (a failed operation is counted as failed, not measured)."""

    def __init__(self):
        self.done: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.done.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases(qe) -> dict[str, float]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[f"catalyst.{kv._1()}_ms"] = float(kv._2().durationMs())
    return out


def count_exchanges(plan) -> int:
    """Exchange operators in a physical plan that ran: the final plan of
    adaptive execution, query stages and subqueries included. A reused
    exchange runs nothing, and a cached relation's plan, which ran when
    the cache was filled, is not descended into."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return count_exchanges(plan.executedPlan())
    if name.endswith("QueryStage"):
        return count_exchanges(plan.plan())
    n = int(name.endswith("Exchange") and name != "ReusedExchange")
    for seq in (plan.children(), plan.subqueries()):
        for i in range(seq.size()):
            n += count_exchanges(seq.apply(i))
    return n


def parse_metric_total(text: str) -> float:
    """The total of a formatted SQL metric value, in bytes or ms:
    ``"8.1 KiB"``, ``"1,000"``, or the two-line
    ``"total (min, med, max ...)\\n4.1 s (2.0 s, ...)"``."""
    tokens = text.strip().splitlines()[-1].split()
    value = float(tokens[0].replace(",", ""))
    if len(tokens) > 1:
        value *= _SCALE.get(tokens[1], 1)
    return value


class NullTracer:
    """Same calls as :class:`Tracer`, no bookkeeping."""

    enabled = False
    overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        yield

    def begin(self) -> None:
        pass

    def counters(self, groups, df=None) -> dict:
        return {}


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        t0 = time.perf_counter()
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = spark._jvm
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        self.spans: list[list] = []  # [name, start, end, parent index]
        self._stack: list[int] = []
        self._stage_wm = -1
        self._sql_wm = -1
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _QueryListener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self.begin()
        self.overhead_s = time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def _stages(self):
        """Stage attempts newer than the watermark, newest first."""
        seq = self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._no_quantiles, self._jvm.java.util.ArrayList(),
        )
        for i in range(seq.size()):
            sd = seq.apply(i)
            if sd.stageId() <= self._stage_wm:
                break
            yield sd

    def _executions(self):
        n = self._sql.executionsCount()
        seq = self._sql.executionsList(max(0, n - 256), 256)
        for i in range(seq.size()):
            ex = seq.apply(i)
            if ex.executionId() > self._sql_wm:
                yield ex

    def begin(self) -> None:
        """Move both watermarks past everything Spark has recorded."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        for sd in self._stages():
            self._stage_wm = max(self._stage_wm, sd.stageId())
        for ex in self._executions():
            self._sql_wm = max(self._sql_wm, ex.executionId())
        self._listener.done.clear()
        self.overhead_s += time.perf_counter() - t0

    def counters(self, groups, df=None) -> dict:
        """Counters of the operation tagged with job groups ``groups``
        (``{"build": tag, "action": tag}``; ``build`` may be absent) and,
        when given, its result DataFrame ``df``. Advances watermarks."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(COUNTERS, 0.0)
        if "build" in groups:
            c["plans.build_jobs"] = len(tracker.getJobIdsForGroup(groups["build"]))
        c["exec.jobs"] = len(tracker.getJobIdsForGroup(groups["action"]))
        top = self._stage_wm
        for sd in self._stages():
            top = max(top, sd.stageId())
            if sd.status().toString() == "SKIPPED":
                continue
            c["exec.stages"] += 1
            c["exec.tasks"] += sd.numTasks()
            c["exec.run_ms"] += sd.executorRunTime()
            c["exec.cpu_ms"] += sd.executorCpuTime() / 1e6
            c["exec.gc_ms"] += sd.jvmGcTime()
            c["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c["exec.input_bytes"] += sd.inputBytes()
        self._stage_wm = top
        for ex in self._executions():
            self._sql_wm = max(self._sql_wm, ex.executionId())
            if not any(k in ex.physicalPlanDescription() for k in _PY_NODES):
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    key = PYTHON_METRICS.get(m.name())
                    v = values.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        c[key] += parse_metric_total(v.get())
        ran, self._listener.done = self._listener.done, []
        for qe in ran:
            for key, ms in _phases(qe).items():
                if key in c:
                    c[key] += ms
            c["catalyst.exchanges"] += count_exchanges(qe.executedPlan())
        if df is not None:
            own = df._jdf.queryExecution()
            if not any(own.equals(qe) for qe in ran):
                c["catalyst.analysis_ms"] += _phases(own).get("catalyst.analysis_ms", 0.0)
        self.overhead_s += time.perf_counter() - t0
        return c

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of each span's duration minus the part
        its child spans cover."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, float] = {}
        for (name, start, end, _), covered in zip(self.spans, child):
            if end is not None:
                out[name] = out.get(name, 0.0) + (end - start) - covered
        return out
