"""Per-layer tracing of benchmark ops, measured from outside the package.

Sources, all reachable from a running session without touching the
package:

- spans the harness times around the public calls it makes;
- Spark's SQL metrics for every execution an op started, read from the
  SQL status store after the op and summed by metric (and, for row
  counts, by the kind of plan node that produced them);
- jobs and stages from the core status store, for task counts and task
  time;
- Janino compile time and count from the codegen counters;
- a ``StreamingQueryListener`` for every micro-batch's progress;
- ``streaming.pipeline.RUN_STATS`` for the driver-timed batch side of
  hybrid stream queries.

One client runs one op at a time, so every execution, job and stage whose
id was allocated between an op's start and end belongs to that op.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# SQL metric name -> per-layer metric; the value is converted to seconds
# (timings) or bytes (sizes) by _metric_value.
SQL_METRICS = {
    "scan time": "exec.scan_s",
    "size of files read": "exec.scan_bytes",
    "time in aggregation build": "exec.agg_s",
    "number of sort fallback tasks": "exec.agg_sort_fallbacks",
    "spill size": "exec.spill_bytes",
    "shuffle bytes written": "exec.shuffle_bytes",
    "shuffle records written": "exec.shuffle_records",
    "shuffle write time": "exec.shuffle_write_s",
    "fetch wait time": "exec.fetch_wait_s",
    "written output": "exec.write_bytes",
    "task commit time": "exec.commit_s",
    "job commit time": "exec.commit_s",
    "time to build hash map": "exec.join_build_s",
    "time to build": "exec.join_build_s",
    "time to broadcast": "exec.broadcast_s",
    "sort time": "exec.sort_s",
    "time to run Python workers": "exec.python_s",
    "time to start Python workers": "exec.python_boot_s",
    # Summed over tasks.  A reused worker (the default) counts from the end
    # of its previous task, so this includes the time it sat idle in the
    # pool: it grows with the gap between Python-evaluating ops, not with
    # their cost, and can exceed exec.task_s.
    "time to initialize Python workers": "exec.python_init_s",
    "data sent to Python workers": "exec.python_bytes",
    "data returned from Python workers": "exec.python_bytes",
}

_READ = set(SQL_METRICS) | {"number of output rows", "duration"}

_UNITS = {"": 1.0, "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20,
          "GiB": 2.0 ** 30, "TiB": 2.0 ** 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

# Per-op metrics of the layers inside an op, in report order.
OP_METRICS = [
    "suite.build_s", "suite.collect_s", "suite.build_jobs",
    "sources.text.read_s", "operators.anagram.build_s", "sources.text.sink_s",
    "exec.scan_s", "exec.scan_bytes", "exec.scan_rows", "exec.stage_s",
    "exec.agg_s", "exec.agg_sort_fallbacks", "exec.spill_bytes",
    "exec.shuffle_bytes", "exec.shuffle_records", "exec.shuffle_write_s",
    "exec.fetch_wait_s", "exec.write_bytes", "exec.commit_s",
    "exec.join_build_s", "exec.broadcast_s", "exec.sort_s",
    "exec.python_s", "exec.python_boot_s", "exec.python_init_s",
    "exec.python_bytes", "exec.python_rows",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.gc_s",
    "exec.single_task_stages",
    "exec.codegen_compile_s", "exec.codegen_compiles",
    "streaming.batches", "streaming.input_rows", "streaming.trigger_s",
    "streaming.add_batch_s", "streaming.commit_s", "streaming.state_commit_s",
    "streaming.state_rows", "streaming.state_bytes",
    "streaming.batch_side_s", "streaming.overhead_s",
]


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "B"
    return "count"


# Plan-node and whole-stage-codegen labels in SparkPlanGraph.makeDotFile
_NODE = re.compile(r'\[id="node\d+" labelType="html" label="(.*?)" tooltip=')
_STAGE_CLUSTER = re.compile(r'label="(WholeStageCodegen[^"]*)";')
# "<name>[:] total (min, med, max ...)" heads a value on the next line
_TOTAL = re.compile(r"^(.+?):? total \(min, med, max")


def _parse_metrics(lines: list[str]) -> dict[str, float]:
    """Metric name -> value for the label lines of one plan node."""
    out: dict[str, float] = {}
    for i, line in enumerate(lines):
        m = _TOTAL.match(line)
        if m:
            name, value = m.group(1), lines[i + 1] if i + 1 < len(lines) else ""
        else:
            name, _, value = line.partition(": ")
        if name in _READ and value:
            out[name] = _metric_value(value)
    return out


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric ("1,234", "3 ms", "1.5 s", "12.3 MiB",
    or a "total (min, med, max ...)" header over such a line) to a float
    in base units: seconds for timings, bytes for sizes."""
    head = text.strip().split("\n")[-1].split(" (", 1)[0].split()
    return float(head[0].replace(",", "")) * _UNITS[head[1] if len(head) > 1
                                                    else ""]


class _ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress, not only the last 100 that
    ``StreamingQuery.recentProgress`` holds."""

    def __init__(self) -> None:
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Collects the per-layer metrics of one op at a time.

    ``begin(name)`` before the op, ``span(metric)`` around the public calls
    inside it, ``end(wall_s)`` after it; ``end`` returns the op's metrics.
    """

    def __init__(self, spark) -> None:
        from gcp_serverless_mapreduce_spark.streaming import pipeline

        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark._jsc.sc().statusStore()
        self._bus = spark._jsc.sc().listenerBus()
        self._codegen = getattr(
            jvm, "org.apache.spark.sql.catalyst.expressions.codegen"
                 ".CodeGenerator")
        self._compiles = getattr(
            jvm, "org.apache.spark.metrics.source.CodegenMetrics"
        ).METRIC_COMPILATION_TIME()
        self._no_tasks = spark._jvm.java.util.ArrayList()
        self._no_quantiles = spark._sc._gateway.new_array(jvm.double, 0)
        self._run_stats = pipeline.RUN_STATS
        self._listener = _ProgressListener()
        self._listening = False
        self._next_exec = 0
        self._next_job = 0
        self.op: dict[str, float] = {}

    # -- id ranges -----------------------------------------------------

    def _end_exec(self) -> int:
        """One past the newest SQL execution id."""
        execs = self._sql.executionsList()
        return execs.last().executionId() + 1 if execs.nonEmpty() else 0

    def _end_job(self) -> int:
        """One past the newest job id (jobsList is newest first)."""
        jobs = self._app.jobsList(None)
        return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0

    def _flush(self) -> None:
        self._bus.waitUntilEmpty()

    # -- op lifecycle --------------------------------------------------

    def listen(self, on: bool) -> None:
        """Attach or detach the streaming progress listener."""
        if on and not self._listening:
            self.spark.streams.addListener(self._listener)
        elif not on and self._listening:
            self.spark.streams.removeListener(self._listener)
        self._listening = on

    def begin(self, name: str) -> None:
        self.sc.setJobGroup(name, name)
        self._flush()
        # skip whatever ran between traced ops
        self._next_exec = self._end_exec()
        self._next_job = self._end_job()
        self.op = defaultdict(float)
        self._listener.progress = []
        self._n_run_stats = len(self._run_stats)
        self._compile_ns = self._codegen.compileTime()
        self._compile_n = self._compiles.getCount()

    @contextmanager
    def span(self, metric: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.op[metric] += time.perf_counter() - t0

    def jobs_since_begin(self) -> int:
        """Jobs started since ``begin`` (for eager work inside a build)."""
        self._flush()
        return self._end_job() - self._next_job

    def end(self, wall_s: float) -> dict[str, float]:
        self._flush()
        op = self.op
        op["exec.codegen_compile_s"] = (
            self._codegen.compileTime() - self._compile_ns) / 1e9
        op["exec.codegen_compiles"] = float(
            self._compiles.getCount() - self._compile_n)
        end_exec = self._end_exec()
        for eid in range(self._next_exec, end_exec):
            self._add_execution(op, eid)
        self._next_exec = end_exec
        end_job = self._end_job()
        self._add_jobs(op, range(self._next_job, end_job))
        self._next_job = end_job
        self._add_streaming(op, wall_s)
        self.sc.setJobGroup(None, None)
        return {k: float(op.get(k, 0.0)) for k in OP_METRICS}

    # -- readers -------------------------------------------------------

    def _add_execution(self, op, eid: int) -> None:
        if not self._sql.execution(eid).isDefined():
            return
        # One call renders every plan node with its metric values.
        dot = self._sql.planGraph(eid).makeDotFile(
            self._sql.executionMetrics(eid))
        for label in _NODE.findall(dot):
            lines = [x for x in label.split("<br>") if x]
            name = lines[0].removeprefix("<b>").removesuffix("</b>").strip()
            metrics = _parse_metrics(lines[1:])
            for mname, value in metrics.items():
                key = SQL_METRICS.get(mname)
                if key is not None:
                    op[key] += value
            rows = metrics.get("number of output rows", 0.0)
            if "Scan" in name:
                op["exec.scan_rows"] += rows
            if "time to run Python workers" in metrics:
                op["exec.python_rows"] += rows
        for label in _STAGE_CLUSTER.findall(dot):
            metrics = _parse_metrics(label.split("\\n")[1:])
            op["exec.stage_s"] += metrics.get("duration", 0.0)

    def _add_jobs(self, op, job_ids) -> None:
        stage_ids: set[int] = set()
        for jid in job_ids:
            op["exec.jobs"] += 1
            it = self._app.job(jid).stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        for sid in stage_ids:
            try:
                attempts = self._app.stageData(sid, False, self._no_tasks,
                                               False, self._no_quantiles)
            except Py4JJavaError:  # evicted past spark.ui.retainedStages
                continue
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                done = st.numCompleteTasks()
                if done == 0:
                    continue  # skipped: its shuffle output was reused
                op["exec.stages"] += 1
                op["exec.tasks"] += done
                op["exec.task_s"] += st.executorRunTime() / 1000.0
                op["exec.gc_s"] += st.jvmGcTime() / 1000.0
                if st.numTasks() == 1:
                    op["exec.single_task_stages"] += 1

    def _add_streaming(self, op, wall_s: float) -> None:
        last_state: dict = {}
        for p in self._listener.progress:
            d = p.durationMs or {}
            op["streaming.batches"] += 1
            op["streaming.input_rows"] += p.numInputRows
            op["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000.0
            op["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
            op["streaming.commit_s"] += (d.get("walCommit", 0)
                                         + d.get("commitOffsets", 0)) / 1000.0
            for i, s in enumerate(p.stateOperators or []):
                op["streaming.state_commit_s"] += s.commitTimeMs / 1000.0
                last_state[(p.id, i)] = s
        op["streaming.state_rows"] = float(
            sum(s.numRowsTotal for s in last_state.values()))
        op["streaming.state_bytes"] = float(
            sum(s.memoryUsedBytes for s in last_state.values()))
        side_ms = sum(r.get("batch_side_ms", 0)
                      for r in self._run_stats[self._n_run_stats:])
        op["streaming.batch_side_s"] = side_ms / 1000.0
        if op["streaming.batches"]:
            op["streaming.overhead_s"] = (wall_s - op["streaming.trigger_s"]
                                          - op["streaming.batch_side_s"])
