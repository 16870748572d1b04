"""Reads Spark's own status stores after each op, with no UI and no network.

Two stores:

- the core status store (``SparkContext.statusStore``): per-stage run
  time, CPU, GC, input, shuffle, spill, deserialize and result-serialize
  time, and per-task run times, for the jobs the op started;
- the SQL status store (``SharedState.statusStore``): the op's SQL
  executions, their Python-worker metrics and their executed plans.

Every private seam used here is pinned by ``perfbench/tests/test_status.py``:

- ``SparkContext.statusStore()`` is ``private[spark]`` in Scala (public in
  the bytecode, so py4j can call it);
- ``AppStatusStore.stageList`` cannot be called from py4j (it has Scala
  default arguments), so stages are read one at a time with
  ``lastStageAttempt``; ``jobsList(null)`` gives the jobs newest first;
- ``SQLAppStatusStore.planGraph`` gives the executed plan's nodes with
  their metrics' accumulator ids; ``executionMetrics`` returns a Scala
  ``Map[Long, String]`` of their values. Looking a key up from Python passes a ``java.lang.Integer``,
  which never equals the ``Long`` key, so the lookup yields ``None``; the
  map is converted to a ``java.util.Map`` first and read whole.
"""

from __future__ import annotations

import re
import statistics

PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
)
_PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_start_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}
_UNITS = {
    "": 1.0,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 2.0**10,
    "MiB": 2.0**20,
    "GiB": 2.0**30,
    "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number in base units (seconds,
    bytes or a count). Spark prints either the total alone (``"2 ms"``) or
    a ``total (min, med, max ...)`` header line with the values below."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


class StatusReader:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._to_java = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._last_job = -1
        self._last_exec = -1
        self.take_op()

    def take_op(self) -> tuple[list[int], list]:
        """The jobs and SQL executions started since the previous call;
        the next call sees only later ones. The loop has one client, so
        these are the op's own whatever started them: the op's thread,
        helper threads (which inherit no job group) or a stream's
        micro-batches (which run under the query's run id as their job
        group). The stores are fed asynchronously by the listener bus,
        which is drained first."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        newest = self._store.jobsList(None)  # descending job ids
        last = newest.apply(0).jobId() if newest.size() else -1
        jobs = list(range(self._last_job + 1, last + 1))
        self._last_job = max(self._last_job, last)
        return jobs, self._new_executions()

    # ---------------------------------------------------------------- jobs
    def job_submit_ms(self, job_id: int) -> float:
        return float(self._store.job(job_id).submissionTime().get().getTime())

    def _stage_ids(self, job_ids: list[int]) -> list[int]:
        ids: set[int] = set()
        for j in job_ids:
            info = self._sc.statusTracker().getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def stages(self, job_ids: list[int]) -> dict[str, float]:
        """Summed stage metrics of the jobs; skipped stages ran no tasks."""
        out = dict.fromkeys(
            (
                "stages",
                "tasks",
                "task_run_s",
                "task_cpu_s",
                "gc_s",
                "task_overhead_s",
                "input_bytes",
                "input_rows",
                "shuffle_read_bytes",
                "shuffle_write_bytes",
                "spill_bytes",
            ),
            0.0,
        )
        longest = None
        for sid in self._stage_ids(job_ids):
            st = self._store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            run_s = st.executorRunTime() / 1e3
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["task_run_s"] += run_s
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["task_overhead_s"] += (
                st.executorDeserializeTime() + st.resultSerializationTime()
            ) / 1e3
            out["input_bytes"] += st.inputBytes()
            out["input_rows"] += st.inputRecords()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if longest is None or run_s > longest[0]:
                longest = (run_s, st.stageId(), st.attemptId(), st.numTasks())
        out["stage_skew"] = self._skew(*longest[1:]) if longest else 1.0
        return out

    def _skew(self, stage_id: int, attempt: int, n_tasks: int) -> float:
        """Slowest task's run time over the median task's, in one stage."""
        tasks = _seq(self._store.taskList(stage_id, attempt, max(n_tasks, 1)))
        runs = []
        for t in tasks:
            m = t.taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 1.0

    # ----------------------------------------------------------------- SQL
    def _new_executions(self) -> list:
        """SQL executions started since the previous call. Reads pages from
        the end of the list, so old executions the listener evicted do not
        shift what is read."""
        n = int(self._sql.executionsCount())
        page, found = 16, []
        while n:
            start = max(0, n - page)
            found = [
                e
                for e in _seq(self._sql.executionsList(start, n - start))
                if e.executionId() > self._last_exec
            ]
            if start == 0 or len(found) < n - start:
                break
            page *= 4
        if found:
            self._last_exec = max(e.executionId() for e in found)
        return found

    def metric_values(self, execution_id: int) -> dict[int, str]:
        jm = self._to_java.asJava(self._sql.executionMetrics(execution_id))
        return {int(k): str(v) for k, v in jm.items()}

    def executions(self, execs: list) -> dict[str, float]:
        """Python-eval nodes, Python-worker time and bytes, and rows out of
        Python DataSource scans, over the executions' executed plan graphs.

        A cached plan shows up in every execution that reads it, and more
        than once in one execution's metric list, so nodes and metrics are
        counted once per accumulator id. Python that ran in an RDD-level
        action (an eager checkpoint, say) belongs to no SQL execution and
        is not in these metrics; ``/proc`` still sees its CPU."""
        out = dict.fromkeys(
            ("py_nodes", "py_start_s", "py_run_s", "py_bytes_sent", "py_bytes_returned", "source_rows"),
            0.0,
        )
        seen: set[int] = set()
        for e in execs:
            values = self.metric_values(e.executionId())
            for node in _seq(self._sql.planGraph(e.executionId()).allNodes()):
                metrics = {m.accumulatorId(): m.name() for m in _seq(node.metrics())}
                if not metrics or min(metrics) in seen:
                    continue
                seen.add(min(metrics))
                name = node.name()
                out["py_nodes"] += name in PYTHON_NODES
                for acc, metric in metrics.items():
                    if acc not in values:
                        continue
                    key = _PY_METRICS.get(metric)
                    if key:
                        out[key] += parse_metric(values[acc])
                    elif name.startswith("BatchScan") and metric == "number of output rows":
                        out["source_rows"] += parse_metric(values[acc])
        return out

    # ------------------------------------------------------- JVM and blocks
    def codegen_compiles(self) -> int:
        jvm = self._sc._jvm
        return int(jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())

    def code_cache_mb(self) -> float:
        pools = self._sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        return sum(p.getUsage().getUsed() for p in pools if p.getName().startswith("CodeHeap")) / 2**20

    def storage_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._sc._jsc.sc().getRDDStorageInfo())
