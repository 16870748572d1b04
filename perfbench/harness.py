"""The closed loop: set-ups, ops, passes and the metrics they yield."""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time
import traceback
from contextlib import contextmanager

import proctree
from checks import Expected, load_pins
from proctree import PeakRss
from trace import Tracer
from workloads import FLEET_TICK

NOW_LITERAL = "2024-01-01T22:00:00Z"
ORACLE_NOW = "2024-01-01 22:00:00"
# A run measures at least two passes and at least this many ops, so that
# a set of ten runs gives at least 100 op samples for ``op_p90_s`` on every
# workload, the one-op fleet tick included. With the committed run length
# this fixes each workload's pass count on a 4-core host, and a pass count
# that flipped between runs would add its own spread.
MIN_OP_SAMPLES = 10

# per-pass sums over a traced pass, by per-layer metric name
_PASS_SUMS = (
    "queries.build_s",
    "queries.build_jobs",
    "spark.exec_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.codegen_compiles",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.gc_s",
    "spark.spill_bytes",
    "spark.task_overhead_s",
    "io.input_bytes",
    "io.input_rows",
    "operators.py_nodes",
    "operators.py_run_s",
    "operators.py_start_s",
    "operators.py_bytes_sent",
    "operators.py_bytes_returned",
    "operators.py_worker_cpu_s",
    "sources.fetch_s",
    "sources.partitions",
    "sources.rows",
    "pipeline.sink_s",
    "pipeline.features_posted",
    "blocks.pinned_after_op",
    "blocks.storage_bytes",
    "streaming.batches",
    "streaming.batch_s",
    "streaming.state_rows",
    "streaming.state_bytes",
    "streaming.state_commit_s",
)
_SELF_SPANS = (
    "op",
    "queries.build",
    "spark.force",
    "sources.fetch",
    "pipeline.sink",
    "blocks.release",
    "bench.check",
)


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


class _StreamStats:
    """Streaming progress totals, fed by a ``StreamingQueryListener``."""

    def __init__(self):
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.batches = 0
            self.batch_s = 0.0
            self.commit_s = 0.0
            self._state: dict[str, tuple[int, int]] = {}

    def add(self, progress) -> None:
        with self._lock:
            self.batches += 1
            self.batch_s += progress.durationMs.get("triggerExecution", 0) / 1e3
            ops = progress.stateOperators or []
            self.commit_s += sum(o.commitTimeMs for o in ops) / 1e3
            if ops:
                self._state[progress.id] = (
                    sum(o.numRowsTotal for o in ops),
                    sum(o.memoryUsedBytes for o in ops),
                )

    def take(self) -> dict[str, float]:
        with self._lock:
            out = {
                "streaming.batches": self.batches,
                "streaming.batch_s": self.batch_s,
                "streaming.state_commit_s": self.commit_s,
                "streaming.state_rows": sum(r for r, _ in self._state.values()),
                "streaming.state_bytes": sum(b for _, b in self._state.values()),
            }
        self.reset()
        return out


def _listener(stats: _StreamStats):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            stats.add(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


class Run:
    def __init__(self, workload, spec, plan, sf_dir, run_dir, cores, traced):
        self.workload = workload
        self.ops = spec["ops"]
        self.plan = plan
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.cores = cores
        self.traced = traced
        self.tracer = Tracer(traced)
        self.spark = None
        self.record: dict = {}
        self._attempted = 0
        self._failures: list[str] = []
        self._counts: dict[str, int] = {}
        self._streams = _StreamStats()
        self._reader = None
        self._exp = None
        self._op_seq = 0
        self._tick = 0

    # -------------------------------------------------------------- set-up
    def _setup(self, order: list[str]) -> tuple[float, dict]:
        """Session (JVM launch) and warm-up. The warm-up is one pass over
        the workload's ops: it pays every one-time cost the measured
        passes would otherwise pay (first table touch, first pandas UDF,
        first Python DataSource read, first stream drain, first codegen
        of each plan). Its outputs are checked, and the checks' wall time
        is left out of the set-up time."""
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            from etl_geotab_spark import queries as Q
            from etl_geotab_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self._queries = Q.queries()
        with self.tracer.span("session.warm"):
            warm = self._pass(order, traced=False)
        checks_s = sum(o.get("check_s", 0.0) for o in warm["ops"])
        return time.perf_counter() - t0 - checks_s, warm

    def shutdown(self) -> None:
        """Stop the session, the JVM and every Python worker, and wait
        for each to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc = gateway.proc  # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        for pid in proctree.snapshot():  # anything the JVM left behind
            if pid != os.getpid():
                try:
                    os.kill(pid, signal.SIGTERM)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + 30
        while len(proctree.snapshot()) > 1 and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)

    # --------------------------------------------------------- expectations
    def _expected(self) -> Expected:
        """Every op's expected output, computed before any metric is taken;
        the DuckDB connection is closed before the engine starts."""
        from etl_geotab_spark import queries as Q
        from etl_geotab_spark.io import TABLES
        from etl_geotab_spark.sources.geotab import connector_pipeline_oracle_sql

        exp = Expected(self.sf_dir, TABLES)
        oracles = Q.oracle_sql()
        pins = load_pins(self.workload)
        for op in self.ops:
            if op == FLEET_TICK:
                exp.add_oracle(
                    op,
                    connector_pipeline_oracle_sql(
                        groups=self.plan["fleet_groups"], now=ORACLE_NOW, freshness_hours=24
                    ),
                )
            elif op in oracles:
                exp.add_oracle(op, oracles[op])
            elif op in pins:
                exp.add_pin(op, pins[op])
        exp.close()
        return exp

    # ------------------------------------------------------------------ ops
    def _check(self, op: str, rows: list, columns: list[str], extra: str | None = None) -> str | None:
        dicts = [r.asDict() for r in rows]
        self._counts[op] = len(dicts)
        if extra:
            return extra
        if not self._exp.has(op):
            return "no oracle and no pinned row count"
        return self._exp.problem(op, dicts, columns)

    @contextmanager
    def _checking(self, t: dict):
        """The op's output check. Its Spark jobs, SQL executions and CPU
        are the benchmark's, not the engine's: a traced op's status-store
        boundary, codegen count and Python-worker CPU are taken before it,
        and its wall and CPU time are recorded so that ``setup_s`` and
        ``cpu_s`` leave them out."""
        with self.tracer.span("bench.check"):
            if self.tracer.enabled:
                t["jobs"], t["execs"] = self._reader.take_op()
                t["codegen"] = self._reader.codegen_compiles()
                t["py_cpu"] = proctree.cpu_s(proctree.python_workers(proctree.snapshot()))
            c0, w0 = proctree.cpu_s(proctree.snapshot()), time.perf_counter()
            try:
                yield
            finally:
                t["check_s"] = time.perf_counter() - w0
                t["check_cpu_s"] = proctree.cpu_s(proctree.snapshot()) - c0

    def _note_blocks(self, t: dict) -> None:
        """In a traced op, the blocks it left pinned, read before release."""
        from etl_geotab_spark.blocks import persistent_rdd_count

        if self.tracer.enabled:
            t["pinned"] = persistent_rdd_count(self.spark)
            t["storage_bytes"] = self._reader.storage_bytes()

    def _query_op(self, op: str, t: dict) -> str | None:
        with self.tracer.span("queries.build"):
            t0 = time.perf_counter()
            df = self._queries[op](self.spark, self.sf_dir)
            t["build"] = time.perf_counter() - t0
            t["build_end_ms"] = time.time() * 1e3
        with self.tracer.span("spark.force"):
            t0 = time.perf_counter()
            columns = df.columns
            rows = df.collect()
            t["force"] = time.perf_counter() - t0
        with self._checking(t):
            problem = self._check(op, rows, columns)
            self._note_blocks(t)
        return problem

    def _tick_op(self, op: str, t: dict) -> str | None:
        from pyspark.sql import functions as F

        from etl_geotab_spark.pipeline.geotab import run_connector_pipeline, to_geojson_features

        self._tick += 1
        ack = os.path.join(self.run_dir, f"ack-{self._tick}.json")
        with self.tracer.span("sources.fetch"):
            t0 = time.perf_counter()
            feats = run_connector_pipeline(
                self.spark,
                groups=self.plan["fleet_groups"],
                transport="fake",
                session_id="perfbench",
                now=F.lit(NOW_LITERAL).cast("timestamp"),
                freshness="24 HOURS",
            )
            t["fetch"] = time.perf_counter() - t0
            t["fetch_end_ms"] = time.time() * 1e3
        with self.tracer.span("pipeline.sink"):
            t0 = time.perf_counter()
            (
                to_geojson_features(feats)
                .write.format("geotab")
                .mode("append")
                .option("transport", "fake")
                .option("ackpath", ack)
                .save()
            )
            t["sink"] = time.perf_counter() - t0
        with self._checking(t):
            flat = feats.withColumn("groups", F.to_json("groups")).withColumn(
                "geometry",
                F.format_string(
                    '{"type":"Point","coordinates":[%.3f,%.3f]}',
                    F.col("geometry.coordinates")[0],
                    F.col("geometry.coordinates")[1],
                ),
            )
            rows = flat.collect()
            with open(ack) as f:
                posted = json.load(f).get("features_posted", -1)
            t["posted"] = posted
            extra = None if posted == len(rows) else f"sink acked {posted} of {len(rows)} features"
            problem = self._check(op, rows, flat.columns, extra)
            self._note_blocks(t)
        return problem

    def _run_op(self, op: str, traced: bool) -> dict:
        """One op: its timed parts, its check, then the release of every
        block it left pinned. Returns the op's record."""
        from etl_geotab_spark.blocks import release_all_cached

        self._op_seq += 1
        op_id = f"op-{self._op_seq}"
        t: dict = {"op": op, "id": op_id}
        self.tracer.enabled = traced
        if traced:
            self._reader.take_op()  # forget what ran before the op
            self._streams.reset()
            cpu0 = proctree.cpu_s(proctree.python_workers(proctree.snapshot()))
            cg0 = self._reader.codegen_compiles()
        t0 = time.perf_counter()
        problem = None
        with self.tracer.span("op", op_id=op_id) as span:
            try:
                runner = self._tick_op if op == FLEET_TICK else self._query_op
                problem = runner(op, t)
            except Exception as exc:  # an op failure is counted, not fatal
                problem = f"{type(exc).__name__}: {str(exc)[:500]}"
                traceback.print_exc()
            with self.tracer.span("blocks.release"):
                t1 = time.perf_counter()
                release_all_cached(self.spark)
                t["release"] = time.perf_counter() - t1
        t["wall"] = time.perf_counter() - t0
        t["latency"] = t.get("build", 0) + t.get("force", 0) + t.get("fetch", 0) + t.get("sink", 0) + t["release"]
        self._attempted += 1
        if problem:
            self._failures.append(f"{op}: {problem}")
            t["problem"] = problem
        if traced:
            self._layer_reads(t, cpu0, cg0)
            span.counts = t["layers"]
        self.tracer.enabled = self.traced
        return t

    def _layer_reads(self, t: dict, cpu0: float, cg0: int) -> None:
        """Status-store reads and ``/proc`` samples for a traced op, taken
        after its span closed and attached to it. The op's jobs, SQL
        executions, codegen count and worker CPU end where its check
        began; an op that failed before its check ends here."""
        r = self._reader
        if "jobs" not in t:
            t["jobs"], t["execs"] = r.take_op()
        jobs = t.pop("jobs")
        st = r.stages(jobs)
        ex = r.executions(t.pop("execs"))
        cpu1 = t.pop("py_cpu", None)
        if cpu1 is None:
            cpu1 = proctree.cpu_s(proctree.python_workers(proctree.snapshot()))
        cg1 = t.pop("codegen", None)
        if cg1 is None:
            cg1 = r.codegen_compiles()
        layers = {
            "queries.build_s": t.get("build", 0.0),
            "queries.build_jobs": sum(
                1 for j in jobs if r.job_submit_ms(j) < t.get("build_end_ms", 0)
            ),
            "spark.exec_s": t.get("force", 0.0),
            "spark.jobs": len(jobs),
            "spark.stages": st["stages"],
            "spark.tasks": st["tasks"],
            "spark.shuffle_write_bytes": st["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": st["shuffle_read_bytes"],
            "spark.codegen_compiles": cg1 - cg0,
            "spark.task_run_s": st["task_run_s"],
            "spark.task_cpu_s": st["task_cpu_s"],
            "spark.gc_s": st["gc_s"],
            "spark.spill_bytes": st["spill_bytes"],
            "spark.task_overhead_s": st["task_overhead_s"],
            "io.input_bytes": st["input_bytes"],
            "io.input_rows": st["input_rows"],
            "operators.py_nodes": ex["py_nodes"],
            "operators.py_run_s": ex["py_run_s"],
            "operators.py_start_s": ex["py_start_s"],
            "operators.py_bytes_sent": ex["py_bytes_sent"],
            "operators.py_bytes_returned": ex["py_bytes_returned"],
            "operators.py_worker_cpu_s": max(0.0, cpu1 - cpu0),
            "sources.fetch_s": t.get("fetch", 0.0),
            "sources.partitions": r.stages(
                [j for j in jobs if r.job_submit_ms(j) < t.get("fetch_end_ms", 0)]
            )["tasks"],
            "sources.rows": ex["source_rows"] if "fetch" in t else 0,
            "pipeline.sink_s": t.get("sink", 0.0),
            "pipeline.features_posted": max(0, t.get("posted", 0)),
            "blocks.pinned_after_op": t.get("pinned", 0),
            "blocks.storage_bytes": t.get("storage_bytes", 0),
        }
        layers.update(self._streams.take())
        t["layers"] = layers
        t["busy"] = (st["task_run_s"], st["stage_skew"] if st["stages"] else None)

    # ---------------------------------------------------------------- passes
    def _pass(self, order: list[str], traced: bool) -> dict:
        c0 = proctree.cpu_s(proctree.snapshot())
        ops = [self._run_op(op, traced) for op in order]
        c1 = proctree.cpu_s(proctree.snapshot())
        return {
            "traced": traced,
            "ops": ops,
            "pass_s": sum(o["latency"] for o in ops),
            "cpu_s": c1 - c0 - sum(o.get("check_cpu_s", 0.0) for o in ops),
        }

    def execute(self, seconds: float) -> dict:
        orders = iter(self.plan["pass_orders"])
        self._exp = self._expected()
        with PeakRss() as peak:
            try:
                setup_s, warm = self._setup(next(orders))
                if self.traced:
                    from status import StatusReader

                    self._reader = StatusReader(self.spark)
                    self.spark.streams.addListener(_listener(self._streams))
                passes = []
                t0 = time.perf_counter()
                # A traced run starts with one more untraced pass, kept out
                # of the overhead comparison, then interleaves U T T U ...:
                # the JIT is still warming over the first passes, and the
                # interleaving cancels what is left of that trend.
                min_passes = 5 if self.traced else 2
                while (
                    len(passes) < min_passes
                    or sum(len(p["ops"]) for p in passes) < MIN_OP_SAMPLES
                    or time.perf_counter() - t0 < seconds
                ):
                    k = len(passes) - 1
                    traced = self.traced and k >= 0 and k % 4 in (1, 2)
                    passes.append(self._pass(next(orders), traced))
                measured_s = time.perf_counter() - t0
                code_cache = self._reader.code_cache_mb() if self.traced else None
            finally:
                self.shutdown()
        self.record = {
            "passes": len(passes),
            "warm_pass_s": warm["pass_s"],
            "measured_s": measured_s,
            "op_samples": sum(len(p["ops"]) for p in passes),
            "setup_s": setup_s,
            "failures": self._failures,
            "row_counts": self._counts,
            "pass_records": [
                dict(p, ops=[{k: v for k, v in o.items() if k != "layers"} for o in p["ops"]])
                for p in passes
            ],
        }
        if self.traced:
            metrics = self._layer_metrics(passes, code_cache)
        else:
            metrics = self._e2e_metrics(passes, setup_s, peak.peak_mb)
        failed = len(self._failures)
        return {
            "correct": failed == 0,
            "attempted": self._attempted,
            "failed": failed,
            "metrics": metrics,
        }

    # --------------------------------------------------------------- metrics
    def _e2e_metrics(self, passes, setup_s, peak_mb) -> dict:
        lat = [o["latency"] for p in passes for o in p["ops"]]
        ok = 1.0 - len(self._failures) / max(self._attempted, 1)
        return {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(p["pass_s"] for p in passes), "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_p90_s": {"value": _p90(lat), "unit": "s"},
            "cpu_s": {"value": statistics.median(p["cpu_s"] for p in passes), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
            "ok_frac": {"value": ok, "unit": "frac"},
        }

    def _layer_metrics(self, passes, code_cache) -> dict:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes[1:] if not p["traced"]]
        n = len(traced)
        sums = dict.fromkeys(_PASS_SUMS, 0.0)
        busy_run, busy_wall, skews = 0.0, 0.0, []
        for p in traced:
            for o in p["ops"]:
                for k in _PASS_SUMS:
                    sums[k] += o["layers"][k]
                busy_run += o["busy"][0]
                busy_wall += o["latency"]
                if o["busy"][1] is not None:
                    skews.append(o["busy"][1])
        def unit(name: str) -> str:
            if "bytes" in name:
                return "bytes"
            return "s" if name.endswith("_s") else "count"

        out = {k: {"value": v / n, "unit": unit(k)} for k, v in sums.items()}
        spans = self.tracer.spans
        for name, span in (("session.start_s", "session.get_spark"), ("session.warm_s", "session.warm")):
            out[name] = {"value": next(s.dur for s in spans if s.name == span), "unit": "s"}
        out["spark.code_cache_mb"] = {"value": code_cache, "unit": "MB"}
        out["spark.busy_frac"] = {
            "value": busy_run / (busy_wall * self.cores) if busy_wall else 0.0,
            "unit": "frac",
        }
        out["spark.stage_skew"] = {"value": statistics.median(skews) if skews else 1.0, "unit": "ratio"}
        selfs = self.tracer.self_times()
        for name in _SELF_SPANS:
            out[f"self.{name}_s"] = {"value": selfs.get(name, 0.0) / n, "unit": "s"}
        traced_pass = statistics.median(p["pass_s"] for p in traced)
        plain_pass = statistics.median(p["pass_s"] for p in plain)
        out["trace.overhead_pass_s"] = {"value": traced_pass - plain_pass, "unit": "s"}
        out["trace.overhead_frac"] = {"value": (traced_pass - plain_pass) / plain_pass, "unit": "frac"}
        return out
