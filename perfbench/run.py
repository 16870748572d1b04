"""Benchmark for the etl_geotab_spark engine: one workload, one seed.

    python3 perfbench/run.py --workload warehouse_scan --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The engine runs on ``local[N]`` with
N = min(4, cores). A run:

1. writes the fixture tables once per checkout (``perfbench/gen.py``) and
   draws the run plan from ``--seed``;
2. sets the engine up (``setup_s``): builds the session, which launches
   the JVM, then runs one warm pass over the workload's ops, which pays
   every one-time cost (first table touch, first pandas UDF, first
   Python DataSource read, first stream drain, first codegen of each
   plan);
3. runs measured passes until ``--seconds`` have passed, and at least
   two passes and four ops. Every op's output is checked outside its
   timed part.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, prints the per-layer metrics of the traced
passes and the tracing overhead, and writes the spans under
``perfbench/_work/``. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
MAX_PASSES = 400


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "etl_geotab_spark", "__init__.py"))


def _environment(run_dir: str) -> int:
    """Keep every file the engine writes inside the checkout, let Python
    workers import the engine, and pick the core count."""
    cores = min(4, os.cpu_count() or 1)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.path.insert(0, ROOT)
    return cores


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not _engine_present():
        print(f"etl_geotab_spark not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cores = _environment(run_dir)
    try:
        import gen
        from harness import Run

        sf_dir = gen.write_tables(os.path.join(WORK, "data"))
        spec = WORKLOADS[args.workload]
        plan = gen.plan(spec["ops"], args.seed, MAX_PASSES, spec.get("fleet_groups", 0))
        run = Run(
            workload=args.workload,
            spec=spec,
            plan=plan,
            sf_dir=sf_dir,
            run_dir=run_dir,
            cores=cores,
            traced=bool(args.trace),
        )
        result = run.execute(args.seconds)
        record = dict(result, workload=args.workload, seed=args.seed, cores=cores, **run.record)
        os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(WORK, "records", name + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        if args.trace:
            run.tracer.write(os.path.join(WORK, "records", name + ".spans.json"))
        print(
            f"{args.workload}: cores={cores} passes={run.record['passes']} "
            f"op_samples={run.record['op_samples']} failed={result['failed']}",
            file=sys.stderr,
        )
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
