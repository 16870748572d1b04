"""The query lifecycle, in one place, for every caller that runs a
registered query: the bench, the oracle gate, the scale sweep and
isolated timing.

- ``warm(spark, sf_dir)`` pays a session's one-time costs once, so
  per-query numbers measure the plan, not cold start.
- ``scope(spark, name)`` runs its body as Spark job group ``name``
  and, on every exit (an exception included), releases every cached
  plan and pinned block and collects both heaps.
- ``run(spark, name, sf_dir)`` forces one query to the noop sink
  (full computation, no driver collect) inside that scope and returns
  ``{"name", "wall_s", "build_s", "jobs", "error", "released"}``.
  ``wall_s`` covers plan construction plus the force; the release is
  outside it. ``build_s`` is the plan construction alone and ``jobs``
  the number of Spark jobs it ran (checkpoints, probes, driver pulls
  and their AQE stage jobs), counted in the query's job group.

Isolated timing from the command line, on one warmed session::

    python -m etl_geotab_spark.run [--sf DIR] [--reps N] q1 [q2 ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR`` (as ``bench.py``);
``--reps`` (default 3) runs per query. Prints one JSON line per query,
``{name: {"best": s, "samples": [s, ...], "build_s": [s, ...],
"jobs": [n, ...]}}``, then all of them as one line.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from etl_geotab_spark.blocks import release_all_cached
from etl_geotab_spark.functions.text import tokenize
from etl_geotab_spark.io import TABLES, load_table
from etl_geotab_spark.operators.rownum import ordered_prefix_sum
from etl_geotab_spark.queries import queries
from etl_geotab_spark.sources.geotab import _SCHEMAS, register_geotab_source
from etl_geotab_spark.streaming import run_to_memory_table

_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def force(df: DataFrame) -> None:
    """Compute ``df`` end to end into the noop sink."""
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def scope(spark: SparkSession, name: str) -> Iterator[dict]:
    """Run the body as job group ``name``; yields a dict in which
    ``released`` is set on exit to the number of RDD blocks the body
    left pinned. Operators persist and ``localCheckpoint``
    intermediates; without this exit a long session clocks queries run
    late at 3-5x their isolated time. ``System.gc`` and ``gc.collect``
    drop the py4j handles. The caller's job group is restored."""
    sc = spark.sparkContext
    prev = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    sc.setJobGroup(name, f"etl_geotab_spark.run:{name}")
    rec: dict = {}
    try:
        yield rec
    finally:
        rec["released"] = release_all_cached(spark)
        spark._jvm.System.gc()
        gc.collect()
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def _group_jobs(spark: SparkSession, group: str) -> set[int]:
    """Ids of the jobs Spark's status store holds for job group
    ``group``, once the listener bus (which feeds the store
    asynchronously) is drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def run(spark: SparkSession, name: str, sf_dir: str) -> dict:
    """Build query ``name`` at ``sf_dir`` and force it, inside
    ``scope``. A failure is recorded in ``error``, not raised."""
    with scope(spark, name) as rec:
        rec.update(name=name, wall_s=-1.0, build_s=-1.0, jobs=-1, error=None)
        try:
            before = _group_jobs(spark, name)
            t0 = time.time()
            df = queries()[name](spark, sf_dir)
            build_s = time.time() - t0
            rec["jobs"] = len(_group_jobs(spark, name) - before)
            t1 = time.time()
            force(df)
            rec["wall_s"] = round(build_s + time.time() - t1, 3)
            rec["build_s"] = round(build_s, 3)
        except Exception as e:  # noqa: BLE001
            rec["error"] = f"{type(e).__name__}: {e}"
    return rec


def warm(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Absorb one-time session costs; returns each fixture table's row
    count. Each step is a first-of-family cost that would otherwise
    land on whichever query happens to run first."""
    # (a) the flagship, for JVM start-up and codegen
    with scope(spark, "geotab_flagship"):
        force(queries()["geotab_flagship"](spark, sf_dir))
    # (b) a FULL-WIDTH touch per table, not a zero-column count:
    # footer/listing caches alone leave the data pages cold, and the
    # first query to scan a table's full width paid the OS page-cache
    # fill (pricing_summary: 2.1-2.4 s cold vs 1.8-1.9 s warm). One
    # max() per column reads every column chunk once.
    rows: dict[str, int] = {}
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        rows[t] = df.agg(
            F.count(F.lit(1)), *[F.max(c) for c in df.columns]
        ).collect()[0][0]
    # (c) one tiny Arrow batch: spins up the Python worker pool the
    # pandas-UDF operators reuse
    ident = pandas_udf(lambda s: s, "long")
    spark.range(64).select(ident(F.col("id"))).count()
    # (d) one tiny Python-DataSource scan: the first one in a session
    # starts the planner daemons (later loads reuse their workers) and
    # pays the scan shape's noop-writer codegen.
    register_geotab_source(spark)
    force(
        spark.read.format("geotab")
        .schema(_SCHEMAS["Device"])
        .option("typename", "Device")
        .option("transport", "fake")
        .option("sessionid", "bench-warmup")
        .load()
    )
    # (e) the first plan embedding a higher-order-function chain, and
    # the first range-partitioned rownum plan, pay ~2-3 s of
    # Janino+JIT warm-up that transfers to every later plan of that
    # family (size(tokenize): 2.7 s first use, <1 s after)
    spark.createDataFrame([("a b c",)], "t string").select(
        F.size(tokenize(F.col("t"))).alias("n")
    ).groupBy("n").count().count()
    ordered_prefix_sum(
        spark.range(128).select(F.col("id").alias("k"), F.lit(1).alias("v")),
        ["k"],
        "v",
    ).count()
    spark.catalog.clearCache()
    # (f) one tiny AvailableNow streaming drain: the first readStream
    # in a session pays ~2 s of micro-batch engine and state
    # scaffolding set-up (isolated at sf0.1: first 2.97 s, then
    # 1.25/1.01/1.04/0.92 s)
    warm_dir = os.path.join(
        tempfile.gettempdir(), f"bench_stream_warm_{os.getpid()}"
    )
    spark.range(8).selectExpr(
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,id,0) as ts",
        "cast(id as double) as value",
    ).write.mode("overwrite").parquet(warm_dir)
    run_to_memory_table(
        spark.readStream.schema("ts timestamp, value double")
        .parquet(warm_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .count(),
        query_name=f"bench_warm_{os.getpid()}",
    ).count()
    # the pid-stamped name defeats overwrite-mode reclamation: remove
    # it now or every process leaks one dir
    shutil.rmtree(warm_dir, ignore_errors=True)
    return rows


def main(argv: list[str] | None = None) -> int:
    import argparse

    p = argparse.ArgumentParser(
        prog="python -m etl_geotab_spark.run",
        description="Isolated timing of registered queries on one "
        "warmed session.",
    )
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                   help="fixture directory (default $SPARK_GRAFT_SF_DIR)")
    p.add_argument("--reps", type=int, default=3, help="runs per query")
    p.add_argument("names", nargs="+", metavar="query")
    a = p.parse_args(argv)
    if not a.sf:
        p.error("--sf DIR is required when $SPARK_GRAFT_SF_DIR is unset")
    if a.reps < 1:
        p.error("--reps must be at least 1")
    unknown = [n for n in a.names if n not in queries()]
    if unknown:
        p.error(f"unknown queries: {unknown}")

    from etl_geotab_spark.session import get_spark

    spark = get_spark("etl-geotab-spark-run")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    try:
        warm(spark, a.sf)
        for n in a.names:
            recs = [run(spark, n, a.sf) for _ in range(a.reps)]
            ok = [r for r in recs if r["error"] is None]
            samples = [r["wall_s"] for r in ok]
            results[n] = {
                "best": min(samples, default=-1.0),
                "samples": samples,
                "build_s": [r["build_s"] for r in ok],
                "jobs": [r["jobs"] for r in ok],
            }
            errors = [r["error"] for r in recs if r["error"] is not None]
            if errors:
                results[n]["error"] = errors[0]
                print(f"{n}: {errors[0]}", file=sys.stderr)
            print(json.dumps({n: results[n]}))
    finally:
        spark.stop()
    print(json.dumps(results))
    return 1 if any("error" in r for r in results.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
