"""SparkSession factory.

The reference runs one Node process with the whole fleet in RAM
(task.ts:124-295); our engine is lazy/distributed, so session defaults
matter. Choices here are the 100 TB-scale defaults scaled down to
``local[N]``, N = ``SPARK_GRAFT_CPUS`` (default 32):

- ``spark.sql.session.timeZone=UTC``: the reference parses ISO-8601
  ``Z`` strings (task.ts:265); UTC session tz makes ``to_timestamp``
  byte-faithful (SURVEY.md §4 trap 3).
- AQE on (runtime re-plan, skew-join splitting, auto-broadcast).
- Arrow on (pandas UDF / toPandas fast path).
- ``spark.sql.shuffle.partitions=N``: matches the local core count; on
  a real cluster this is overridden (AQE coalesces anyway).
- ``spark.sql.codegen.cache.maxEntries=4096``: a long-lived session
  compiles each plan shape's generated classes once. One whole-registry
  pass at sf0.01 generates ~2,500 distinct classes; at Spark's default
  of 100 entries the LRU thrashes and a second pass recompiled 3,286
  (76 at 4096).
- Python workers start from the driver's installed, byte-compiled
  PySpark: before the JVM launches, ``SPARK_HOME`` points at a worker
  home without ``python/`` (``worker_boot.worker_spark_home``), so no
  worker compiles ``pyspark.zip`` from source (SCALE.md §7).
"""

from __future__ import annotations

import functools
import os
import threading

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from etl_geotab_spark.worker_boot import worker_spark_home


def get_spark(
    app_name: str = "etl-geotab-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession with scale-aware defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # parquet scans: vectorized reader + pushdown are on by default;
        # keep file-split size at default 128MB (right for 100 TB too).
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture timestamps are parquet TIMESTAMP(MICROS) with
        # isAdjustedToUTC=false; Spark 4 infers those as TIMESTAMP_NTZ
        # by default, which breaks unix_micros()/timestamp arithmetic
        # and diverges from DuckDB-naive-at-UTC oracle semantics. Read
        # them as session-tz (UTC) TIMESTAMP instead.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Python DataSource pushdown (the Geotab connector, sources/)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Long-lived sessions compile one whole-stage-codegen class set
        # PER QUERY SHAPE; the JVM default 240MB reserved code cache
        # fills after ~100 distinct query plans, silently flushing/
        # disabling JIT — measured on this suite as nondeterministic
        # 3-10x slowdowns of pure-JVM queries late in a 160-query run
        # (cross_corpus_dedup 47s contaminated vs 4s fresh; 7s with
        # this flag). Any production driver/executor serving many
        # distinct plans wants the same headroom. Measured scaling:
        # 240MB dies ~100 plans, 1g dies ~204, 2g held at 219 — and
        # 2g is the JVM's HARD MAXIMUM for this flag (3g fails JVM
        # start: "Must be at most 2048M"). If the suite outgrows 2g
        # (~400+ plans by the scaling law), the remaining levers are
        # -XX:+UseCodeCacheFlushing tuning or splitting the bench
        # into multiple sessions — not a bigger cache.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=2g")
        # Generated-class cache (static; read when codegen first runs).
        # Spark's 100-entry LRU thrashes on a workload that cycles
        # through more plan shapes than that: the five-query
        # llm_curation pass cycles ~151 classes and recompiled ~110 of
        # them on every pass. 4096 holds a whole-registry pass (~2,500
        # classes at sf0.01) for +19 MB Metaspace and +19 MB CodeHeap.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if SparkContext._gateway is None:  # the JVM reads SPARK_HOME at launch
        home = _find_spark_home()
        worker_home = worker_spark_home(home)
        if worker_home != home:
            os.environ["SPARK_HOME"] = worker_home
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the driver harness passes us its own SparkSession).

    Static confs cannot be applied to a session this module did not
    build, so such a session runs with its own generated-class cache
    size (``spark.sql.codegen.cache.maxEntries``), JIT code cache
    (``-XX:ReservedCodeCacheSize``) and driver memory
    (``spark.driver.memory``). All three are perf-only: results do not
    depend on them (SCALE.md §21)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for conf, val in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.python.filterPushdown.enabled", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(conf, val)
        except Exception:
            pass  # static conf on some builds; AQE default-on in Spark 4
    return spark


def per_jvm(build):
    """Memoize a function that builds constant Columns, for the life of
    the JVM.

    Every Column function call pays PySpark's call-site capture: a stack
    walk plus about six py4j round trips (SCALE.md §7). A plan rebuilt on
    every tick spends more time building its constant expressions than
    Spark spends running it. A Column is a JVM expression tree, bound to
    no session or frame, so one built once can go into every later plan.

    ``build`` takes hashable arguments and returns an immutable value (a
    Column, or a tuple holding Columns) shared by every caller. The memo
    is keyed on the py4j gateway: a session stopped and rebuilt on the
    same JVM keeps it, and a relaunched JVM starts it afresh."""
    memo: dict = {}
    gateway = None
    lock = threading.Lock()  # the connector's scans build concurrently

    @functools.wraps(build)
    def cached(*args):
        nonlocal gateway
        with lock:
            if gateway is not SparkContext._gateway:
                memo.clear()
                gateway = SparkContext._gateway
            if args not in memo:
                memo[args] = build(*args)
            return memo[args]

    return cached
