"""Table catalog over the fixture parquet files (SURVEY.md §2 S6).

At 100 TB the same call pattern holds: ``spark.read.parquet`` on a
partitioned directory gives split-per-128MB parallel scans, predicate
pushdown, column pruning and (with a partitioned layout) partition
pruning — all visible in ``.explain('formatted')`` as PushedFilters /
ReadSchema. Nothing here materializes data on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# keeps region/nation constant; supplier/customer/part grow ~linearly
# but stay tiny relative to the fact tables).
BROADCAST_SAFE = frozenset({"region", "nation", "supplier"})


def file_identity(path: str) -> tuple | None:
    """(path, inode, mtime_ns, size) of a table's file or directory, or
    ``None`` when the path is not on the local filesystem. Memos over
    table files key on this, so a table rewritten in place (a new file,
    or a Spark overwrite that recreates the directory) is never answered
    from a stale entry."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_ino, st.st_mtime_ns, st.st_size)


# The parquet confs that change an INFERRED schema; both are set by
# load_table before it asks for one, so they are part of the memo key.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)
# (file_identity, inference confs) -> inferred schema
_SCHEMAS: dict[tuple, StructType] = {}


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, memoized.

    Inference reads a parquet footer in a Spark job on every read; a
    long-lived session reads the same tables again and again, and at
    100 TB the schema is a catalog fact. The key is the
    files' identity plus the inference confs, so a rewritten table or a
    conf change re-infers. A path off the local filesystem is inferred
    every time."""
    ident = file_identity(path)
    if ident is None:
        return spark.read.parquet(path).schema
    key = (ident, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return _SCHEMAS[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Lazy: no job runs until an action, and
    after the first read of a table in the process none runs to infer
    its schema either (``table_schema``).

    The fixtures store ``events.ts`` as parquet TIMESTAMP(MICROS) with
    ``isAdjustedToUTC=false`` at every scale. The ``nanosAsLong`` branch
    guards an ``events`` file written as TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects: it reads the column as raw long ns (legacy
    conf) and converts to TimestampType via integer µs division — the
    same truncation DuckDB applies casting ns→µs, so oracles agree.
    """
    # Fixture timestamps are parquet TIMESTAMP with isAdjustedToUTC=false;
    # Spark 4's default inferTimestampNTZ=true would surface them as
    # TIMESTAMP_NTZ (breaking unix_micros()/interval arithmetic and
    # diverging from the DuckDB-naive-at-UTC oracle). The driver harness
    # hands us ITS session, so set the conf here, not just at build time.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan all fixture tables into a name→DataFrame catalog."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout. At 100 TB this is the
    difference between scanning everything and partition pruning:
    a filter on a partition column becomes a directory skip
    (`PartitionFilters` in the scan node), no file even opened."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
    drop_first: bool = False,
) -> None:
    """Bucketed (hash-clustered) table. Two tables bucketed on their
    join key with the same bucket count join WITHOUT a shuffle — the
    Exchange disappears from the plan. This is the storage-layout
    answer to the biggest recurring fact⋈fact cost at scale: pay the
    shuffle once at write time, amortize it over every downstream join.

    ``path`` makes it an external table; ``drop_first`` drops any stale
    catalog entry so repeated runs in one session re-register cleanly."""
    import re as _re

    # public API: validate the identifier before it reaches raw SQL
    # (round-3 advice — internal callers pre-sanitize, external ones
    # may not); dots allowed for db-qualified names
    if not _re.fullmatch(r"[A-Za-z0-9_]+(\.[A-Za-z0-9_]+)*", table):
        raise ValueError(f"invalid table identifier: {table!r}")
    if drop_first:
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_bucketed_external(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    num_buckets: int,
    sort_col: str | None = None,
) -> None:
    """`write_bucketed` with an explicit storage path + idempotent
    re-registration (kept as a named convenience wrapper)."""
    write_bucketed(
        df, table, bucket_col, num_buckets, sort_col=sort_col,
        path=path, drop_first=True,
    )


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """CSV scan with an EXPLICIT schema — never inferSchema at scale
    (inference is a full extra pass over 100 TB)."""
    return spark.read.schema(schema).option("header", "true").csv(path)


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-lines scan with an explicit schema (same rationale)."""
    return spark.read.schema(schema).json(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """X4 media ingestion: the `binaryFile` source — one row per file
    with (path, modificationTime, length, content binary). This is the
    production input path for multimodal columns: downstream decode /
    resize / frame-sample operators (operators/multimodal.py) consume
    the `content` column exactly like the synthetic media blobs.

    Scale notes: length/path/modificationTime come from the file
    LISTING, so a `length <= max_bytes` filter prunes before any byte
    is read (pushed to the source); content is only materialized for
    surviving rows. Partitioning is per-file — fine for media objects
    (one task decodes a bounded batch of files)."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.where(F.col("length") <= max_bytes)
    return df


def debug_sink(df: DataFrame, n: int = 20, truncate: bool = True) -> DataFrame:
    """S8 — the reference's DEBUG flag ("Print GeoJSON Features in
    logs", task.ts:76): log a bounded sample + schema, return the input
    unchanged so it drops into any pipeline."""
    df.printSchema()
    df.show(n, truncate=truncate)
    return df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as parquet
    (PushedFilters + ReadSchema in the scan node); the interchange
    format when the lake is Hive-era ORC instead of parquet."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC write (snappy by default)."""
    df.write.mode(mode).orc(path)


def observed(df: DataFrame, name: str, *metrics):
    """Attach named observation metrics (count/sum/min/max expressions)
    computed as a side effect of whatever action next runs the
    DataFrame — free pipeline telemetry (no extra scan, unlike a
    separate .agg() job). Returns (df, Observation); read
    ``observation.get`` AFTER an action. The operational layer the
    reference gets from CloudTAK invocation logs."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs
