"""The reference pipeline rebuilt as a composition of engine operators.

Reference: /root/reference/task.ts:124-295 (``control()``). The whole
TypeScript dataflow — 3 scans → hash joins → project/filter → GeoJSON —
expressed as ONE declarative DataFrame plan. Catalyst gets to push
filters into the scans and pick broadcast joins; the reference did both
by hand (CHANGELOG v2.5/2.6 pushdown, in-memory Maps).

Faithfulness traps handled (SURVEY.md §4):
1. dup join keys: reference's ``Map.set`` keeps the LAST info row per
   device (task.ts:221-224) → dedup_latest(max_by) before the join.
2. JS falsy ``||``: NULL **and** '' both default (task.ts:241-244)
   → js_coalesce.
3. ISO-8601 Z parsing (task.ts:265) → session tz UTC.
4. prefix filter runs on the post-default name (task.ts:288-291 after
   :244); empty prefix matches all.
5. union-typed ``driver`` (task.ts:25-31): normalized upstream to a
   nullable driver_id column; NULL ⇒ no probe (task.ts:248).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, DataFrameReader
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from etl_geotab_spark.blocks import release_checkpoint
from etl_geotab_spark.functions.scalar import (
    callsign,
    geojson_point,
    js_coalesce,
    kmh_to_ms,
    surrogate_key,
)
from etl_geotab_spark.operators.dedup import dedup_latest
from etl_geotab_spark.session import per_jvm


def geotab_pipeline(
    devices: DataFrame,
    device_status: DataFrame,
    drivers: DataFrame,
    prefix: str = "",
    now: Column | None = None,
    freshness: str = "1 HOUR",
) -> DataFrame:
    """devices ⋈ latest-status ⟕ drivers → TAK feature rows.

    Schemas per FIXTURES.md §B (relational flattening of the wire
    schemas at task.ts:12-55). ``now`` defaults to current_timestamp();
    tests pass a literal for determinism.

    Plan shape at scale: status is the big fact (per-ping telemetry);
    dedup_latest is one hash agg on device_id; devices/drivers are
    dims → broadcast hash joins; all filters are pushdown-eligible.
    """
    now = now if now is not None else F.current_timestamp()
    horizon = now - F.expr(f"INTERVAL {freshness}")

    # A1 dedup-latest: Map.set overwrite semantics (task.ts:221-224),
    # deterministic tiebreak on device_id ordering within equal ts.
    latest_status = dedup_latest(
        device_status, ["device_id"], "date_time", tiebreak_cols=[]
    )

    # P11 freshness: strict '>' — reference drops rows where
    # dateTime <= hourAgo (task.ts:265-267). Applied pre-join: it
    # prunes the fact side before the shuffle/broadcast.
    fresh = latest_status.where(F.col("date_time") > horizon)

    # J1 inner equi-join devices ⋈ info (probe miss → dropped,
    # task.ts:236-237, 286-288). Devices is the dim → broadcast.
    joined = fresh.join(
        broadcast(devices), on=fresh.device_id == devices.id, how="inner"
    )

    # J2 left join to drivers via nullable driver_id (task.ts:248-258);
    # NULL key yields no match = reference's string-sentinel skip (J3).
    d = drivers.select(*_driver_columns())
    joined = joined.join(
        broadcast(d), on=joined.driver_id == d._drv_id, how="left"
    )

    out = joined.select(*_feature_columns())

    # P10 prefix filter — on the POST-default name (task.ts:288-291);
    # startswith('') is true, matching JS.
    return out.where(F.col("name").startswith(F.lit(prefix)))


# The constant projections of the tick, built once per JVM: only ``now``,
# the freshness horizon, the prefix and the two join conditions change
# from one tick to the next (SCALE.md §7).


@per_jvm
def _driver_columns() -> tuple[Column, ...]:
    return (
        F.col("id").alias("_drv_id"),
        F.col("name").alias("driver_username"),
        F.col("first_name").alias("driver_first_name"),
        F.col("last_name").alias("driver_last_name"),
        F.col("phone_number").alias("driver_phone"),
        F.col("designation").alias("driver_designation"),
        F.col("comment").alias("driver_comment"),
    )


@per_jvm
def _feature_columns() -> tuple[Column, ...]:
    return (
        # P6 surrogate key (task.ts:270)
        surrogate_key("geotab-", "device_id").alias("id"),
        # P4 callsign: raw (pre-default) name/state/plate (task.ts:261-263)
        callsign("name", "license_state", "license_plate").alias("callsign"),
        F.col("bearing").alias("course"),
        F.col("date_time").alias("start"),
        # P5 unit conversion (task.ts:276)
        kmh_to_ms("speed").alias("speed"),
        # P7 geometry (task.ts:279-282)
        geojson_point("longitude", "latitude").alias("geometry"),
        # P2/P3 metadata projection with JS-falsy defaults (task.ts:239-245)
        F.col("vehicle_identification_number").alias("vin"),
        js_coalesce("name", "No Name").alias("name"),
        js_coalesce("license_state", "US").alias("license_state"),
        js_coalesce("license_plate", "Unknown").alias("license_plate"),
        F.col("groups"),
        F.col("driver_username"),
        F.col("driver_first_name"),
        F.col("driver_last_name"),
        F.col("driver_phone"),
        F.col("driver_designation"),
        F.col("driver_comment"),
    )


def read_geotab(
    source,
    entity: str,
    groups: tuple[str, ...],
    transport: str,
    session_id: str,
    **opts: str,
) -> DataFrame:
    """One Geotab entity scan, batch or streaming: ``source`` is
    ``spark.read`` or ``spark.readStream``; ``opts`` are further reader
    options. The wire schemas are fixed constants (task.ts:12-55), and
    passing them explicitly skips a Python-planner round trip per load
    (the DataSource.schema() call runs in a planner worker).

    A batch scan packs its groups into at most ``defaultParallelism //
    3`` partitions (at least 1), one ``Get`` per partition: a tick runs
    three scans concurrently, so together they fill the cluster's slots
    at most once — the rule Spark uses to pack small files into about
    ``defaultParallelism`` splits. A task per group would pay the fixed
    JVM↔Python crossing cost once per group for a handful of rows
    (SCALE.md §7)."""
    from etl_geotab_spark.sources.geotab import _SCHEMAS

    options = {
        "typename": entity,
        "transport": transport,
        "sessionid": session_id,
        "groups": ",".join(groups),
    }
    if isinstance(source, DataFrameReader):
        slots = source._spark.sparkContext.defaultParallelism
        options["maxpartitions"] = str(max(1, slots // 3))
    options.update(opts)
    return source.format("geotab").schema(_SCHEMAS[entity]).options(**options).load()


def run_connector_pipeline(
    spark,
    groups: tuple[str, ...] = ("g1", "g2", "g3", "g4"),
    transport: str = "fake",
    session_id: str = "session-bench",
    now: Column | None = None,
    freshness: str = "1 HOUR",
    prefix: str = "",
    debug: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """The reference's full ``control()`` dataflow (task.ts:124-295)
    end-to-end through the connector: three JSON-RPC entity scans
    (pushdown; each a few multi-group ``Get`` partitions) →
    wire→relational adapters → ``geotab_pipeline`` → feature rows.

    Each scan is sized by ``read_geotab``: at most
    ``defaultParallelism // 3`` partitions, one ``Get`` each.

    ``materialize`` (default on) runs the three scans CONCURRENTLY and
    snapshots each into executor storage (``localCheckpoint``) before
    the joins — the Spark shape of the reference's ``Promise.all``
    fetch into in-memory Maps (task.ts:147-218). Three wins: (1) the
    three scans' driver-side Python planning and their jobs run in
    parallel instead of serially inside one action; (2) the API is hit exactly once per entity per
    invocation even if the downstream plan re-executes (retried stage,
    multiple actions) — re-pulling a live RPC source mid-job could mix
    two snapshot times into one result; (3) a lost block fails hard
    instead of silently refetching a NEWER snapshot, which is the
    failure semantic a snapshot-consistent fetch wants (the reference's
    in-memory Maps fail the same way). RPC responses are fleet-bounded
    (one row per device/driver), so the materialization is small by
    construction. If one fetch fails, the checkpoints the others
    completed are released before the error propagates. Pass
    ``materialize=False`` to keep the fully lazy single-plan form (used
    by plan-shape tests that assert pushdown).

    ``debug`` is the reference's DEBUG flag ("Print GeoJSON Features
    in logs", task.ts:76): when set, the feature frame is routed
    through ``io.debug_sink`` (bounded sample + schema to the logs)
    before being returned — observability without changing the result.
    """
    from etl_geotab_spark.sources.geotab import (
        device_status_relational,
        devices_relational,
        drivers_relational,
        register_geotab_source,
    )

    register_geotab_source(spark)  # also turns on the pushdown gate conf
    fleet = (groups, transport, session_id)
    fetches = [
        ("DeviceStatusInfo", device_status_relational, {}),
        ("Device", devices_relational, {"excludeuntrackedassets": "true"}),
        ("User", drivers_relational, {}),
    ]
    if materialize:
        from concurrent.futures import ThreadPoolExecutor

        def fetch(spec):
            entity, adapter, opts = spec
            scan = read_geotab(spark.read, entity, *fleet, **opts)
            return adapter(scan).localCheckpoint(eager=True)

        with ThreadPoolExecutor(len(fetches)) as ex:
            futures = [ex.submit(fetch, spec) for spec in fetches]
        done = [f.result() for f in futures if f.exception() is None]
        if len(done) < len(futures):
            for checkpoint in done:
                release_checkpoint(checkpoint)
            raise next(f.exception() for f in futures if f.exception() is not None)
        status, devices, drivers = done
    else:
        status, devices, drivers = (
            adapter(read_geotab(spark.read, entity, *fleet, **opts))
            for entity, adapter, opts in fetches
        )
    feats = geotab_pipeline(
        devices, status, drivers, prefix=prefix, now=now, freshness=freshness
    )
    if debug:
        from etl_geotab_spark.io import debug_sink

        feats = debug_sink(feats)
    return feats


def to_geojson_features(features: DataFrame) -> DataFrame:
    """S7 sink shape: one JSON string per feature, matching the
    reference's Feature envelope (task.ts:269-285). Use
    ``collect_features_json`` for the FeatureCollection document."""
    return features.select(*_feature_json_columns())


@per_jvm
def _feature_json_columns() -> tuple[Column, ...]:
    props = F.struct(
        F.col("callsign"),
        F.col("course"),
        F.date_format(F.col("start"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias("start"),
        F.col("speed"),
        F.struct(
            F.col("vin"),
            F.col("name"),
            F.col("license_state").alias("licenseState"),
            F.col("license_plate").alias("licensePlate"),
            F.col("groups"),
            F.col("driver_username").alias("driverUsername"),
            F.col("driver_first_name").alias("driverFirstName"),
            F.col("driver_last_name").alias("driverLastName"),
            F.col("driver_phone").alias("driverPhone"),
            F.col("driver_designation").alias("driverDesignation"),
            F.col("driver_comment").alias("driverComment"),
        ).alias("metadata"),
    )
    feature = F.struct(
        F.col("id"),
        F.lit("Feature").alias("type"),
        props.alias("properties"),
        F.col("geometry"),
    )
    return (
        F.col("id"),
        F.to_json(feature, {"ignoreNullFields": "false"}).alias("feature_json"),
    )


# ------------------------------------------------- schema introspection
# Entry 3 of the reference (task.ts:109-122): the hosting platform asks
# the task for its Input (config UI) and Output (metadata contract)
# JSON Schema. Engine equivalent: declare both as JSON-Schema dicts so
# an orchestrator can render config and validate downstream contracts.

INPUT_SCHEMA = {
    # mirrors SchemaInput (task.ts:64-77)
    "type": "object",
    "properties": {
        "GEOTAB_USERNAME": {"type": "string"},
        "GEOTAB_PASSWORD": {"type": "string"},
        "GEOTAB_DATABASE": {"type": "string", "default": ""},
        "GEOTAB_API": {
            "type": "string",
            "default": "https://gov.geotabgov.us/",
        },
        "GEOTAB_GROUPS": {
            "type": "array",
            "items": {"type": "string"},
            "description": "server-side group pushdown filter",
        },
        "GEOTAB_PREFIX": {"type": "string", "default": ""},
        "DEBUG": {"type": "boolean", "default": False},
    },
    "required": ["GEOTAB_USERNAME", "GEOTAB_PASSWORD"],
}


def output_schema(features: DataFrame) -> dict:
    """Output contract (SchemaOutput, task.ts:79-91) derived from the
    ACTUAL feature DataFrame schema — unlike the reference, the
    declared contract cannot drift from what the pipeline emits."""

    def field(t) -> dict:
        from pyspark.sql import types as T

        if isinstance(t, T.StructType):
            return {
                "type": "object",
                "properties": {f.name: field(f.dataType) for f in t.fields},
            }
        if isinstance(t, T.ArrayType):
            return {"type": "array", "items": field(t.elementType)}
        if isinstance(t, (T.DoubleType, T.FloatType, T.DecimalType)):
            return {"type": "number"}
        if isinstance(t, (T.LongType, T.IntegerType)):
            return {"type": "integer"}
        if isinstance(t, T.BooleanType):
            return {"type": "boolean"}
        return {"type": "string"}

    return {
        "type": "object",
        "properties": {
            f.name: field(f.dataType) for f in features.schema.fields
        },
    }
