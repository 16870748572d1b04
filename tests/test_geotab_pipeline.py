"""Golden tests for the rebuilt Geotab pipeline — each case targets one
of the faithfulness traps in SURVEY.md §4 (reference: task.ts:124-295).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from etl_geotab_spark.pipeline.geotab import geotab_pipeline, to_geojson_features

NOW = dt.datetime(2026, 1, 1, 12, 0, 0)

STATUS_SCHEMA = StructType(
    [
        StructField("device_id", StringType()),
        StructField("bearing", DoubleType()),
        StructField("latitude", DoubleType()),
        StructField("longitude", DoubleType()),
        StructField("speed", DoubleType()),
        StructField("date_time", TimestampType()),
        StructField("is_device_communicating", BooleanType()),
        StructField("is_driving", BooleanType()),
        StructField("driver_id", StringType()),
        StructField("groups", ArrayType(StringType())),
    ]
)

DEVICES_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("vehicle_identification_number", StringType()),
        StructField("license_state", StringType()),
        StructField("license_plate", StringType()),
        StructField("name", StringType()),
    ]
)

DRIVERS_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("first_name", StringType()),
        StructField("last_name", StringType()),
        StructField("phone_number", StringType()),
        StructField("designation", StringType()),
        StructField("comment", StringType()),
    ]
)


def mk_status(device_id, ts_offset_min=0, driver_id=None, speed=36.0):
    return (
        device_id,
        90.0,
        39.7,
        -104.9,
        speed,
        NOW - dt.timedelta(minutes=ts_offset_min),
        True,
        True,
        driver_id,
        ["g1"],
    )


def build(spark, statuses, devices, drivers, prefix=""):
    sdf = spark.createDataFrame(statuses, STATUS_SCHEMA)
    ddf = spark.createDataFrame(devices, DEVICES_SCHEMA)
    rdf = spark.createDataFrame(drivers, DRIVERS_SCHEMA)
    return geotab_pipeline(ddf, sdf, rdf, prefix=prefix, now=F.lit(NOW))


def test_inner_join_drops_devices_without_status(spark):
    # task.ts:236-237: infoMap miss → feature dropped
    out = build(
        spark,
        [mk_status("d1")],
        [
            ("d1", "VIN1", "CO", "ABC123", "Truck 1"),
            ("d2", "VIN2", "CO", "XYZ999", "Truck 2"),  # no status row
        ],
        [],
    )
    rows = out.collect()
    assert [r.id for r in rows] == ["geotab-d1"]


def test_dup_status_keys_last_wins(spark):
    # task.ts:221-224: Map.set overwrite — latest date_time wins, result
    # stays 1 row (Spark's default join would multiply).
    out = build(
        spark,
        [mk_status("d1", ts_offset_min=30, speed=10.0), mk_status("d1", ts_offset_min=5, speed=50.0)],
        [("d1", "VIN1", "CO", "ABC123", "Truck 1")],
        [],
    )
    rows = out.collect()
    assert len(rows) == 1
    assert abs(rows[0].speed - 50.0 * 0.277778) < 1e-9


def test_freshness_horizon_drops_stale(spark):
    # task.ts:265-267: dateTime <= now-1h → dropped (strict >)
    out = build(
        spark,
        [mk_status("d1", ts_offset_min=61), mk_status("d2", ts_offset_min=59)],
        [
            ("d1", "VIN1", "CO", "A", "Truck 1"),
            ("d2", "VIN2", "CO", "B", "Truck 2"),
        ],
        [],
    )
    assert [r.id for r in out.collect()] == ["geotab-d2"]


def test_js_falsy_coalesce_empty_string(spark):
    # task.ts:241-244: `|| 'US'` replaces '' as well as NULL
    out = build(
        spark,
        [mk_status("d1"), mk_status("d2")],
        [
            ("d1", "VIN1", "", "", ""),
            ("d2", "VIN2", None, None, None),
        ],
        [],
    )
    rows = {r.id: r for r in out.collect()}
    for rid in ("geotab-d1", "geotab-d2"):
        assert rows[rid].license_state == "US"
        assert rows[rid].license_plate == "Unknown"
        assert rows[rid].name == "No Name"


def test_callsign_fallback_uses_raw_values(spark):
    # task.ts:261-263: callsign = name ? name : `${state ?? 'US'}-${plate || 'Unknown'}`
    out = build(
        spark,
        [mk_status("d1"), mk_status("d2"), mk_status("d3")],
        [
            ("d1", "V", "CO", "ABC", "Named"),
            ("d2", "V", None, "ABC", ""),   # ''-name → fallback; null state → US
            ("d3", "V", "WY", "", None),    # ''-plate → Unknown
        ],
        [],
    )
    rows = {r.id: r.callsign for r in out.collect()}
    assert rows["geotab-d1"] == "Named"
    assert rows["geotab-d2"] == "US-ABC"
    assert rows["geotab-d3"] == "WY-Unknown"


def test_prefix_filter_applies_to_defaulted_name(spark):
    # task.ts:288-291 runs AFTER :244 defaulting — 'No ' prefix matches
    # devices whose name defaulted to 'No Name'.
    out = build(
        spark,
        [mk_status("d1"), mk_status("d2")],
        [("d1", "V", "CO", "A", None), ("d2", "V", "CO", "B", "Truck")],
        [],
        prefix="No ",
    )
    assert [r.id for r in out.collect()] == ["geotab-d1"]


def test_left_join_driver_fields_nullable(spark):
    # task.ts:248-258: driver match → fields set; miss/NULL key → NULLs
    out = build(
        spark,
        [
            mk_status("d1", driver_id="drv1"),
            mk_status("d2", driver_id=None),
            mk_status("d3", driver_id="ghost"),
        ],
        [
            ("d1", "V", "CO", "A", "T1"),
            ("d2", "V", "CO", "B", "T2"),
            ("d3", "V", "CO", "C", "T3"),
        ],
        [("drv1", "jdoe", "John", "Doe", "555", "Driver", "-")],
    )
    rows = {r.id: r for r in out.collect()}
    assert rows["geotab-d1"].driver_username == "jdoe"
    assert rows["geotab-d1"].driver_first_name == "John"
    assert rows["geotab-d2"].driver_username is None
    assert rows["geotab-d3"].driver_username is None


def test_geojson_feature_shape(spark):
    out = build(
        spark,
        [mk_status("d1", driver_id="drv1")],
        [("d1", "VIN1", "CO", "ABC123", "Truck 1")],
        [("drv1", "jdoe", "John", "Doe", "555", "Driver", "-")],
    )
    feats = to_geojson_features(out).collect()
    assert len(feats) == 1
    import json

    f = json.loads(feats[0].feature_json)
    assert f["type"] == "Feature"
    assert f["id"] == "geotab-d1"
    assert f["geometry"] == {"type": "Point", "coordinates": [-104.9, 39.7]}
    assert f["properties"]["callsign"] == "Truck 1"
    assert f["properties"]["metadata"]["vin"] == "VIN1"
    assert f["properties"]["metadata"]["driverUsername"] == "jdoe"


def test_schema_introspection(spark):
    """Entry 3 parity (task.ts:109-122): input config schema is static,
    output contract derives from the real feature DataFrame."""
    from etl_geotab_spark.pipeline.geotab import (
        INPUT_SCHEMA,
        geotab_pipeline,
        output_schema,
    )
    from etl_geotab_spark.sources.geotab import (
        device_status_relational,
        devices_relational,
        drivers_relational,
        register_geotab_source,
    )
    from pyspark.sql import functions as F

    assert "GEOTAB_USERNAME" in INPUT_SCHEMA["required"]
    register_geotab_source(spark)

    def read(entity):
        return (
            spark.read.format("geotab")
            .option("typename", entity)
            .option("transport", "fake")
            .option("sessionid", "s")
            .load()
        )

    features = geotab_pipeline(
        devices_relational(read("Device")),
        device_status_relational(read("DeviceStatusInfo")),
        drivers_relational(read("User")),
        now=F.lit("2024-01-01T22:00:00Z").cast("timestamp"),
        freshness="24 HOURS",
    )
    out = output_schema(features)
    # the six driver* fields of SchemaOutput (task.ts:85-90)
    for f in (
        "driver_username",
        "driver_first_name",
        "driver_last_name",
        "driver_phone",
        "driver_designation",
        "driver_comment",
    ):
        assert f in out["properties"]
    assert out["properties"]["geometry"]["type"] == "object"
    assert out["properties"]["speed"]["type"] == "number"


def _py4j_round_trips(fn) -> int:
    """py4j commands Python sends to the JVM while ``fn`` runs."""
    import py4j.clientserver as cs

    sent = 0
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        nonlocal sent
        sent += 1
        return send(self, command)

    cs.ClientServerConnection.send_command = counting
    try:
        fn()
    finally:
        cs.ClientServerConnection.send_command = send
    return sent


def test_repeat_build_is_cheap(spark):
    """The tick's constant expressions are built once per JVM
    (``session.per_jvm``): rebuilding the pipeline and the GeoJSON
    projection over the same three frames crosses into the JVM only for
    the per-tick parts (``now``, the horizon, the prefix, the joins and
    the DataFrame operations). Rebuilding every Column with call-site
    capture on took about 2,300 round trips."""
    sdf = spark.createDataFrame(
        [mk_status("d1", driver_id="drv1"), mk_status("d1", ts_offset_min=9)],
        STATUS_SCHEMA,
    )
    ddf = spark.createDataFrame([("d1", "VIN1", "CO", "ABC123", "Truck 1")], DEVICES_SCHEMA)
    rdf = spark.createDataFrame(
        [("drv1", "jdoe", "John", "Doe", "555", "Driver", "-")], DRIVERS_SCHEMA
    )
    built = []

    def build_once():
        feats = geotab_pipeline(ddf, sdf, rdf, now=F.lit(NOW))
        built.append(to_geojson_features(feats))

    build_once()
    assert _py4j_round_trips(build_once) <= 250
    first, second = ([r.feature_json for r in df.collect()] for df in built)
    assert first == second and len(first) == 1


_NEW_SESSION_SCRIPT = """
import sys
sys.path[:0] = [{repo!r}, {repo!r} + "/tools"]
import check_oracle
from etl_geotab_spark import queries as q
from etl_geotab_spark.pipeline.geotab import _feature_columns
from etl_geotab_spark.session import get_spark

def tick(spark):
    rows = q.queries()["geotab_connector_pipeline"](spark, {sf!r}).collect()
    return sorted(tuple(r) for r in rows)

spark = get_spark("per-jvm-memo", master="local[2]", shuffle_partitions=4)
first = tick(spark)
memo = _feature_columns()
spark.stop()
spark = get_spark("per-jvm-memo", master="local[2]", shuffle_partitions=4)
assert _feature_columns() is memo, "a new session on the same JVM rebuilt the memo"
second = tick(spark)
assert second == first, "the second session's tick differs from the first's"
con = check_oracle.connect({sf!r})
problems = check_oracle.compare(spark, con, "geotab_connector_pipeline", {sf!r})
assert not problems, problems
print("MEMO_OK", len(first))
spark.stop()
"""


def test_memo_survives_a_new_session(sf_dir):
    """Columns memoized by one session serve the next session on the
    same JVM: a tick, ``spark.stop()``, ``get_spark()`` and a second
    tick give the first tick's features and pass the connector oracle.
    A subprocess, so stopping its session leaves the suite's alone."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION_SCRIPT.format(repo=repo, sf=sf_dir)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=repo,
    )
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-4000:])
    assert "MEMO_OK" in r.stdout, r.stdout[-2000:]
