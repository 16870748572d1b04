"""Connector layer tests (SURVEY.md §2.1 S1-S5, S7) — no network: the
``fake`` transport is a deterministic in-process Geotab simulator that
honors the same server-side search semantics the reference relies on.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan

from etl_geotab_spark.pipeline.geotab import geotab_pipeline, to_geojson_features
from etl_geotab_spark.sources.geotab import (
    DEVICE_STATUS_INFO_SCHEMA,
    GeotabCredentialCache,
    GeotabReader,
    device_status_relational,
    devices_relational,
    drivers_relational,
    register_geotab_source,
)


@pytest.fixture()
def geotab(spark):
    register_geotab_source(spark)
    return spark


def _read(spark, type_name, **opts):
    r = (
        spark.read.format("geotab")
        .option("typename", type_name)
        .option("transport", "fake")
        .option("sessionid", "session-test")
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_scan_all_entities(geotab):
    for entity in ("DeviceStatusInfo", "User", "Device"):
        df = _read(geotab, entity)
        assert df.count() > 0


def test_partition_per_group(geotab):
    df = _read(geotab, "Device", groups="g1,g2,g3")
    assert df.rdd.getNumPartitions() == 3
    # group-membership pruning: only requested groups are fetched
    rows = df.collect()
    ids = {r.id.rsplit("-", 2)[1] for r in rows}
    assert ids == {"g1", "g2", "g3"}
    # packed: the same groups in 2 partitions fetch the same rows
    packed = _read(geotab, "Device", groups="g1,g2,g3", maxpartitions="2")
    assert packed.rdd.getNumPartitions() == 2
    assert sorted(packed.collect()) == sorted(rows)


def test_packed_partition_issues_one_get():
    """Each partition of a packed scan is ONE multi-group ``Get`` whose
    ``search.groups`` lists that partition's contiguous chunk."""
    from etl_geotab_spark.sources.geotab import (
        DEVICE_SCHEMA,
        TRANSPORTS,
        _fake_transport,
    )

    gets: list[list[str]] = []

    def counting(endpoint, payload):
        assert payload["method"] == "Get"
        gets.append([g["id"] for g in payload["params"]["search"]["groups"]])
        return _fake_transport(endpoint, payload)

    TRANSPORTS["_test_counting"] = counting
    try:
        reader = GeotabReader(
            DEVICE_SCHEMA,
            {
                "typename": "Device",
                "transport": "_test_counting",
                "groups": "g1,g2,g3,g4,g5",
                "maxpartitions": "2",
            },
        )
        parts = reader.partitions()
        assert [p.groups for p in parts] == [("g1", "g2"), ("g3", "g4", "g5")]
        for part in parts:
            gets.clear()
            rows = list(reader.read(part))
            assert rows and gets == [list(part.groups)]
    finally:
        del TRANSPORTS["_test_counting"]


def test_stream_poll_is_one_get():
    """A stream poll reads every group with a single ``Get``."""
    from etl_geotab_spark.sources.geotab import (
        DEVICE_SCHEMA,
        TRANSPORTS,
        GeotabStreamReader,
        _fake_transport,
    )

    gets: list[list[str]] = []

    def counting(endpoint, payload):
        gets.append([g["id"] for g in payload["params"]["search"]["groups"]])
        return _fake_transport(endpoint, payload)

    TRANSPORTS["_test_stream_counting"] = counting
    try:
        reader = GeotabStreamReader(
            DEVICE_SCHEMA,
            {"typename": "Device", "transport": "_test_stream_counting", "groups": "g1,g2,g3"},
        )
        rows, offset = reader.read(reader.initialOffset())
        assert list(rows) and offset == {"poll": 1}
    finally:
        del TRANSPORTS["_test_stream_counting"]
    assert gets == [["g1", "g2", "g3"]]


@pytest.mark.parametrize("bad", ["0", "-1", "x"])
def test_maxpartitions_must_be_positive_int(bad):
    from etl_geotab_spark.sources.geotab import DEVICE_SCHEMA

    with pytest.raises(ValueError, match="maxpartitions"):
        GeotabReader(
            DEVICE_SCHEMA,
            {"typename": "Device", "groups": "g1,g2", "maxpartitions": bad},
        )


def test_fake_multi_group_get_concatenates_single_group_gets():
    """The oracle replay (``_fake_wire_rows``) issues one Get over all
    groups; that equals the reader's per-chunk Gets only because the
    fake answers a multi-group search with the concatenation of its
    single-group answers."""
    from etl_geotab_spark.sources.geotab import _fake_transport

    def get(*groups):
        return _fake_transport(
            "",
            {
                "method": "Get",
                "params": {
                    "typeName": "DeviceStatusInfo",
                    "credentials": {"sessionId": "s"},
                    "search": {"groups": [{"id": g} for g in groups]},
                },
            },
        )["result"]

    assert get("g1", "g2") == get("g1") + get("g2")


def test_filter_pushdown_translates_to_search(geotab):
    """pushFilters → RPC search payload (task.ts:176 isDriver), and the
    unsupported remainder is returned for Spark to re-apply."""
    reader = GeotabReader(
        DEVICE_STATUS_INFO_SCHEMA, {"typename": "User", "transport": "fake"}
    )
    unsupported = list(
        reader.pushFilters(
            [EqualTo(("isDriver",), True), GreaterThan(("name",), "m")]
        )
    )
    assert reader._search == {"isDriver": True}
    assert unsupported == [GreaterThan(("name",), "m")]


def test_filter_pushdown_end_to_end(geotab):
    # independent reads: Spark reuses the reader instance within one
    # DataFrame lineage, so pushed filters belong to that scan only
    total = _read(geotab, "User", groups="g1,g2,g3").count()
    rows = (
        _read(geotab, "User", groups="g1,g2,g3").where(F.col("isDriver")).collect()
    )
    assert rows and all(r.isDriver for r in rows)
    assert len(rows) < total  # g1-g3 contain 4 non-drivers


def test_union_driver_normalized_to_nullable_struct(geotab):
    """§4 trap 5: the wire 'driver' is string-sentinel | struct; the
    connector maps the sentinel to NULL (task.ts:248 semantics)."""
    df = _read(geotab, "DeviceStatusInfo")
    rows = df.select("driver").collect()
    assert any(r.driver is None for r in rows)
    assert any(r.driver is not None and r.driver.id for r in rows)


def test_transport_retry_recovers_one_5xx():
    """round-4 VERDICT #6: one transient 5xx mid-scan is absorbed by
    the RPC-boundary retry (exponential backoff, injected sleep)."""
    import urllib.error

    from etl_geotab_spark.sources.geotab import (
        _fake_transport,
        call_with_retry,
    )

    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky(endpoint, payload):
        calls["n"] += 1
        if calls["n"] == 1:
            raise urllib.error.HTTPError(endpoint, 503, "boom", None, None)
        return _fake_transport(endpoint, payload)

    resp = call_with_retry(
        flaky,
        "",
        {
            "method": "Get",
            "params": {
                "typeName": "Device",
                "credentials": {"sessionId": "s", "database": "db"},
            },
        },
        sleep=sleeps.append,
    )
    assert calls["n"] == 2 and resp["result"]
    assert sleeps == [0.5]  # backoff_s * 2^0


def test_transport_retry_never_blind_retries_4xx():
    """4xx is semantic, not transient — fail fast, zero retries."""
    import urllib.error

    from etl_geotab_spark.sources.geotab import call_with_retry

    calls = {"n": 0}

    def bad_request(endpoint, payload):
        calls["n"] += 1
        raise urllib.error.HTTPError(endpoint, 400, "bad", None, None)

    with pytest.raises(urllib.error.HTTPError):
        call_with_retry(bad_request, "", {}, sleep=lambda s: None)
    assert calls["n"] == 1


def test_transport_retry_bounded():
    """A persistent outage exhausts the budget and raises (never loops
    forever): retries=3 ⇒ exactly 4 attempts, backoff doubling."""
    import urllib.error

    from etl_geotab_spark.sources.geotab import call_with_retry

    calls = {"n": 0}
    sleeps: list[float] = []

    def down(endpoint, payload):
        calls["n"] += 1
        raise urllib.error.HTTPError(endpoint, 502, "down", None, None)

    with pytest.raises(urllib.error.HTTPError):
        call_with_retry(down, "", {}, retries=3, sleep=sleeps.append)
    assert calls["n"] == 4
    assert sleeps == [0.5, 1.0, 2.0]


def test_ssl_cert_failure_not_retried():
    """round-5 ADVICE: a URLError wrapping an SSL certificate failure
    is a configuration problem — it must surface on attempt 1, not
    burn the whole backoff budget."""
    import ssl
    import urllib.error

    from etl_geotab_spark.sources.geotab import call_with_retry

    calls = {"n": 0}

    def bad_cert(endpoint, payload):
        calls["n"] += 1
        raise urllib.error.URLError(ssl.SSLCertVerificationError(1, "boom"))

    with pytest.raises(urllib.error.URLError):
        call_with_retry(bad_cert, "", {}, retries=3, sleep=lambda s: None)
    assert calls["n"] == 1

    # a DNS-ish URLError (non-SSL reason) is still transient
    calls["n"] = 0

    def dns_blip(endpoint, payload):
        calls["n"] += 1
        raise urllib.error.URLError(OSError("temporary failure"))

    with pytest.raises(urllib.error.URLError):
        call_with_retry(dns_blip, "", {}, retries=2, sleep=lambda s: None)
    assert calls["n"] == 3


def test_semantic_error_does_not_relogin():
    """round-5 ADVICE: relogin is gated on CREDENTIAL errors only — a
    semantic JSON-RPC error (unknown typeName, bad search) raises
    immediately without a wasted Authenticate + re-Get, even when a
    password is configured."""
    from etl_geotab_spark.sources.geotab import (
        DEVICE_SCHEMA,
        TRANSPORTS,
        _GroupPartition,
    )

    log: list[str] = []

    def semantic_error(endpoint, payload):
        log.append(payload["method"])
        return {"error": {"message": "UnknownTypeNameException: Bogus"}}

    TRANSPORTS["_test_semantic"] = semantic_error
    try:
        reader = GeotabReader(
            DEVICE_SCHEMA,
            {
                "typename": "Device",
                "transport": "_test_semantic",
                "username": "u",
                "password": "pw",
            },
        )
        with pytest.raises(RuntimeError, match="UnknownTypeName"):
            list(reader.read(_GroupPartition(("g1",))))
    finally:
        del TRANSPORTS["_test_semantic"]
    assert log == ["Get"]  # no Authenticate, no second Get


def test_submit_carries_stable_idempotency_key():
    """round-5 ADVICE (medium): Submit is not idempotent, so delivery
    is at-least-once by contract — every attempt must carry a
    CONTENT-derived idempotencyKey that is identical across retries of
    the same partition payload, letting a dedup-capable receiver
    collapse replays."""
    from pyspark.sql import Row

    from etl_geotab_spark.sources.geotab import (
        TRANSPORTS,
        GeotabRestWriter,
    )

    keys: list[str] = []
    fail_first = {"left": 1}

    def flaky_submit(endpoint, payload):
        assert payload["method"] == "Submit"
        keys.append(payload["params"]["idempotencyKey"])
        if fail_first["left"]:
            fail_first["left"] -= 1
            raise ConnectionResetError("mid-response drop")
        return {"result": {"accepted": True}}

    TRANSPORTS["_test_flaky_submit"] = flaky_submit
    try:
        writer = GeotabRestWriter({"transport": "_test_flaky_submit"})
        rows = [Row(id="a", lat=1.0), Row(id="b", lat=2.0)]
        msg = writer.write(iter(rows))
    finally:
        del TRANSPORTS["_test_flaky_submit"]
    assert msg.features_posted == 2
    assert len(keys) == 2 and keys[0] == keys[1]  # retry reused the key
    # a different payload gets a different key
    TRANSPORTS["_test_keys"] = lambda e, p: (
        keys.append(p["params"]["idempotencyKey"]),
        {"result": {"accepted": True}},
    )[1]
    try:
        writer = GeotabRestWriter({"transport": "_test_keys"})
        writer.write(iter([Row(id="c", lat=3.0)]))
    finally:
        del TRANSPORTS["_test_keys"]
    assert keys[2] != keys[0]


def test_scan_relogin_on_expired_session():
    """round-4 VERDICT #6: a session that dies mid-scan triggers ONE
    executor-side re-login (password provided), then the Get is
    re-issued with the fresh session — the scan recovers in-place
    instead of failing the stage."""
    from etl_geotab_spark.sources.geotab import (
        DEVICE_SCHEMA,
        TRANSPORTS,
        _GroupPartition,
        _fake_transport,
    )

    log: list[str] = []

    def expiring(endpoint, payload):
        method = payload["method"]
        log.append(method)
        if method == "Get" and payload["params"]["credentials"][
            "sessionId"
        ] == "stale-session":
            return {"error": {"message": "InvalidUserException"}}
        return _fake_transport(endpoint, payload)

    TRANSPORTS["_test_expiring"] = expiring
    try:
        reader = GeotabReader(
            DEVICE_SCHEMA,
            {
                "typename": "Device",
                "transport": "_test_expiring",
                "sessionid": "stale-session",
                "username": "u",
                "password": "pw",
            },
        )
        rows = list(reader.read(_GroupPartition(("g1",))))
    finally:
        del TRANSPORTS["_test_expiring"]
    assert rows  # recovered: fresh session returned data
    assert log == ["Get", "Authenticate", "Get"]


def test_scan_without_password_fails_fast_on_dead_session():
    """No password option ⇒ no relogin path: the dead session is a
    hard error (reference behavior: platform-level retry)."""
    from etl_geotab_spark.sources.geotab import (
        DEVICE_SCHEMA,
        TRANSPORTS,
        _GroupPartition,
    )

    def always_invalid(endpoint, payload):
        return {"error": {"message": "InvalidUserException"}}

    TRANSPORTS["_test_invalid"] = always_invalid
    try:
        reader = GeotabReader(
            DEVICE_SCHEMA,
            {"typename": "Device", "transport": "_test_invalid"},
        )
        with pytest.raises(RuntimeError, match="InvalidUserException"):
            list(reader.read(_GroupPartition(("g1",))))
    finally:
        del TRANSPORTS["_test_invalid"]


def test_credential_cache_avoids_relogin():
    cache = GeotabCredentialCache("fake", "https://example.test/")
    c1 = cache.credentials("user", "pw", "db")
    c2 = cache.credentials("user", "pw", "db")
    assert c1 == c2 and cache.login_count == 1
    cache.invalidate()
    cache.credentials("user", "pw", "db")
    assert cache.login_count == 2


class _ExpiringTransport:
    """Stateful server double: sessions issued before ``expire_all()``
    answer every authenticated RPC with InvalidUserException — the
    server-side expiry the reference's user() probe exists to detect
    (task.ts:127-143, 301-324)."""

    def __init__(self):
        from etl_geotab_spark.sources.geotab import _fake_transport

        self._inner = _fake_transport
        self.generation = 0
        self.issued: dict[str, int] = {}
        self.calls: list[str] = []

    def __call__(self, endpoint, payload):
        method = payload.get("method")
        self.calls.append(method)
        if method == "Authenticate":
            resp = self._inner(endpoint, payload)
            sid = (
                resp["result"]["credentials"]["sessionId"]
                + f"-g{self.generation}"
            )
            resp["result"]["credentials"]["sessionId"] = sid
            self.issued[sid] = self.generation
            return resp
        sid = payload.get("params", {}).get("credentials", {}).get("sessionId")
        if self.issued.get(sid) != self.generation:
            return {"error": {"message": "InvalidUserException"}}
        return self._inner(endpoint, payload)

    def expire_all(self):
        self.generation += 1


def test_cache_probe_reauths_on_server_side_expiry():
    """task.ts:127-143: cached creds are trusted only after the user()
    probe; a dead session triggers exactly one silent re-login and the
    retried call succeeds with the fresh session."""
    server = _ExpiringTransport()
    cache = GeotabCredentialCache(server, "https://example.test/", probe=True)

    c1 = cache.credentials("user", "pw", "db")
    assert cache.login_count == 1 and cache.probe_count == 0  # cold: no probe

    c2 = cache.credentials("user", "pw", "db")
    assert c2 == c1 and cache.login_count == 1 and cache.probe_count == 1

    server.expire_all()  # session dies server-side
    c3 = cache.credentials("user", "pw", "db")
    assert cache.login_count == 2  # exactly one re-login
    assert c3["sessionId"] != c1["sessionId"]

    # retry with the fresh session succeeds
    resp = server(
        "https://example.test/",
        {
            "method": "Get",
            "params": {"typeName": "Device", "credentials": c3},
        },
    )
    assert "error" not in resp and resp["result"]

    # and the failed-probe → Authenticate sequence is what hit the wire
    assert server.calls[-3:] == ["Get", "Authenticate", "Get"]


def test_cache_ttl_expiry_relogins_without_probe():
    """Client-side TTL horizon: a stale-by-age cache skips the probe
    entirely and goes straight to Authenticate."""
    server = _ExpiringTransport()
    cache = GeotabCredentialCache(
        server, "https://example.test/", ttl_s=0.0, probe=True
    )
    cache.credentials("user", "pw", "db")
    cache.credentials("user", "pw", "db")
    assert cache.login_count == 2 and cache.probe_count == 0


def test_rest_sink_posts_all_features(geotab, tmp_path):
    ack = str(tmp_path / "ack.json")
    df = _read(geotab, "Device", groups="g1,g2")
    n = df.count()
    (
        df.write.format("geotab")
        .option("transport", "fake")
        .option("ackpath", ack)
        .mode("append")
        .save()
    )
    with open(ack) as f:
        assert json.load(f)["features_posted"] == n


def test_connector_to_pipeline_end_to_end(geotab):
    """Full reference dataflow through the connector: 3 scans →
    adapters → geotab_pipeline → GeoJSON features (task.ts:124-295)."""
    status = device_status_relational(
        _read(geotab, "DeviceStatusInfo", groups="g1,g2")
    )
    devices = devices_relational(_read(geotab, "Device", groups="g1,g2"))
    drivers = drivers_relational(_read(geotab, "User"))
    features = geotab_pipeline(
        devices,
        status,
        drivers,
        now=F.lit("2024-01-01T22:00:00Z").cast("timestamp"),
        freshness="24 HOURS",
    )
    rows = features.collect()
    assert rows
    assert all(r.id.startswith("geotab-dev-") for r in rows)
    # geometry is a GeoJSON Point struct
    assert all(r.geometry.type == "Point" for r in rows)
    # serializable to the sink envelope
    js = to_geojson_features(features).collect()
    assert all('"type":"Feature"' in r.feature_json for r in js)


def test_streaming_source_emits_snapshot(geotab, tmp_path):
    """The scheduled-re-pull semantics as a streaming source: one poll
    per micro-batch, snapshot identical to the batch scan."""
    batch_count = _read(geotab, "Device", groups="g1,g2").count()
    stream = (
        geotab.readStream.format("geotab")
        .option("typename", "Device")
        .option("transport", "fake")
        .option("sessionid", "session-test")
        .option("groups", "g1,g2")
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("geotab_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = geotab.table("geotab_stream_test")
    assert got.count() == batch_count
    assert {r.id for r in got.collect()} == {
        r.id for r in _read(geotab, "Device", groups="g1,g2").collect()
    }


# ----------------------------------------- S5 durable credential store


def test_durable_store_survives_process_restart(tmp_path):
    """task.ts:127-143: credentials persisted in the ephemeral KV are
    reused by the NEXT invocation after a user() probe — here, a fresh
    cache instance (process-restart equivalent) loads the file, probes
    once, and performs zero logins."""
    server = _ExpiringTransport()
    store = str(tmp_path / "cred.json")
    c1 = GeotabCredentialCache(server, "https://example.test/", store_path=store)
    a = c1.credentials("user", "pw", "db")
    assert c1.login_count == 1

    c2 = GeotabCredentialCache(server, "https://example.test/", store_path=store)
    b = c2.credentials("user", "pw", "db")
    assert b == a
    assert c2.login_count == 0 and c2.probe_count == 1 and c2.store_hits == 1


def test_durable_store_reauths_when_persisted_session_dead(tmp_path):
    """A persisted session that died server-side while no process was
    running fails the load probe → exactly one silent re-login, and the
    FRESH session is re-persisted for the next process."""
    server = _ExpiringTransport()
    store = str(tmp_path / "cred.json")
    c1 = GeotabCredentialCache(server, "https://example.test/", store_path=store)
    a = c1.credentials("user", "pw", "db")

    server.expire_all()
    c2 = GeotabCredentialCache(server, "https://example.test/", store_path=store)
    b = c2.credentials("user", "pw", "db")
    assert c2.login_count == 1 and c2.store_hits == 0
    assert b["sessionId"] != a["sessionId"]

    c3 = GeotabCredentialCache(server, "https://example.test/", store_path=store)
    c = c3.credentials("user", "pw", "db")
    assert c == b and c3.login_count == 0 and c3.store_hits == 1


def test_durable_store_ignores_expired_and_corrupt(tmp_path):
    server = _ExpiringTransport()
    store = str(tmp_path / "cred.json")
    c1 = GeotabCredentialCache(
        server, "https://example.test/", ttl_s=0.0, store_path=store
    )
    c1.credentials("user", "pw", "db")
    # ttl 0 → persisted session is stale by age: next process re-auths
    c2 = GeotabCredentialCache(
        server, "https://example.test/", ttl_s=0.0, store_path=store
    )
    c2.credentials("user", "pw", "db")
    assert c2.login_count == 1 and c2.store_hits == 0

    with open(store, "w") as f:
        f.write("{not json")
    c3 = GeotabCredentialCache(server, "https://example.test/", store_path=store)
    c3.credentials("user", "pw", "db")
    assert c3.login_count == 1 and c3.store_hits == 0

    # invalidate() also clears the durable tier
    import os

    c3.invalidate()
    assert not os.path.exists(store)


# --------------------------------------------------- DEBUG flag plumbing


def test_debug_flag_routes_through_debug_sink(geotab, capsys):
    """task.ts:76 DEBUG ("Print GeoJSON Features in logs"): the
    connector pipeline entry logs a bounded feature sample + schema
    without changing the returned frame."""
    from pyspark.sql import functions as F
    from etl_geotab_spark.pipeline.geotab import run_connector_pipeline

    kw = dict(
        groups=("g1", "g2"),
        now=F.lit("2024-01-01T22:00:00Z").cast("timestamp"),
        freshness="24 HOURS",
    )
    quiet = run_connector_pipeline(geotab, debug=False, **kw)
    rows_quiet = {r.id for r in quiet.collect()}
    assert capsys.readouterr().out.strip() == ""  # no debug chatter

    debug = run_connector_pipeline(geotab, debug=True, **kw)
    rows_debug = {r.id for r in debug.collect()}
    out = capsys.readouterr().out
    assert "callsign" in out and "geotab-" in out  # schema + sample logged
    assert rows_debug == rows_quiet  # passthrough: result unchanged


def test_connector_pipeline_scans_fill_slots_once(geotab, monkeypatch):
    """Tick shape: the three checkpointed scans each have
    ``min(groups, max(1, defaultParallelism // 3))`` partitions — not
    one Python task per group."""
    from etl_geotab_spark.blocks import release_checkpoint
    from etl_geotab_spark.pipeline.geotab import run_connector_pipeline

    checkpoints: list = []
    DataFrame = type(geotab.range(1))  # the session's concrete class
    local_checkpoint = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        checkpoints.append(local_checkpoint(self, *args, **kwargs))
        return checkpoints[-1]

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    groups = tuple(f"g{i}" for i in range(1, 9))
    run_connector_pipeline(geotab, groups=groups)
    monkeypatch.undo()
    try:
        expected = min(8, max(1, geotab.sparkContext.defaultParallelism // 3))
        assert [c.rdd.getNumPartitions() for c in checkpoints] == [expected] * 3
    finally:
        for c in checkpoints:
            release_checkpoint(c)


def test_read_geotab_sizes_batch_scans(geotab):
    """Every batch ``read_geotab`` scan — the connector tick's and the
    stream pipeline's dimension scans alike — packs its groups into
    ``min(groups, max(1, defaultParallelism // 3))`` partitions."""
    from etl_geotab_spark.pipeline.geotab import read_geotab

    groups = ("g1", "g2", "g3", "g4")
    df = read_geotab(geotab.read, "Device", groups, "fake", "s")
    slots = max(1, geotab.sparkContext.defaultParallelism // 3)
    assert df.rdd.getNumPartitions() == min(len(groups), slots)


def test_connector_pipeline_fetch_error_releases_checkpoints(geotab, monkeypatch):
    """When one of the three concurrent fetches raises, the checkpoints
    the other two completed are released before the error propagates."""
    import etl_geotab_spark.sources.geotab as source
    from etl_geotab_spark.blocks import persistent_rdd_count, release_all_cached
    from etl_geotab_spark.pipeline.geotab import run_connector_pipeline

    def broken(df):
        raise RuntimeError("drivers adapter failed")

    monkeypatch.setattr(source, "drivers_relational", broken)
    # blocks earlier tests left behind may be cleaned up by the JVM's
    # ContextCleaner during the call, dropping the count below a
    # baseline that included them
    release_all_cached(geotab)
    before = persistent_rdd_count(geotab)
    with pytest.raises(RuntimeError, match="drivers adapter failed"):
        run_connector_pipeline(geotab, groups=("g1", "g2"))
    assert persistent_rdd_count(geotab) == before


def test_streaming_connector_pipeline_to_rest_sink(geotab, tmp_path):
    """The reference's ENTIRE loop as a stream: connector stream source
    (scheduled re-pull → one snapshot per micro-batch) → wire→relational
    adapter → geotab_pipeline join against batch dimension scans →
    per-batch REST sink POST (task.ts:124-295 under
    Trigger.AvailableNow instead of Lambda cron). Asserts the sink ack
    recorded every feature the equivalent batch run produces."""
    import glob
    import json as _json

    from pyspark.sql import functions as F
    from etl_geotab_spark.pipeline.geotab import geotab_pipeline, run_connector_pipeline
    from etl_geotab_spark.sources.geotab import (
        _SCHEMAS,
        device_status_relational,
        devices_relational,
        drivers_relational,
    )

    now = F.lit("2024-01-01T22:00:00Z").cast("timestamp")
    expected = run_connector_pipeline(
        geotab, groups=("g1", "g2"), now=now, freshness="24 HOURS"
    ).count()
    assert expected > 0

    devices = devices_relational(
        _read(geotab, "Device", groups="g1,g2", excludeuntrackedassets="true")
    )
    drivers = drivers_relational(_read(geotab, "User", groups="g1,g2"))
    stream = (
        geotab.readStream.format("geotab")
        .schema(_SCHEMAS["DeviceStatusInfo"])
        .option("typename", "DeviceStatusInfo")
        .option("transport", "fake")
        .option("sessionid", "session-stream")
        .option("groups", "g1,g2")
        .load()
    )
    ack_prefix = str(tmp_path / "ack")

    def post_batch(batch_df, batch_id):
        feats = geotab_pipeline(
            devices,
            device_status_relational(batch_df),
            drivers,
            now=now,
            freshness="24 HOURS",
        )
        (
            feats.write.format("geotab")
            .option("transport", "fake")
            .option("ackpath", f"{ack_prefix}.{batch_id}.json")
            .mode("append")
            .save()
        )

    q = (
        stream.writeStream.foreachBatch(post_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    acks = sorted(glob.glob(f"{ack_prefix}.*.json"))
    assert acks, "no sink ack written"
    posted = sum(_json.load(open(p))["features_posted"] for p in acks)
    assert posted == expected


def test_durable_store_rejects_different_identity(tmp_path):
    """A persisted session is only adopted by a caller asking for the
    SAME (userName, database) — user B must get their own login, not
    user A's still-alive session (the probe can't catch that: A's
    session IS alive)."""
    server = _ExpiringTransport()
    store = str(tmp_path / "cred.json")
    c1 = GeotabCredentialCache(server, "https://example.test/", store_path=store)
    a = c1.credentials("userA", "pwA", "dbA")
    assert c1.login_count == 1

    c2 = GeotabCredentialCache(server, "https://example.test/", store_path=store)
    b = c2.credentials("userB", "pwB", "dbB")
    assert c2.login_count == 1 and c2.store_hits == 0
    assert b != a

    # the same cache OBJECT asked for a different identity re-logins too
    c2.credentials("userC", "pwC", "dbC")
    assert c2.login_count == 2


def test_auth_error_matches_semantic_fields_only():
    """round-6 ADVICE: _is_auth_error used to substring-match the whole
    serialized error blob, so an error that merely ECHOES its request
    params (which contain a 'credentials' field) was misclassified as
    an auth failure (wasted Authenticate + re-Get). Markers must match
    the error's name/message/type fields only — and 'expired'-style
    wording in those fields must still count."""
    from etl_geotab_spark.sources.geotab import _is_auth_error

    # genuine auth failures: name / message / nested errors / data.type
    assert _is_auth_error({"name": "InvalidUserException", "message": "x"})
    assert _is_auth_error({"message": "Session expired, log in again"})
    assert _is_auth_error({"message": "auth TOKEN EXPIRED, re-authenticate"})
    assert _is_auth_error(
        {"errors": [{"name": "JSONRPCError", "message": "invalid session"}]}
    )
    assert _is_auth_error({"data": {"type": "InvalidUserException"}})
    # intervening-word phrasings (round-7 second review: narrowing the
    # bare 'expired' marker must not lose these previously-covered
    # genuine expiry wordings)
    assert _is_auth_error({"message": "The session token has expired"})
    assert _is_auth_error({"message": "login has expired, sign in again"})
    # auth signal carried ONLY in a string data field still counts
    assert _is_auth_error(
        {"name": "JSONRPCError", "message": "request failed",
         "data": "session has expired"}
    )
    # NOT auth: the request echo contains a 'credentials' KEY but no
    # semantic field names a credential problem
    echo = {
        "name": "DbUnavailableException",
        "message": "database is reindexing, retry later",
        "data": {
            "request": {
                "method": "Get",
                "params": {"credentials": {"userName": "u", "sessionId": "s"}},
            }
        },
    }
    assert not _is_auth_error(echo)
    # NOT auth: the echo serialized as a STRING data field (round-7
    # review) — must not be yielded wholesale as a semantic field
    assert not _is_auth_error(
        {
            "name": "DbUnavailableException",
            "message": "db starting",
            "data": '{"method":"Get","params":{"credentials":{"u":"x"}}}',
        }
    )
    # NOT auth: non-credential expiry wording (round-7 review — the
    # bare 'expired' marker misfired on lease/cache/quota expiry)
    assert not _is_auth_error(
        {"name": "DbUnavailableException",
         "message": "connection lease expired, retry later"}
    )
    # NOT auth: unrelated semantic error
    assert not _is_auth_error({"name": "OverLimitException", "message": "429"})


def test_submit_idempotency_key_is_row_order_independent():
    """round-6 ADVICE: a Spark task re-attempt may yield the same rows
    in a different partition-internal order; the content-derived
    idempotencyKey must not change or the receiver-side dedup contract
    silently fails."""
    from pyspark.sql import Row

    from etl_geotab_spark.sources.geotab import TRANSPORTS, GeotabRestWriter

    keys: list[str] = []
    TRANSPORTS["_test_order_keys"] = lambda e, p: (
        keys.append(p["params"]["idempotencyKey"]),
        {"result": {"accepted": True}},
    )[1]
    try:
        writer = GeotabRestWriter({"transport": "_test_order_keys"})
        rows = [Row(id="a", lat=1.0), Row(id="b", lat=2.0), Row(id="c", lat=3.0)]
        writer.write(iter(rows))
        writer.write(iter(reversed(rows)))  # same payload, reversed order
        writer.write(iter(rows[:2]))  # different payload
    finally:
        del TRANSPORTS["_test_order_keys"]
    assert keys[0] == keys[1]
    assert keys[2] != keys[0]
