"""Streaming ingest tests (SURVEY.md §5.4): per-batch dedup (T4), event
time (T3), two-level resolution with drop (J6/F5), empty-batch no-op
(T7), offset monotonicity via file source + checkpoint restart (T2/T6).
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from nextbus2pg_spark.sources.feed import (
    RAW_FEED_SCHEMA,
    feed_df_from_payloads,
    rows_from_xml,
)
from nextbus2pg_spark.streaming.ingest import (
    DEDUP_KEYS,
    resolve_service,
    start_ingest,
    transform_feed,
    unresolved_count,
    vehicle_pipeline,
)

VEHICLE_XML = """<?xml version="1.0"?>
<body>
  <vehicle id="1410" routeTag="38R" dirTag="38R_out" lat="37.77" lon="-122.41"
           secsSinceReport="9" predictable="true" heading="220"/>
  <vehicle id="1411" routeTag="38R" dirTag="38R_in" lat="37.78" lon="-122.42"
           secsSinceReport="30" predictable="false"/>
  <vehicle id="1412" routeTag="38R" dirTag="ghost" lat="37.79" lon="-122.43"
           secsSinceReport="5" predictable="true"/>
  <lastTime time="1706000000000"/>
</body>
"""


def _dims(spark):
    route_services = spark.createDataFrame(
        [("38R_out", "svc-out")], "tag string, service_id string"
    )
    agency_services = spark.createDataFrame(
        [("38R_out", "svc-out-agency"), ("38R_in", "svc-in")],
        "tag string, service_id string",
    )
    return route_services, agency_services


def test_xml_parse_and_offset():
    rows, last_ms = rows_from_xml(VEHICLE_XML, "38R")
    assert last_ms == 1706000000000  # T2 offset extraction (route.py:162)
    assert len(rows) == 3
    assert rows[0][2] == "1410" and rows[0][1] == "38R_out"


def test_transform_feed_event_time(spark):
    """T3 (route.py:202): event time = request time − secsSinceReport."""
    raw = feed_df_from_payloads(spark, [("38R", VEHICLE_XML)])
    out = transform_feed(raw)
    r = {v.vehicle_tag: v for v in out.collect()}
    req = dt.datetime(2024, 1, 23, 8, 53, 20)  # 1706000000000 ms UTC
    assert r["1410"].location_timestamp == req - dt.timedelta(seconds=9)
    assert r["1411"].location_timestamp == req - dt.timedelta(seconds=30)
    assert r["1410"].is_predictable is True
    assert r["1411"].is_predictable is False
    assert abs(r["1410"].vehicle_location.lon - (-122.41)) < 1e-9


def test_transform_feed_rounds_request_ts_to_seconds(spark):
    """route.py:165-167 rounds the request epoch to WHOLE seconds before
    subtracting secsSinceReport — a non-second-aligned lastTime must not
    leak sub-second residue into location_timestamp (a dedup-key
    column). 1706000000678 ms rounds UP to ...001 s."""
    xml = VEHICLE_XML.replace('time="1706000000000"', 'time="1706000000678"')
    raw = feed_df_from_payloads(spark, [("38R", xml)])
    r = {v.vehicle_tag: v for v in transform_feed(raw).collect()}
    req = dt.datetime(2024, 1, 23, 8, 53, 21)  # rounded, no millis
    assert r["1410"].location_timestamp == req - dt.timedelta(seconds=9)
    assert r["1411"].location_timestamp == req - dt.timedelta(seconds=30)


def test_two_level_resolution_and_drop(spark):
    """J6/F5 (route.py:177-194): route dict first, agency dict second,
    unresolved dropped (and countable)."""
    raw = feed_df_from_payloads(spark, [("38R", VEHICLE_XML)])
    rs, asvc = _dims(spark)
    out = vehicle_pipeline(raw, rs, asvc)
    got = {v.vehicle_tag: v.service_id for v in out.collect()}
    assert got == {"1410": "svc-out", "1411": "svc-in"}  # route dict wins
    assert unresolved_count(transform_feed(raw), rs, asvc) == 1  # ghost


def test_within_batch_dedup(spark):
    """A2/T4: duplicate (service, vehicle, ts) rows collapse per batch."""
    raw = feed_df_from_payloads(
        spark, [("38R", VEHICLE_XML), ("38R", VEHICLE_XML)]
    )
    rs, asvc = _dims(spark)
    out = vehicle_pipeline(raw, rs, asvc).dropDuplicates(list(DEDUP_KEYS))
    assert out.count() == 2


def test_streaming_end_to_end_with_checkpoint(spark, tmp_path):
    """T1/T2/T6/T7: file-source micro-batches through foreachBatch into a
    parquet log; restart from checkpoint does not reprocess old files."""
    feed_dir = tmp_path / "feed"
    out_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    feed_dir.mkdir()

    def write_feed(name: str, rows: list[dict]) -> None:
        p = feed_dir / name
        tmp = feed_dir / (name + ".tmp")
        with open(tmp, "w") as f:
            for row in rows:
                f.write(json.dumps(row) + "\n")
        os.rename(tmp, p)

    base = {
        "route_tag": "38R",
        "dir_tag": "38R_out",
        "lon": "-122.41",
        "lat": "37.77",
        "secs_since_report": "10",
        "predictable": "true",
        "request_time_ms": 1706000000000,
    }
    write_feed(
        "b1.json",
        [
            dict(base, vehicle_id="v1"),
            dict(base, vehicle_id="v1"),  # within-batch dup
            dict(base, vehicle_id="v2"),
        ],
    )

    rs, asvc = _dims(spark)
    sunk = []

    def sink(df, batch_id):
        sunk.append(batch_id)
        df.write.mode("append").parquet(out_dir)

    def run_once():
        stream = (
            spark.readStream.schema(RAW_FEED_SCHEMA)
            .json(str(feed_dir))
        )
        q = start_ingest(stream, lambda: (rs, asvc), sink, ckpt)
        q.awaitTermination(120)
        return [(p.batchId, p.numInputRows) for p in q.recentProgress]

    assert run_once() == [(0, 3)]
    first = spark.read.parquet(out_dir)
    assert first.count() == 2  # dedup applied, both vehicles present

    # An empty feed file is a micro-batch of its own with no rows: T7
    # skips it before the sink, and the stored rows are unchanged.
    write_feed("b_empty.json", [])
    assert run_once() == [(1, 0)]
    assert sunk == [0]
    assert spark.read.parquet(out_dir).count() == 2

    # New file arrives; restart from checkpoint → only the new batch lands.
    write_feed("b2.json", [dict(base, vehicle_id="v3")])
    run_once()
    assert sunk == [0, 2]
    second = spark.read.parquet(out_dir)
    assert second.count() == 3  # v1, v2 (once) + v3; no reprocessing
    tags = {r.vehicle_tag for r in second.collect()}
    assert tags == {"v1", "v2", "v3"}


def test_cross_batch_dedup_with_watermark(spark, tmp_path):
    """T8 extension (NOT reference semantics — documented upgrade):
    withWatermark + dropDuplicatesWithinWatermark drops duplicates that
    span micro-batches, with state bounded by the watermark."""
    feed_dir = tmp_path / "feed8"
    out = str(tmp_path / "out8")
    ck = str(tmp_path / "ck8")
    feed_dir.mkdir()
    base = {
        "route_tag": "38R", "dir_tag": "38R_out", "lon": "-122.4",
        "lat": "37.7", "secs_since_report": "10", "predictable": "true",
        "request_time_ms": 1706000000000,
    }

    def wf(name, rows):
        p = feed_dir / name
        t = feed_dir / (name + ".t")
        with open(t, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(t, p)

    wf("b1.json", [dict(base, vehicle_id="v1"), dict(base, vehicle_id="v2")])
    wf("b2.json", [dict(base, vehicle_id="v1"), dict(base, vehicle_id="v3")])

    rs = spark.createDataFrame([("38R_out", "svc")], "tag string, service_id string")
    stream = (
        spark.readStream.schema(RAW_FEED_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force two micro-batches
        .json(str(feed_dir))
    )
    piped = vehicle_pipeline(stream, rs, rs, cross_batch_dedup=True)
    q = (
        piped.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    assert sorted(r.vehicle_tag for r in got.collect()) == ["v1", "v2", "v3"]


def test_idle_session_closes_on_tick_without_new_data(spark, tmp_path):
    """Timeout-emulation path: an idle session closes when a tick row
    arrives after the gap — no new vehicle data needed — and its state
    evicts; ticks for keys with no open session create nothing."""
    from nextbus2pg_spark.streaming.stateful import sessionize_stream

    feed_dir = tmp_path / "tfeed"
    feed_dir.mkdir()

    def wf(name, rows, mtime):
        p = feed_dir / name
        t = feed_dir / (name + ".t")
        with open(t, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(t, p)
        os.utime(p, (mtime, mtime))

    B = 1_700_000_000_000_000  # base µs
    MIN = 60_000_000
    now = 1_700_000_000
    # batch 1: one open session for v1 (2 events, 1 min apart)
    wf("t1.json", [
        {"vehicle_tag": "v1", "ts_us": B, "value": 10.0, "is_tick": False},
        {"vehicle_tag": "v1", "ts_us": B + MIN, "value": 20.0,
         "is_tick": False},
    ], now)
    # batch 2: ONLY ticks — v1 idle 3h > 30min gap; v9 has no session.
    wf("t2.json", [
        {"vehicle_tag": "v1", "ts_us": B + 180 * MIN, "value": None,
         "is_tick": True},
        {"vehicle_tag": "v9", "ts_us": B + 180 * MIN, "value": None,
         "is_tick": True},
    ], now + 10)

    stream = (
        spark.readStream.schema(
            "vehicle_tag string, ts_us long, value double, is_tick boolean"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(feed_dir))
    )
    out = str(tmp_path / "tout")
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "tck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1  # v1's idle session closed; v9 emitted nothing
    s = rows[0]
    assert s.vehicle_tag == "v1"
    assert (s.session_start_us, s.session_end_us) == (B, B + MIN)
    assert s.n_events == 2 and abs(s.mean_value - 15.0) < 1e-9


def test_stateful_sessionizer_applyinpandaswithstate(spark, tmp_path):
    """Custom stateful operator: per-vehicle sessions via
    applyInPandasWithState — gap closes a session and emits a summary;
    state persists across micro-batches."""
    from nextbus2pg_spark.streaming.stateful import sessionize_stream

    feed_dir = tmp_path / "sfeed"
    ck = str(tmp_path / "sck")
    out = str(tmp_path / "sout")
    feed_dir.mkdir()

    def wf(name, rows):
        p = feed_dir / name
        t = feed_dir / (name + ".t")
        with open(t, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(t, p)

    B = 1_700_000_000_000_000  # base µs
    MIN = 60_000_000
    # batch 1: v1 has two events 1 min apart (one open session)
    wf("s1.json", [
        {"vehicle_tag": "v1", "ts_us": B, "value": 10.0},
        {"vehicle_tag": "v1", "ts_us": B + MIN, "value": 20.0},
    ])
    # batch 2: v1 jumps 2 hours -> closes session 1 (2 events, mean 15)
    wf("s2.json", [
        {"vehicle_tag": "v1", "ts_us": B + 120 * MIN, "value": 99.0},
    ])
    # The file source orders micro-batches by modification time; force
    # distinct mtimes so s1 is batch 0 deterministically.
    now = 1_700_000_000
    os.utime(feed_dir / "s1.json", (now, now))
    os.utime(feed_dir / "s2.json", (now + 10, now + 10))

    stream = (
        spark.readStream.schema("vehicle_tag string, ts_us long, value double")
        .option("maxFilesPerTrigger", "1")
        .json(str(feed_dir))
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1  # exactly the closed session
    s = rows[0]
    assert s.vehicle_tag == "v1"
    assert (s.session_start_us, s.session_end_us) == (B, B + MIN)
    assert s.n_events == 2 and abs(s.mean_value - 15.0) < 1e-9


def test_resolve_service_null_components_do_not_collide(spark):
    """Null-safe composite lookup key (ADVICE r3): a vehicle with
    (route_tag='A', dir_tag=NULL) must NOT resolve through a primary
    entry keyed (route_tag=NULL, tag='A') — concat_ws would have
    collapsed both to 'A'. A primary entry keyed (route_tag='A',
    tag=NULL) DOES match it (NULL==NULL, the keyed-write null-safe
    semantics)."""
    vehicles = spark.createDataFrame(
        [("A", None, "v1"), (None, "A", "v2")],
        "route_tag string, dir_tag string, vehicle_tag string",
    )
    route_services = spark.createDataFrame(
        [(None, "A", "svc_null_A"), ("A", None, "svc_A_null")],
        "route_tag string, tag string, service_id string",
    )
    agency_services = spark.createDataFrame(
        [], "tag string, service_id string"
    )
    out = resolve_service(vehicles, route_services, agency_services)
    got = {r.vehicle_tag: r.service_id for r in out.collect()}
    assert got == {"v1": "svc_A_null", "v2": "svc_null_A"}


def test_resolve_service_null_equals_empty_key(spark):
    """Store-semantics parity: the composite lookup key treats NULL
    and '' as ONE key (the COALESCE(col,'') unique-index semantics the
    keyed-write layer uses) — a primary entry with tag='' resolves a
    vehicle with dir_tag NULL, and vice versa."""
    vehicles = spark.createDataFrame(
        [("A", None, "v1"), ("B", "", "v2")],
        "route_tag string, dir_tag string, vehicle_tag string",
    )
    route_services = spark.createDataFrame(
        [("A", "", "svc_A"), ("B", None, "svc_B")],
        "route_tag string, tag string, service_id string",
    )
    agency_services = spark.createDataFrame([], "tag string, service_id string")
    out = resolve_service(vehicles, route_services, agency_services)
    got = {r.vehicle_tag: r.service_id for r in out.collect()}
    assert got == {"v1": "svc_A", "v2": "svc_B"}
