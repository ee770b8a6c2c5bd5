"""Driver-loop orchestration tests (reference run.py:35-121): CLI
surface, local-midnight rollover detection, retrying scheduler, and
the wired app loop running refresh-between-batches."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from nextbus2pg_spark.pipelines.app import (
    RefreshScheduler,
    local_date,
    needs_refresh,
    parse_args,
    run_app,
)


def test_parse_args_surface():
    ns = parse_args(
        ["-a", "sf-muni", "-r", "7", "-z", "America/Los_Angeles",
         "--checkpoint", "/tmp/ck", "--store", "/tmp/st"]
    )
    assert ns.agency == "sf-muni"
    assert ns.resttime == 7.0
    assert ns.timezone == "America/Los_Angeles"


def test_local_date_conversion():
    # 2024-01-02 03:00 UTC is still 2024-01-01 in Los Angeles (UTC-8).
    utc = dt.datetime(2024, 1, 2, 3, 0, 0)
    assert local_date(utc, "America/Los_Angeles") == dt.date(2024, 1, 1)
    assert local_date(utc, "UTC") == dt.date(2024, 1, 2)


def test_needs_refresh_rollover():
    tz = "America/Los_Angeles"
    before = dt.datetime(2024, 1, 2, 7, 0)   # Jan 1, 23:00 local
    after = dt.datetime(2024, 1, 2, 8, 30)   # Jan 2, 00:30 local
    assert needs_refresh(None, before, tz)           # never refreshed
    assert not needs_refresh(dt.date(2024, 1, 1), before, tz)
    assert needs_refresh(dt.date(2024, 1, 1), after, tz)  # rolled over


def test_scheduler_runs_once_per_day_and_retries():
    calls = []
    fails_left = [2]

    def refresh():
        if fails_left[0] > 0:
            fails_left[0] -= 1
            raise RuntimeError("api down")
        calls.append(1)

    now = [dt.datetime(2024, 1, 1, 12, 0)]
    s = RefreshScheduler(refresh, tz="UTC", n_tries=5, clock=lambda: now[0])
    assert s.tick() is True          # retried past 2 failures, then ran
    assert len(calls) == 1
    assert s.tick() is False         # same local day -> no-op
    now[0] = dt.datetime(2024, 1, 2, 0, 5)
    assert s.tick() is True          # midnight rollover -> refresh
    assert len(calls) == 2


def test_scheduler_raises_after_budget_and_recovers():
    attempts = []

    def always_fail():
        attempts.append(1)
        raise RuntimeError("down")

    s = RefreshScheduler(always_fail, tz="UTC", n_tries=3,
                         clock=lambda: dt.datetime(2024, 1, 1))
    with pytest.raises(RuntimeError):
        s.tick()
    assert len(attempts) == 3
    # Marker did NOT advance -> next tick tries again (no silent skip).
    with pytest.raises(RuntimeError):
        s.tick()
    assert len(attempts) == 6


def test_run_app_end_to_end(spark, tmp_path):
    """Bootstrap refresh + per-batch rollover check + ingest sink all
    fire in one availableNow pass over a file feed."""
    from nextbus2pg_spark.sources.feed import RAW_FEED_SCHEMA

    feed = tmp_path / "afeed"
    feed.mkdir()
    row = {
        "route_tag": "38R", "dir_tag": "38R_out", "vehicle_id": "v1",
        "lon": "-122.41", "lat": "37.77", "secs_since_report": "10",
        "predictable": "true", "request_time_ms": 1706000000000,
    }
    with open(feed / "b1.json", "w") as f:
        f.write(json.dumps(row) + "\n")

    dims = spark.createDataFrame(
        [("38R_out", "svc")], "tag string, service_id string"
    )
    landed = []
    refreshes = []
    sched = RefreshScheduler(
        lambda: refreshes.append(1), tz="UTC",
        clock=lambda: dt.datetime(2024, 1, 1, 12, 0),
    )
    stream = spark.readStream.schema(RAW_FEED_SCHEMA).json(str(feed))
    run_app(
        stream,
        lambda: (dims, dims),
        lambda df, bid: landed.append(df.count()),
        sched,
        str(tmp_path / "ack"),
        resttime_seconds=0,  # availableNow (test mode), not a timed trigger
        await_seconds=120,
    )
    assert refreshes == [1]   # bootstrap refresh ran exactly once
    assert landed == [1]      # the micro-batch reached the sink


def test_run_app_rollover_batch_resolves_against_refreshed_dims(
    spark, tmp_path
):
    """The day rolls over between the bootstrap and the first batch, and
    only the rollover refresh brings in the service that batch's vehicle
    runs on. The refresh must run before the batch resolves its
    dimensions, as the reference checks the date before its sweep
    (run.py:101-119); checked after, the vehicle is dropped unresolved."""
    import itertools

    from nextbus2pg_spark.sources.feed import RAW_FEED_SCHEMA

    feed = tmp_path / "afeed"
    feed.mkdir()
    row = {
        "route_tag": "38R", "dir_tag": "38R_out", "vehicle_id": "v1",
        "lon": "-122.41", "lat": "37.77", "secs_since_report": "10",
        "predictable": "true", "request_time_ms": 1706000000000,
    }
    with open(feed / "b1.json", "w") as f:
        f.write(json.dumps(row) + "\n")

    schema = "tag string, service_id string"
    dims = [spark.createDataFrame([("38R_in", "svc_in")], schema)]

    def refresh():
        if refreshes:  # the rollover refresh adds the outbound service
            dims[0] = spark.createDataFrame(
                [("38R_in", "svc_in"), ("38R_out", "svc_out")], schema
            )
        refreshes.append(1)

    refreshes, landed = [], []
    days = itertools.chain(
        [dt.datetime(2024, 1, 1, 23, 59)],
        itertools.repeat(dt.datetime(2024, 1, 2, 0, 1)),
    )
    sched = RefreshScheduler(refresh, tz="UTC", clock=lambda: next(days))
    stream = spark.readStream.schema(RAW_FEED_SCHEMA).json(str(feed))
    run_app(
        stream,
        lambda: (dims[0], dims[0]),
        lambda df, bid: landed.append(df.count()),
        sched,
        str(tmp_path / "ack"),
        resttime_seconds=0,
        await_seconds=120,
    )
    assert refreshes == [1, 1]  # bootstrap + rollover
    assert landed == [1]


def _one_route_app(tmp_path, vehicles):
    """Config snapshots of one route (38R, direction d1) and a spool
    document reporting ``vehicles`` on d1; returns the argv of a
    backfill run (``-r 0``) of ``main`` over them."""
    config = tmp_path / "config"
    spool = tmp_path / "spool"
    os.makedirs(config)
    os.makedirs(spool)
    (config / "agencyList.xml").write_text(
        '<body><agency tag="sf-muni" title="SF Muni" '
        'regionTitle="California"/></body>'
    )
    (config / "routeList.xml").write_text(
        '<body><route tag="38R" title="38R Geary Rapid"/></body>'
    )
    (config / "routeConfig__38R.xml").write_text(
        """<body><route tag="38R">
             <stop tag="s1" title="First St" lon="-122.4" lat="37.7"/>
             <direction tag="d1" title="Outbound" name="Outbound"
                        useForUI="true">
               <stop tag="s1"/>
             </direction>
           </route></body>"""
    )
    (spool / "38R__1000000.xml").write_text(
        "<body>"
        + "".join(
            f'<vehicle id="{v}" dirTag="d1" lon="-122.41" lat="37.71" '
            'secsSinceReport="9" predictable="true"/>'
            for v in vehicles
        )
        + '<lastTime time="1000000"/></body>'
    )
    return [
        "-a", "sf-muni", "-r", "0",
        "--spool", str(spool),
        "--config", str(config),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--store", str(tmp_path / "store"),
    ]


def _locations(spark, tmp_path):
    from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable
    from nextbus2pg_spark.streaming.ingest import DEDUP_KEYS

    return ParquetUpsertTable(
        spark, str(tmp_path / "store" / "vehicle_location"),
        key_cols=list(DEDUP_KEYS),
    )


def test_main_cli_end_to_end(spark, tmp_path):
    """`python -m nextbus2pg_spark` assembly, one availableNow sweep:
    agency bootstrap + dimension refresh from config-document
    snapshots + DSv2 spool ingest with service resolution into the
    vehicle_location store — run.py:35-121 end to end on real parts."""
    from nextbus2pg_spark.pipelines.app import main

    main(_one_route_app(tmp_path, ["v1"]), spark=spark)
    rows = _locations(spark, tmp_path).read().collect()
    assert len(rows) == 1
    assert rows[0].vehicle_tag == "v1"
    assert rows[0].service_id is not None  # resolved via the d1 service
    agency = spark.read.parquet(
        *[str(p) for p in
          (tmp_path / "store" / "agency" / "data").glob("g*/__bucket=*")]
    ).collect()
    assert agency[0].agency_id == "sf-muni"
    assert agency[0].region == "California"


def test_main_replayed_batch_is_stored_once(spark, tmp_path):
    """A crash after the sink wrote batch 0 but before Spark committed
    it (its commit-log entry removed here) makes the restart replay
    batch 0 with the same id; the store's manifest already records it,
    so every key stays stored exactly once (T6 — the reference
    re-appends a retried sweep)."""
    from nextbus2pg_spark.pipelines.app import main

    argv = _one_route_app(tmp_path, ["v1", "v2"])
    main(argv, spark=spark)
    table = _locations(spark, tmp_path)
    gens = table.store.generations()
    for name in ("0", ".0.crc"):
        os.remove(tmp_path / "ckpt" / "commits" / name)
    main(argv, spark=spark)
    assert sorted(r.vehicle_tag for r in table.read().collect()) == [
        "v1", "v2"
    ]
    assert table.store.generations() == gens
    assert os.path.exists(tmp_path / "ckpt" / "commits" / "0")  # replayed


def test_main_resolves_duplicate_direction_tags_per_route(spark, tmp_path):
    """Review regression: two routes sharing direction tag 'd1' must
    resolve each vehicle to ITS OWN route's service, with no row
    fan-out (a tag-only primary join would 4x the rows and attach
    wrong service_ids)."""
    import os

    from nextbus2pg_spark.pipelines.app import main
    from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable
    from nextbus2pg_spark.streaming.ingest import DEDUP_KEYS

    config = tmp_path / "config"
    spool = tmp_path / "spool"
    os.makedirs(config)
    os.makedirs(spool)
    (config / "agencyList.xml").write_text(
        '<body><agency tag="sf-muni" title="SF Muni" regionTitle="CA"/></body>'
    )
    (config / "routeList.xml").write_text(
        '<body><route tag="38R" title="38R"/><route tag="J" title="J"/></body>'
    )
    for route in ("38R", "J"):
        (config / f"routeConfig__{route}.xml").write_text(
            f"""<body><route tag="{route}">
                 <stop tag="s-{route}" title="Stop" lon="-122.4" lat="37.7"/>
                 <direction tag="d1" title="Out" name="Outbound"
                            useForUI="true"><stop tag="s-{route}"/></direction>
               </route></body>"""
        )
    for route, vid in (("38R", "vA"), ("J", "vB")):
        (spool / f"{route}__1000000.xml").write_text(
            f'<body><vehicle id="{vid}" dirTag="d1" lon="-1" lat="1" '
            'secsSinceReport="9" predictable="true"/>'
            '<lastTime time="1000000"/></body>'
        )
    main(
        ["-a", "sf-muni", "-r", "0", "--spool", str(spool),
         "--config", str(config), "--checkpoint", str(tmp_path / "ckpt"),
         "--store", str(tmp_path / "store")],
        spark=spark,
    )
    locations = ParquetUpsertTable(
        spark, str(tmp_path / "store" / "vehicle_location"),
        key_cols=list(DEDUP_KEYS),
    )
    rows = locations.read().collect()
    assert len(rows) == 2, f"fan-out: {rows}"
    by_vehicle = {r.vehicle_tag: r.service_id for r in rows}
    assert by_vehicle["vA"] != by_vehicle["vB"], "route scoping lost"
