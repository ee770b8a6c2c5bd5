"""End-to-end dimension-refresh tests (SURVEY.md §3 entry point 2):
routeConfig XML → routes/services/stops/stop_orders with missing-stop
repair, sentinel services, key stability across refreshes, idempotent
stop orders."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from nextbus2pg_spark.pipelines.dimension_refresh import (
    DimensionStore,
    run_refresh,
)
from nextbus2pg_spark.sources.route_config import RouteConfig

ROUTE_CONFIG_38R = """<?xml version="1.0"?>
<body>
  <route tag="38R" title="38R Geary Rapid">
    <stop tag="s1" title="Geary &amp; 33rd" lon="-122.49" lat="37.78"/>
    <stop tag="s2" title="Geary &amp; Park" lon="-122.47" lat="37.78"/>
    <direction tag="38R_out" title="Outbound" name="Outbound" useForUI="true">
      <stop tag="s1"/>
      <stop tag="s2"/>
      <stop tag="ghost"/>
    </direction>
    <direction tag="38R_in" title="Inbound" name="Inbound" useForUI="false">
      <stop tag="s2"/>
      <stop tag="s1"/>
    </direction>
  </route>
</body>
"""

ROUTE_CONFIG_1 = """<?xml version="1.0"?>
<body>
  <route tag="1" title="1 California">
    <stop tag="ghost" title="Clay &amp; Drumm" lon="-122.396" lat="37.795"/>
    <stop tag="c2" title="Sacramento &amp; Davis" lon="-122.398" lat="37.794"/>
    <direction tag="1_out" title="Outbound" name="Outbound" useForUI="true">
      <stop tag="ghost"/>
      <stop tag="c2"/>
    </direction>
  </route>
</body>
"""


def _inputs(spark):
    cfg = RouteConfig()
    cfg.add_document("38R", ROUTE_CONFIG_38R)
    cfg.add_document("1", ROUTE_CONFIG_1)
    body, dirs, dstops = cfg.to_dataframes(spark)
    route_list = spark.createDataFrame(
        [("38R", "38R Geary Rapid"), ("1", "1 California")],
        "tag string, title string",
    )
    return route_list, body, dirs, dstops


def test_full_refresh_end_to_end(spark, tmp_path):
    store = DimensionStore(spark, str(tmp_path / "dims"))
    route_list, body, dirs, dstops = _inputs(spark)
    ts = dt.datetime(2024, 1, 15, 8, 0, 0)
    run_refresh(store, route_list, body, dirs, dstops, "sf-muni", ts)

    routes = {r.tag: r for r in store.route.read().collect()}
    assert set(routes) == {"38R", "1"}

    services = store.service.read().collect()
    by_route_tag = {}
    for s in services:
        by_route_tag.setdefault(s.route_id, []).append(s.tag)
    # 2 directions + sentinel for 38R; 1 direction + sentinel for 1.
    assert sorted(
        by_route_tag[routes["38R"].route_id], key=lambda x: (x is None, x)
    ) == ["38R_in", "38R_out", None]
    assert sorted(
        by_route_tag[routes["1"].route_id], key=lambda x: (x is None, x)
    ) == ["1_out", None]

    stops = store.stop.read().collect()
    stops_38r = [s for s in stops if s.route_id == routes["38R"].route_id]
    ghost = [s for s in stops_38r if s.tag == "ghost"]
    # Missing-stop repair: 'ghost' has no body stop on 38R but one on
    # route 1 → borrowed name+location (agency.py:141-170 semantics).
    assert len(ghost) == 1
    assert ghost[0].name == "Clay & Drumm"
    assert abs(ghost[0].location.lon - (-122.396)) < 1e-9

    orders = store.service_stop_order.read().collect()
    svc_out = [
        s.service_id for s in services
        if s.route_id == routes["38R"].route_id and s.tag == "38R_out"
    ][0]
    out_orders = sorted(
        [o for o in orders if o.service_id == svc_out],
        key=lambda o: o.stop_order,
    )
    assert [o.stop_order for o in out_orders] == [1, 2, 3]  # W1 gapless
    assert all(o.update_timestamp == ts for o in out_orders)


def test_refresh_twice_key_stability_and_idempotence(spark, tmp_path):
    store = DimensionStore(spark, str(tmp_path / "dims"))
    route_list, body, dirs, dstops = _inputs(spark)
    ts = dt.datetime(2024, 1, 15, 8, 0, 0)
    run_refresh(store, route_list, body, dirs, dstops, "sf-muni", ts)
    ids_before = {
        (r.agency_id, r.tag): r.route_id for r in store.route.read().collect()
    }
    n_orders = store.service_stop_order.read().count()

    # Second refresh, same day: renamed route, same business keys.
    route_list2 = spark.createDataFrame(
        [("38R", "38R Geary RAPID v2"), ("1", "1 California")],
        "tag string, title string",
    )
    run_refresh(store, route_list2, body, dirs, dstops, "sf-muni", ts)

    after = {r.tag: r for r in store.route.read().collect()}
    assert after["38R"].route_id == ids_before[("sf-muni", "38R")]  # K2
    assert after["38R"].name == "38R Geary RAPID v2"  # payload updated
    assert store.service_stop_order.read().count() == n_orders  # K5 no-op
    # NULL-tag sentinels did not duplicate (K3 null-safe key).
    nulls = store.service.read().where(F.col("tag").isNull()).count()
    assert nulls == 2

    # Next-day snapshot: stop orders re-recorded under the new timestamp.
    ts2 = dt.datetime(2024, 1, 16, 8, 0, 0)
    run_refresh(store, route_list2, body, dirs, dstops, "sf-muni", ts2)
    assert store.service_stop_order.read().count() == 2 * n_orders


def test_agency_bootstrap_and_retry(spark, tmp_path):
    """Entry point 3 (K1) + T6 retry; final failure re-raises (the
    reference swallows it — documented fix)."""
    import pytest
    from nextbus2pg_spark.pipelines.dimension_refresh import (
        make_agency_table,
        refresh_agencies,
        with_retries,
    )

    t = make_agency_table(spark, str(tmp_path / "dims"))
    batch = spark.createDataFrame(
        [("sf-muni", "SF Muni", "California")],
        "tag string, title string, regionTitle string",
    )
    refresh_agencies(t, batch)
    batch2 = spark.createDataFrame(
        [("sf-muni", "SF Muni v2", "California"),
         ("actransit", "AC Transit", "California")],
        "tag string, title string, regionTitle string",
    )
    refresh_agencies(t, batch2)
    rows = {r.agency_id: r.name for r in t.read().collect()}
    assert rows == {"sf-muni": "SF Muni v2", "actransit": "AC Transit"}

    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("api down")
        return "ok"

    assert with_retries(flaky, n_tries=10) == "ok"
    assert len(calls) == 3

    with pytest.raises(RuntimeError):
        with_retries(lambda: (_ for _ in ()).throw(RuntimeError("x")), n_tries=2)


def _route_doc(stops):
    """routeConfig document for route 'R': ``stops`` = [(tag, lon, lat)]
    in the body, and one direction listing them in order."""
    body = "".join(
        f'<stop tag="{t}" title="Stop {t}" lon="{lon}" lat="{lat}"/>'
        for t, lon, lat in stops
    )
    listed = "".join(f'<stop tag="{t}"/>' for t, _lon, _lat in stops)
    return (
        f'<body><route tag="R" title="R">{body}'
        f'<direction tag="R_out" title="Out" name="Outbound" useForUI="true">'
        f"{listed}</direction></route></body>"
    )


def test_moved_stops_orders_reference_current_location(spark, tmp_path):
    """Every stop moves on day 2. The stop table then holds two rows per
    (route, tag) — the old and the current location — and day 2's orders
    must reference exactly the current-location rows."""
    store = DimensionStore(spark, str(tmp_path / "dims"))
    route_list = spark.createDataFrame([("R", "R")], "tag string, title string")
    day1 = [(f"s{i}", f"-122.{i:02d}", "37.70") for i in range(10)]
    day2 = [(t, lon, "37.71") for t, lon, _lat in day1]
    ts2 = dt.datetime(2024, 1, 16, 8, 0, 0)
    for stops, ts in ((day1, dt.datetime(2024, 1, 15, 8, 0, 0)), (day2, ts2)):
        cfg = RouteConfig()
        cfg.add_document("R", _route_doc(stops))
        body, dirs, dstops = cfg.to_dataframes(spark)
        run_refresh(store, route_list, body, dirs, dstops, "sf-muni", ts)

    rows = store.stop.read().collect()
    assert len(rows) == 20
    current = {r.stop_id for r in rows if r.location.lat == 37.71}
    orders = store.service_stop_order.read().where(
        F.col("update_timestamp") == ts2
    ).collect()
    assert len(orders) == 10
    assert {o.stop_id for o in orders} == current


def _old_repair(body_stops, direction_stops):
    """Stage 3's incoming stop rows as the J3-J5 repair computed them in
    Spark before the parser resolved direction stops: distinct, anti-join,
    a row_number window over (lon, lat, name, route_id) and a broadcast.
    Route ids are the stage-1 surrogates, so the last tiebreak orders
    routes as the old plan did; rows report the route tag."""
    from nextbus2pg_spark.functions.scalar import point_struct, point_text
    from nextbus2pg_spark.operators.joins import top1_per_group
    from nextbus2pg_spark.pipelines.dimension_refresh import surrogate_uuid

    route_id = surrogate_uuid(
        F.lit("sf-muni"), F.col("route_tag"), prefix="route"
    ).alias("route_id")
    body = body_stops.select(
        "route_tag",
        route_id,
        F.col("stop_tag").alias("tag"),
        F.col("title").alias("name"),
        point_struct(F.col("lon"), F.col("lat")).alias("location"),
    )
    referenced = direction_stops.select(
        "route_tag", route_id, F.col("stop_tag").alias("tag")
    ).distinct()
    missing = referenced.join(
        body.select("route_id", "tag"), ["route_id", "tag"], "left_anti"
    )
    candidates = body.select(
        "tag",
        F.col("name").alias("cand_name"),
        F.col("location").alias("cand_location"),
        F.col("route_id").alias("cand_route_id"),
    )
    best = top1_per_group(
        candidates,
        ["tag"],
        [
            F.col("cand_location.lon").asc_nulls_last(),
            F.col("cand_location.lat").asc_nulls_last(),
            F.col("cand_name").asc_nulls_last(),
            F.col("cand_route_id").asc(),
        ],
    )
    repaired = missing.join(F.broadcast(best), "tag", "left_outer").select(
        "route_tag",
        "route_id",
        "tag",
        F.col("cand_name").alias("name"),
        F.col("cand_location").alias("location"),
    )
    return (
        body.unionByName(repaired)
        .withColumn("location_text", point_text(F.col("location")))
        .drop("route_id")
        .withColumnRenamed("route_tag", "route_id")
    )


def _stop_set(df):
    """Distinct stop rows, NaN-safe: (route, tag, name, location_text,
    repr of the location's doubles)."""
    return {
        (
            r.route_id, r.tag, r.name, r.location_text,
            None if r.location is None
            else (repr(r.location.lon), repr(r.location.lat)),
        )
        for r in df.collect()
    }


def test_parse_time_resolution_matches_spark_repair(spark):
    """Differential: the parser's J3-J5 resolution, fed through stage 3's
    projection, yields exactly the stop rows of the Spark repair plan it
    replaced, and every direction stop lands on one of those rows."""
    from nextbus2pg_spark.pipelines.dimension_refresh import _located

    def route(tag, body, listed):
        stops = "".join(
            "<stop"
            + "".join(
                f' {k}="{v}"'
                for k, v in zip(("tag", "title", "lon", "lat"), s)
                if v is not None
            )
            + "/>"
            for s in body
        )
        dirs = "".join(
            "<stop/>" if t is None else f'<stop tag="{t}"/>' for t in listed
        )
        return tag, (
            f'<body><route tag="{tag}">{stops}'
            f'<direction tag="{tag}_d">{dirs}</direction></route></body>'
        )

    docs = [
        # 'nan' donors: NaN lon sorts after every number, NULL lon last.
        route("A", [("nan", "A nan", "NaN", "37.1")], ["nan", "x", "tie"]),
        route("B", [("nan", "B num", "-122.5", "37.1"),
                    ("null", "B null lon", None, "37.2")], ["nan", "null"]),
        route("C", [("null", "C null lat", "-122.5", None),
                    ("nan", None, "NaN", "NaN")], ["null"]),
        # 'title' donors tie on (lon, lat); a NULL title sorts last.
        # 'tie' donors tie on (lon, lat, title): the old plan takes E's
        # text by route id, the parser D's by route tag; both are the
        # same doubles, so the stored rows agree.
        route("D", [("title", None, "-122.0", "37.0"),
                    ("tie", "Same", "-122.40", "37.00")], ["title"]),
        route("E", [("title", "Zed", "-122.0", "37.0"),
                    ("tie", "Same", "-122.4", "37.0")], ["title", "tie"]),
        # Empty body: every listed tag borrows or stays NULL (J4 'x').
        route("F", [], ["title", "nan", "null", "x", "tie"]),
        # Two same-tag body stops on one route; no-tag stops never match.
        route("G", [("dup", "G far", "-121.0", "37.0"),
                    ("dup", "G near", "-123.0", "37.0"),
                    (None, "untagged", "-122.0", "37.0")], ["dup", None]),
    ]
    cols = ["route_tag", "stop_tag", "title", "lon", "lat"]
    for order in (docs, docs[::-1], []):
        cfg = RouteConfig()
        for tag, payload in order:
            cfg.add_document(tag, payload)
        body, _dirs, dstops = cfg.to_dataframes(spark)
        new = _located(
            body.select(cols).unionByName(dstops.select(cols))
        ).select(
            F.col("route_tag").alias("route_id"),
            F.col("stop_tag").alias("tag"),
            F.col("title").alias("name"),
            "location",
            "location_text",
        )
        old = _stop_set(_old_repair(body, dstops))
        assert _stop_set(new) == old
        assert len(old) == (20 if order else 0)  # 12 body + 8 repaired
        pointed = _stop_set(
            _located(dstops).select(
                F.col("route_tag").alias("route_id"),
                F.col("stop_tag").alias("tag"),
                F.col("title").alias("name"),
                "location",
                "location_text",
            )
        )
        assert pointed <= old
        if order:
            by_key = {(r[0], r[1]): r for r in pointed}
            assert by_key[("F", "nan")][2] == "B num"  # number before NaN
            assert by_key[("F", "null")][2] == "C null lat"  # NULL lon last
            assert by_key[("F", "title")][2] == "Zed"  # NULL title last
            assert by_key[("F", "x")][2:] == (None, None, None)  # J4
            assert by_key[("G", "dup")][2] == "G near"  # own route, top-1
            assert ("G", None) in by_key and by_key[("G", None)][3] is None
