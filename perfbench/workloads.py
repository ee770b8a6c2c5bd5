"""The benchmark's workloads, driven only through the package's public
functions. Each ``run_<name>_workload(ctx)`` returns a :class:`Result`.

- ``ingest`` — the continuous app itself: ``pipelines.app.main`` over
  a generated config directory and spool, so its bootstrap refresh,
  ``run_app`` → ``start_ingest`` over the ``nextbus_feed`` source, its
  ``processingTime`` trigger, ``dims_provider`` and ``append_dedup``
  sink all run as the app runs them. A pre-filled spool backlog is
  drained by the first micro-batch (catch-up), then an open-loop
  generator publishes one document per route every ``resttime``
  seconds (live).
- ``refresh`` — the daily dimension refresh, closed loop with one
  client: ``run_refresh`` into an empty ``DimensionStore``, then
  ``MIN_MERGE_DAYS`` merge "days", and more while the run's time lasts.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import threading
import time
from dataclasses import dataclass, field
from statistics import median

from gen import AGENCY_TAG, Agency, publish
from tracing import Tracer, attribute_lag, covers, tree_size

#: Sizes of the generated agency per workload (see perfbench/README.md
#: for why ingest runs fewer routes than the reference agency).
INGEST_ROUTES = 8
REFRESH_ROUTES = 60
STOPS_PER_ROUTE = 40
VEHICLES_PER_ROUTE = 12
BACKLOG_SWEEPS = 20
#: Seconds between sweeps of the backlog (the generator's past).
BACKLOG_SPACING_S = 10
#: Largest ``secsSinceReport`` of a fresh backlog report.
BACKLOG_MAX_SECS = 9
#: Share of vehicles in a backlog sweep that repeat their previous
#: report, so the catch-up batch holds duplicate keys to drop.
BACKLOG_REPEAT_SHARE = 0.25
#: The live trigger period and publish period (``--resttime``, the
#: reference default).
RESTTIME_S = 10
#: Share of routes changed per refresh day.
DAY_CHANGE_SHARE = 0.1
#: Merge days every refresh run holds after the initial load.
MIN_MERGE_DAYS = 2


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    #: end-to-end metrics by name
    e2e: dict[str, float] = field(default_factory=dict)
    #: per-layer metrics by name (reported by traced runs)
    layer: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    #: streaming batch ids of the live phase (their event-log groups)
    live_batch_ids: list[int] = field(default_factory=list)
    #: route partitions (routes with new documents) of each live batch
    live_partitions: list[int] = field(default_factory=list)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    trace: bool
    tracer: Tracer
    setup_started: float


# -- sink spans ----------------------------------------------------------------


class SinkProbe:
    """Spans around every ``ParquetUpsertTable`` write and ``read``,
    installed on the class so the tables the app builds for itself are
    covered too. Each write also walks the table directory before and
    after the call (parquet bytes and files added) and counts the calls
    that published a new generation."""

    WRITES = ("upsert", "insert_if_absent", "append_dedup")

    def __init__(self, tracer: Tracer):
        from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable

        self.tracer = tracer
        self.bytes_written = 0
        self.files_written = 0
        self.generations = 0
        for method in self.WRITES:
            setattr(ParquetUpsertTable, method,
                    self._wrap(method, getattr(ParquetUpsertTable, method)))
        read = ParquetUpsertTable.read

        def traced_read(table):
            with tracer.span("sink.read"):
                return read(table)

        ParquetUpsertTable.read = traced_read

    @staticmethod
    def _generation(table) -> int:
        if not table.exists():
            return -1
        return table.store.current_manifest()["gen"]

    def _wrap(self, method: str, fn):
        def call(table, df):
            size0, files0 = tree_size(table.path)
            gen0 = self._generation(table)
            with self.tracer.span(f"sink.{method}"):
                fn(table, df)
            size1, files1 = tree_size(table.path)
            self.bytes_written += max(0, size1 - size0)
            self.files_written += max(0, files1 - files0)
            self.generations += self._generation(table) != gen0

        return call

    def layer(self, in_bytes: int) -> dict[str, float]:
        return {
            "sink.append_dedup_s": self.tracer.total("sink.append_dedup"),
            "sink.upsert_s": self.tracer.total("sink.upsert"),
            "sink.insert_if_absent_s": self.tracer.total(
                "sink.insert_if_absent"
            ),
            "sink.bytes_written": float(self.bytes_written),
            "sink.files_written": float(self.files_written),
            "sink.bytes_written_per_input_byte": self.bytes_written / in_bytes,
            "sink.generations_published": float(self.generations),
        }


# -- shared: load an agency's dimensions ------------------------------------


def _config_frames(ctx: Ctx, agency: Agency):
    """The agency's route list and routeConfig documents → the four
    refresh inputs; the documents go through the package's parser."""
    from nextbus2pg_spark.sources.route_config import RouteConfig

    with ctx.tracer.span("route_config.parse"):
        route_list = ctx.spark.createDataFrame(
            [(r.tag, r.title) for r in agency.routes],
            "tag string, title string",
        )
        cfg = RouteConfig()
        for r in agency.routes:
            cfg.add_document(r.tag, agency.route_config_xml(r))
        body_stops, directions, direction_stops = cfg.to_dataframes(ctx.spark)
    return route_list, body_stops, directions, direction_stops


REFRESH_STAGES = ("routes", "services", "stops", "service_stop_orders")


def _refresh_traced(ctx: Ctx, store, frames, ts, tag: str) -> None:
    """``run_refresh``'s four stages, called one by one so each gets a
    span and a Spark job group (``refresh.<stage>.<tag>``)."""
    from nextbus2pg_spark.pipelines import dimension_refresh as dr

    route_list, body_stops, directions, direction_stops = frames
    calls = {
        "routes": lambda: dr.refresh_routes(store, route_list, AGENCY_TAG),
        "services": lambda: dr.refresh_services(store, directions, AGENCY_TAG),
        "stops": lambda: dr.refresh_stops(
            store, body_stops, direction_stops, AGENCY_TAG
        ),
        "service_stop_orders": lambda: dr.refresh_service_stop_orders(
            store, direction_stops, AGENCY_TAG, ts
        ),
    }
    for stage in REFRESH_STAGES:
        with ctx.tracer.span(f"refresh.{stage}"):
            ctx.spark.sparkContext.setJobGroup(
                f"refresh.{stage}.{tag}", stage
            )
            calls[stage]()
    ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def _refresh(ctx: Ctx, store, agency: Agency, ts, tag: str) -> float:
    """One refresh of ``agency`` into ``store``; returns its wall time
    (config parsing included, as in the app's refresh callback)."""
    from nextbus2pg_spark.pipelines.dimension_refresh import run_refresh

    t0 = time.perf_counter()
    frames = _config_frames(ctx, agency)
    if ctx.trace:
        _refresh_traced(ctx, store, frames, ts, tag)
    else:
        run_refresh(store, *frames, agency_id=AGENCY_TAG, update_timestamp=ts)
    return time.perf_counter() - t0


# -- refresh -----------------------------------------------------------------


def expected_counts(days: list[Agency]) -> dict[str, int]:
    """Row counts the store must hold after refreshing ``days`` in order:
    routes and services never disappear, renamed stops merge in place,
    moved stops add a key, and each day adds a full stop-order
    snapshot."""
    stop_keys = set()
    for a in days:
        for r in a.routes:
            for tag, _title, lon, lat in r.stops:
                stop_keys.add((r.tag, tag, lon, lat))
    last = days[-1]
    orders = sum(len(d[4]) for r in last.routes for d in r.directions)
    return {
        "route": len(last.routes),
        "service": sum(len(r.directions) + 1 for r in last.routes),
        "service_sentinel": len(last.routes),
        "stop": len(stop_keys),
        "service_stop_order": orders * len(days),
    }


def store_counts(store) -> dict[str, int]:
    """Row counts of the four dimension tables (and the NULL-tag
    sentinel services) in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    tables = {
        "route": store.route.read(),
        "service": store.service.read(),
        "service_sentinel": store.service.read().where(F.col("tag").isNull()),
        "stop": store.stop.read(),
        "service_stop_order": store.service_stop_order.read(),
    }
    labelled = [df.select(F.lit(n).alias("t")) for n, df in tables.items()]
    rows = reduce(lambda a, b: a.unionAll(b), labelled).groupBy("t").count()
    got = {r["t"]: r["count"] for r in rows.collect()}
    return {n: got.get(n, 0) for n in tables}


def run_refresh_workload(ctx: Ctx) -> Result:
    from nextbus2pg_spark.pipelines.dimension_refresh import DimensionStore

    res = Result()
    rng = random.Random(f"refresh-days:{ctx.seed}")
    agency = Agency(ctx.seed, REFRESH_ROUTES, STOPS_PER_ROUTE,
                    VEHICLES_PER_ROUTE)
    store = DimensionStore(ctx.spark, os.path.join(ctx.work, "store"))
    probe = SinkProbe(ctx.tracer) if ctx.trace else None
    day0 = dt.datetime(2024, 1, 1)
    setup_s = time.perf_counter() - ctx.setup_started

    history = [agency]
    t_start = time.perf_counter()
    times = []
    while True:
        day = len(times)
        if day:
            agency = agency.mutate(rng, DAY_CHANGE_SHARE)
            history.append(agency)
        res.attempted += 1
        times.append(_refresh(ctx, store, agency,
                              day0 + dt.timedelta(days=day), f"d{day}"))
        got = store_counts(store)
        want = expected_counts(history)
        if got != want:
            res.failed += 1
            res.notes.append(f"day {day}: counts {got} != expected {want}")
        # At least the initial load and MIN_MERGE_DAYS merge days; then
        # stop once the next day would end past the run's time.
        elapsed = time.perf_counter() - t_start
        if (day >= MIN_MERGE_DAYS
                and elapsed + median(times[1:]) > ctx.seconds):
            break

    daily = times[1:]
    res.e2e = {
        "setup_s": setup_s,
        "first_op_s": times[0],
        "op_p50_s": median(daily),
    }
    if ctx.trace:
        in_bytes = sum(len(agency.route_config_xml(r)) for r in agency.routes)
        res.layer.update(probe.layer(in_bytes * len(times)))
        for stage in REFRESH_STAGES:
            res.layer[f"refresh.{stage}_s"] = ctx.tracer.total(
                f"refresh.{stage}"
            )
        res.layer["route_config.parse_s"] = ctx.tracer.total(
            "route_config.parse"
        )
    res.layer["refresh.days"] = float(len(daily))
    return res


# -- ingest ------------------------------------------------------------------


def _progress_batches(query) -> list[dict]:
    """The query's non-empty micro-batches, in batch-id order, each with
    the wall times its trigger began (``begin``) and its progress was
    reported (``reported``: ``begin`` plus the ``triggerExecution``
    duration)."""
    out = {}
    for rec in query.recentProgress:
        rec = json.loads(rec.json) if hasattr(rec, "json") else rec
        if rec.get("numInputRows", 0) <= 0:
            continue
        rec["begin"] = dt.datetime.strptime(
            rec["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ"
        ).replace(tzinfo=dt.timezone.utc).timestamp()
        rec["reported"] = (
            rec["begin"] + rec["durationMs"]["triggerExecution"] / 1e3
        )
        src = rec["sources"][0]
        rec["start"], rec["end"] = (
            json.loads(v) if isinstance(v, str) else v
            for v in (src.get("startOffset"), src.get("endOffset"))
        )
        out[rec["batchId"]] = rec
    return [out[k] for k in sorted(out)]


def first_slot(now: float, period: float, n_routes: int) -> float:
    """The first publish slot at or after ``now``. Slots are
    ``period / n_routes`` apart and half a slot off the trigger grid
    (a ``processingTime`` trigger fires at multiples of its period), so
    a document never races the trigger that reads it."""
    slot = period / n_routes
    grid = math.floor(now / period) * period
    j = max(0, math.ceil((now - grid - slot / 2) / slot))
    return grid + slot / 2 + j * slot


def _covered(ms: int, route: str, batch: dict) -> bool:
    return covers(batch["start"], batch["end"], route, ms)


class OpenLoopGenerator:
    """One thread publishing one document per route every ``period``
    seconds on a fixed schedule: route ``i``'s ``k``-th document is due
    at ``t0 + k * period + i * period / n_routes`` however far behind
    the app runs. ``lastTime`` is the due time in ms."""

    def __init__(self, agency, spool, rng, t0, period, max_secs):
        self.agency = agency
        self.spool = spool
        self.rng = rng
        self.t0 = t0
        self.period = period
        self.max_secs = max_secs
        self.stop_event = threading.Event()
        self.lock = threading.Lock()
        #: (route, time_ms, due wall time, actual publish wall time)
        self.published: list[tuple[str, int, float, float]] = []
        #: (route, dir_tag, vehicle_id, location_epoch_s, time_ms)
        self.keys: list[tuple[str, str, str, int, int]] = []
        self.bytes = 0
        self.error: BaseException | None = None
        self.thread = threading.Thread(target=self._run, name="bench-gen")

    def _run(self):
        try:
            n = len(self.agency.routes)
            k = 0
            while True:
                for i, route in enumerate(self.agency.routes):
                    due = self.t0 + k * self.period + i * self.period / n
                    if self.stop_event.wait(max(0.0, due - time.time())):
                        return
                    ms = int(round(due * 1000))
                    xml, keys = self.agency.vehicle_doc(
                        route, ms, self.rng, self.max_secs
                    )
                    publish(self.spool, route.tag, ms, xml)
                    with self.lock:
                        self.bytes += len(xml)
                        self.published.append(
                            (route.tag, ms, due, time.time())
                        )
                        self.keys.extend((route.tag, *key, ms) for key in keys)
                k += 1
        except BaseException as e:  # noqa: BLE001 - re-raised by stop()
            self.error = e

    def start(self):
        self.thread.start()

    def snapshot(self) -> list[tuple[str, int, float, float]]:
        with self.lock:
            return list(self.published)

    def stop(self):
        self.stop_event.set()
        self.thread.join(timeout=60)
        if self.thread.is_alive():
            raise RuntimeError("generator thread did not stop")
        if self.error is not None:
            raise self.error


#: Seconds a measured live document may wait for its commit before the
#: run gives up on it (it then counts as missing any lag limit).
COMMIT_TIMEOUT_S = 60


def _await(query, done, timeout_s: float) -> list[dict]:
    """Poll the query's progress until ``done(batches)`` or timeout."""
    end = time.time() + timeout_s
    while True:
        batches = _progress_batches(query)
        if done(batches) or time.time() > end:
            return batches
        if query.exception() is not None or not query.isActive:
            raise RuntimeError(f"stream stopped: {query.exception()}")
        time.sleep(0.05)


def compare_keys(stored, expected, batches):
    """Check the stored ``(dir_tag, vehicle_id, location_s)`` keys
    against the generator's documents that committed batches cover.

    ``expected``: ``(route, dir_tag, vehicle_id, location_s, time_ms)``
    per generated vehicle report; reports that repeat a key collapse to
    one expected row. Returns (indices of batches that lost or doubled
    a key they read, keys lost or doubled, stored rows no covered
    document explains)."""
    counts: dict[tuple, int] = {}
    for key in stored:
        counts[key] = counts.get(key, 0) + 1
    want = {}
    for route, dtag, vid, loc_s, ms in expected:
        owner = next(
            (i for i, b in enumerate(batches) if _covered(ms, route, b)), None
        )
        if owner is not None:
            want[(dtag, vid, loc_s)] = owner
    bad_batches = {i for key, i in want.items() if counts.get(key, 0) != 1}
    bad_keys = sum(1 for key in want if counts.get(key, 0) != 1)
    extras = sum(n for key, n in counts.items() if key not in want)
    return bad_batches, bad_keys, extras


def _stored_keys(spark, store_root: str) -> list[tuple[str, str, int]]:
    """The ``vehicle_location`` store's keys, with each service id
    mapped back to its direction tag."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.pipelines.dimension_refresh import DimensionStore
    from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable
    from nextbus2pg_spark.streaming.ingest import DEDUP_KEYS

    store = DimensionStore(spark, store_root)
    locations = ParquetUpsertTable(
        spark, os.path.join(store_root, "vehicle_location"),
        key_cols=list(DEDUP_KEYS),
    )
    svc = store.service.read().select("service_id", F.col("tag").alias("dir"))
    rows = (
        locations.read()
        .join(F.broadcast(svc), "service_id", "left_outer")
        .select(
            "dir", "vehicle_tag",
            F.unix_timestamp(
                F.col("location_timestamp").cast("timestamp")
            ).alias("ts"),
        )
        .collect()
    )
    return [(r["dir"], r["vehicle_tag"], int(r["ts"])) for r in rows]


def run_ingest_workload(ctx: Ctx) -> Result:
    from nextbus2pg_spark.pipelines.app import main as app_main

    spark = ctx.spark
    res = Result()
    rng = random.Random(f"ingest-feed:{ctx.seed}")
    agency = Agency(ctx.seed, INGEST_ROUTES, STOPS_PER_ROUTE,
                    VEHICLES_PER_ROUTE)
    spool = os.path.join(ctx.work, "spool")
    config = os.path.join(ctx.work, "config")
    store_root = os.path.join(ctx.work, "store")
    os.makedirs(spool)
    agency.write_config(config)
    probe = SinkProbe(ctx.tracer) if ctx.trace else None

    # Backlog: BACKLOG_SWEEPS sweeps in the past, BACKLOG_SPACING_S apart.
    # Some vehicles repeat their previous report, so the catch-up batch
    # holds duplicate keys, which the store must hold once.
    last: dict[str, dict] = {r.tag: {} for r in agency.routes}
    now = time.time()
    expected: list[tuple[str, str, str, int, int]] = []
    backlog_bytes = 0
    for k in range(BACKLOG_SWEEPS):
        ms = int((now - (BACKLOG_SWEEPS - k) * BACKLOG_SPACING_S) * 1000)
        for route in agency.routes:
            xml, keys = agency.vehicle_doc(
                route, ms, rng, BACKLOG_MAX_SECS, last=last[route.tag],
                repeat_share=BACKLOG_REPEAT_SHARE,
            )
            publish(spool, route.tag, ms, xml)
            backlog_bytes += len(xml)
            expected.extend((route.tag, *key, ms) for key in keys)
    backlog_keys = len({key[1:4] for key in expected})  # rows it lands

    # The app as its command line runs it: agency bootstrap, the
    # bootstrap dimension refresh, then the stream on its trigger.
    app_t0 = time.perf_counter()
    query = app_main([
        "-a", AGENCY_TAG, "-r", str(RESTTIME_S), "--spool", spool,
        "--config", config, "--store", store_root,
        "--checkpoint", os.path.join(ctx.work, "checkpoint"),
    ], spark=spark)
    app_start_s = time.perf_counter() - app_t0
    setup_s = time.perf_counter() - ctx.setup_started
    gen = None
    try:
        # Catch-up: the first micro-batch drains the whole backlog.
        first = _await(query, bool, COMMIT_TIMEOUT_S)[0]
        catchup_s = first["durationMs"]["triggerExecution"] / 1e3

        # Live: publish on schedule from the next slot on. The batch
        # at the first trigger after that is a warm-up; the documents
        # measured are those due in the whole trigger periods after it
        # that cover --seconds, so each period's documents commit in
        # one batch and wait the same set of times for their trigger.
        # The load stays on until each measured document has committed.
        # Live reports are fresh (secsSinceReport below the period), so
        # no two live documents share a key.
        t0 = first_slot(time.time() + 0.05, RESTTIME_S, len(agency.routes))
        gen = OpenLoopGenerator(agency, spool, rng, t0, RESTTIME_S,
                                RESTTIME_S - 1)
        gen.start()
        window_start = math.ceil(t0 / RESTTIME_S) * RESTTIME_S
        window_end = window_start + RESTTIME_S * max(1, math.ceil(
            ctx.seconds / RESTTIME_S))
        time.sleep(window_end - time.time() + 0.2)  # last publish lands
        measured = [
            (route, ms, due) for route, ms, due, _a in gen.snapshot()
            if window_start <= due < window_end
        ]

        def all_committed(batches):
            return all(
                any(_covered(ms, route, b) for b in batches)
                for route, ms, _due in measured
            )

        _await(query, all_committed, COMMIT_TIMEOUT_S)
        gen.stop()
        deadline = time.time()
    finally:
        if gen is not None and gen.thread.is_alive():
            gen.stop_event.set()
            gen.thread.join(timeout=60)
        query.stop()
    batches = _progress_batches(query)
    expected.extend(gen.keys)

    lags = attribute_lag(
        measured,
        [(b["start"], b["end"], b["reported"]) for b in batches],
        deadline,
    )
    stored = _stored_keys(spark, store_root)
    bad_batches, bad_keys, extras = compare_keys(stored, expected, batches)
    res.attempted = len(batches) + 1  # every micro-batch + the store check
    res.failed = len(bad_batches) + (1 if extras else 0)
    if bad_keys or extras:
        res.notes.append(
            f"ingest: {bad_keys} keys lost or doubled, "
            f"{extras} unexpected rows"
        )

    res.e2e = {
        "setup_s": setup_s,
        "first_op_s": catchup_s,
        "op_p50_s": median(lags),
    }
    published = gen.snapshot()
    lateness = [actual - due for _r, _ms, due, actual in published]
    live = batches[1:]
    res.live_batch_ids = [b["batchId"] for b in live]
    res.live_partitions = [
        sum(1 for route, ms in b["end"].items()
            if int(ms) > int((b["start"] or {}).get(route, 0)))
        for b in live
    ]
    res.layer.update({
        "ingest.catchup_rows_per_s": backlog_keys / catchup_s,
        "ingest.lag_max_s": max(lags),
        "ingest.live_docs": float(len(measured)),
        "ingest.live_batches": float(len(live)),
        "ingest.app_start_s": app_start_s,
        "gen.lateness_p50_s": median(lateness),
        "gen.lateness_max_s": max(lateness),
    })
    if ctx.trace and live:
        def dur(key):
            return median([b["durationMs"].get(key, 0) for b in live])

        def dims_read_s(b):
            # The app's dims_provider reads the route and service tables
            # once per batch; nothing else reads a table while the
            # stream runs.
            return sum(s.seconds for s in ctx.tracer.spans
                       if s.name == "sink.read"
                       and b["begin"] <= s.wall <= b["reported"])

        in_rows = sum(b["numInputRows"] for b in batches)
        res.layer.update({
            "feed.latest_offset_ms": dur("latestOffset"),
            "feed.docs_per_batch": median([
                sum(1 for route, ms, _d, _a in published
                    if _covered(ms, route, b))
                for b in live
            ]),
            "feed.rows_per_batch": median([b["numInputRows"] for b in live]),
            "ingest.add_batch_ms": dur("addBatch"),
            "ingest.trigger_ms": dur("triggerExecution"),
            "ingest.query_planning_ms": dur("queryPlanning"),
            "ingest.wal_commit_ms": dur("walCommit"),
            "ingest.commit_offsets_ms": dur("commitOffsets"),
            "ingest.dims_provider_s": median(
                [dims_read_s(b) for b in live]
            ),
            "ingest.rows_out_per_in": len(stored) / in_rows,
        })
        res.layer.update(probe.layer(backlog_bytes + gen.bytes))
    return res
