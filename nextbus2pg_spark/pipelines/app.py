"""Continuous-application driver — the reference's entry point
(``/root/reference/run.py:35-121``) re-expressed on Spark's runtime:

- CLI surface (``run.py:35-57``): agency key, rest interval (seconds
  between sweeps), IANA timezone for the daily-refresh rollover.
- Bootstrap (``run.py:92``): agency upsert runs once at startup.
- Continuous ingest (``run.py:98-121``): in the reference, an
  infinite ``sleep(resttime)`` loop; here, the Structured Streaming
  query from ``streaming/ingest.py`` with
  ``trigger(processingTime=resttime)`` — scheduling, offset
  durability (checkpoint), and retry move from hand-written Python
  into the streaming runtime. A retried batch is appended once: the
  sink commits it in a store transaction on (query id, batch id).
- Daily dimension refresh at local-midnight rollover
  (``run.py:101-113``): detection is a pure function of
  (last-refresh local date, current UTC time, tz) so it is unit-
  testable; each micro-batch runs the check on the driver before it
  resolves its dimensions; refresh failures retry ``n_tries`` times
  (``run.py:69-77``) and then surface instead of being silently
  swallowed (the reference's bare-except bug, SURVEY.md §3).

The loop body itself stays thin glue — everything it calls is the
independently tested refresh/ingest machinery.
"""

from __future__ import annotations

import argparse
import datetime as dt
from collections.abc import Callable
from zoneinfo import ZoneInfo


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """CLI surface of the reference driver (``run.py:35-57``)."""
    p = argparse.ArgumentParser(
        description="Continuous vehicle-location ingest with daily "
        "dimension refresh."
    )
    p.add_argument("-a", "--agency", required=True, help="agency key")
    p.add_argument(
        "-r",
        "--resttime",
        type=float,
        default=10.0,
        help="seconds between ingest sweeps (micro-batch trigger period)",
    )
    p.add_argument(
        "-z",
        "--timezone",
        default="UTC",
        help="IANA timezone for the local-midnight refresh rollover",
    )
    p.add_argument(
        "--checkpoint", required=True, help="streaming checkpoint directory"
    )
    p.add_argument(
        "--store", required=True, help="dimension-store root directory"
    )
    p.add_argument(
        "--spool",
        help="vehicleLocations spool dir for the nextbus_feed source "
        "(<route>__<time_ms>.xml documents)",
    )
    p.add_argument(
        "--config",
        help="config-document snapshot dir (agencyList.xml, "
        "routeList.xml, routeConfig__<tag>.xml)",
    )
    p.add_argument(
        "--feed-url",
        help="feed endpoint base URL; when given, an HTTP polling "
        "fetcher (sources/http_fetcher.py) runs on a daemon thread, "
        "filling --spool with <route>__<time_ms>.xml documents every "
        "resttime seconds (routes from routeList.xml). Without it the "
        "spool is expected to be filled externally.",
    )
    return p.parse_args(argv)


def local_date(now_utc: dt.datetime, tz: str) -> dt.date:
    """UTC instant → local calendar date (``run.py:60,103-104``).

    Uses the stdlib zone database (the reference uses pytz; semantics
    are identical for date extraction).
    """
    aware = now_utc.replace(tzinfo=dt.timezone.utc)
    return aware.astimezone(ZoneInfo(tz)).date()


def needs_refresh(
    last_refresh_local: dt.date | None, now_utc: dt.datetime, tz: str
) -> bool:
    """True when the local calendar day has rolled over since the last
    refresh (``run.py:103-111``) — or when no refresh ever ran (the
    reference refreshes dimensions on startup via its first loop pass).
    """
    if last_refresh_local is None:
        return True
    return local_date(now_utc, tz) > last_refresh_local


class RefreshScheduler:
    """Tracks the rollover state and runs the refresh under the retry
    policy. ``tick()`` is called at the start of each micro-batch
    (cheap: a date compare unless a refresh is due)."""

    def __init__(
        self,
        refresh_fn: Callable[[], None],
        tz: str = "UTC",
        n_tries: int = 10,
        clock: Callable[[], dt.datetime] = dt.datetime.utcnow,
    ) -> None:
        self.refresh_fn = refresh_fn
        self.tz = tz
        self.n_tries = n_tries
        self.clock = clock
        self.last_refresh_local: dt.date | None = None
        self.refresh_count = 0

    def tick(self) -> bool:
        """Run the refresh iff the local day rolled over. Returns
        whether a refresh ran. Retries ``n_tries`` times then raises
        (run.py:69-77, minus the swallowed-failure bug)."""
        now = self.clock()
        if not needs_refresh(self.last_refresh_local, now, self.tz):
            return False
        from nextbus2pg_spark.pipelines.dimension_refresh import with_retries

        with_retries(self.refresh_fn, n_tries=self.n_tries)
        # Commit the rollover marker only after success, so a failed
        # refresh is retried on the next tick (reference behavior:
        # update_date only advances after the refresh block, run.py:113).
        self.last_refresh_local = local_date(now, self.tz)
        self.refresh_count += 1
        return True


def run_app(
    raw_stream,
    dims_provider,
    sink,
    scheduler: RefreshScheduler,
    checkpoint_dir: str,
    resttime_seconds: float = 10.0,
    await_seconds: float | None = None,
):
    """Wire bootstrap + continuous ingest + scheduled refresh.

    The refresh check piggybacks on the micro-batch cadence: each
    non-empty batch calls ``scheduler.tick()`` just before it resolves
    its dimensions, so a batch that arrives after the rollover already
    sees the refreshed services — the reference checks the date before
    its sweep (``run.py:101-119``). All driver-side work stays on one
    thread.
    """
    from nextbus2pg_spark.streaming.ingest import start_ingest

    scheduler.tick()  # bootstrap refresh (first loop pass)

    def refreshed_dims():
        scheduler.tick()
        return dims_provider()

    query = start_ingest(
        raw_stream,
        refreshed_dims,
        sink,
        checkpoint_dir,
        trigger_seconds=int(resttime_seconds) or None,
    )
    if await_seconds is not None:
        query.awaitTermination(await_seconds)
    return query


def _parse_route_list(payload: str):
    """routeList XML → [(tag, title)] (``agency.py:42-49`` projection)."""
    import xml.etree.ElementTree as ET

    return [
        (r.get("tag"), r.get("title"))
        for r in ET.fromstring(payload).iter("route")
    ]


def _parse_agency_list(payload: str):
    """agencyList XML → [(tag, title, regionTitle)] (``agency.py:19-23``)."""
    import xml.etree.ElementTree as ET

    return [
        (a.get("tag"), a.get("title"), a.get("regionTitle"))
        for a in ET.fromstring(payload).iter("agency")
    ]


def main(argv: list[str] | None = None, spark=None):
    """The reference's ``run.py`` as one assembled command:

        python -m nextbus2pg_spark -a sf-muni \\
            --spool SPOOL --config CONFIG --checkpoint CKPT --store STORE

    - ``--config`` holds the document snapshots a fetcher maintains:
      ``agencyList.xml``, ``routeList.xml``, ``routeConfig__<tag>.xml``
      (the engine consumes payloads; HTTP stays outside — the module
      stance of ``sources/feed.py``).
    - ``--spool`` is the vehicleLocations spool of the ``nextbus_feed``
      DSv2 source (``<route>__<time_ms>.xml``); offsets live in the
      streaming checkpoint.
    - ``--resttime 0`` runs one availableNow sweep and exits (backfill
      / test mode); otherwise micro-batches fire every resttime
      seconds with the daily dimension refresh checked between batches
      exactly like the reference's per-sweep date check.

    Returns the StreamingQuery (already awaited in ``--resttime 0``
    mode).
    """
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from nextbus2pg_spark.pipelines.dimension_refresh import (
        DimensionStore,
        make_agency_table,
        refresh_agencies,
        run_refresh,
    )
    from nextbus2pg_spark.session import get_spark
    from nextbus2pg_spark.sinks.store import stream_app_id
    from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable
    from nextbus2pg_spark.sources.feed_stream import VehicleFeedDataSource
    from nextbus2pg_spark.sources.route_config import RouteConfig
    from nextbus2pg_spark.streaming.ingest import DEDUP_KEYS

    args = parse_args(argv)
    if not args.spool or not args.config:
        raise SystemExit(
            "nextbus2pg_spark: --spool and --config are required for the "
            "assembled app (they are optional in parse_args only so the "
            "flags can be introspected without values)"
        )
    spark = spark or get_spark(f"nextbus2pg-{args.agency}")
    spark.dataSource.register(VehicleFeedDataSource)

    def read_config(name: str) -> str:
        with open(os.path.join(args.config, name), encoding="utf-8") as f:
            return f.read()

    # Bootstrap (run.py:92): agency upsert once at startup.
    agency_table = make_agency_table(spark, args.store)
    agencies = spark.createDataFrame(
        _parse_agency_list(read_config("agencyList.xml")),
        "tag string, title string, regionTitle string",
    )
    refresh_agencies(agency_table, agencies)

    store = DimensionStore(spark, args.store)

    def refresh() -> None:
        route_list = spark.createDataFrame(
            _parse_route_list(read_config("routeList.xml")),
            "tag string, title string",
        )
        cfg = RouteConfig()
        for path in sorted(
            _glob.glob(os.path.join(args.config, "routeConfig__*.xml"))
        ):
            tag = os.path.basename(path)[len("routeConfig__"):-len(".xml")]
            with open(path, encoding="utf-8") as f:
                cfg.add_document(tag, f.read())
        body_stops, directions, direction_stops = cfg.to_dataframes(spark)
        run_refresh(
            store, route_list, body_stops, directions, direction_stops,
            agency_id=args.agency,
        )

    scheduler = RefreshScheduler(refresh, tz=args.timezone)

    locations = ParquetUpsertTable(
        spark, os.path.join(args.store, "vehicle_location"),
        key_cols=list(DEDUP_KEYS),
    )

    def dims_provider():
        # Primary: ROUTE-SCOPED (route_tag, tag) -> service, exactly the
        # reference's per-route dict (route.py:177-186) — the same
        # direction tag on two routes maps to that route's own service.
        # Secondary: agency-wide tag -> service with a deterministic
        # one-row-per-tag collapse (the reference's dict construction
        # is last-wins; min service_id here so retries agree).
        svc = store.service.read()
        routes = store.route.read().select(
            F.col("route_id"), F.col("tag").alias("route_tag")
        )
        primary = svc.join(routes, "route_id").select(
            "route_tag", "tag", "service_id"
        )
        secondary = svc.groupBy("tag").agg(
            F.min("service_id").alias("service_id")
        )
        return primary, secondary

    if args.feed_url:
        # The live-HTTP mode: one fetcher owns the endpoint
        # (route.py:151-169's polling loop), the stream consumes its
        # spool. In backfill mode (--resttime 0: one availableNow
        # sweep) the fetch is ONE SYNCHRONOUS poll before the stream
        # plans its batch — deterministic, no daemon to race the
        # sweep; in continuous mode a daemon thread polls every
        # resttime seconds and never outlives the query.
        from nextbus2pg_spark.sources.http_fetcher import HttpFeedFetcher

        route_tags = [
            t for t, _title in _parse_route_list(
                read_config("routeList.xml")
            )
        ]
        fetcher = HttpFeedFetcher(
            args.feed_url, args.agency, route_tags, args.spool
        )
        if not int(args.resttime):
            fetcher.poll_once()
        else:
            import threading

            threading.Thread(
                target=lambda: fetcher.run(
                    n_polls=2 ** 31, interval_s=float(args.resttime)
                ),
                daemon=True,
                name="nextbus-feed-fetcher",
            ).start()

    raw = (
        spark.readStream.format("nextbus_feed")
        .option("path", args.spool)
        .load()
    )
    def sink(batch_df, batch_id: int) -> None:
        # A replayed batch id is already in the manifest: no re-append.
        with locations.store.transaction(stream_app_id(spark), batch_id):
            locations.append_dedup(batch_df)

    query = run_app(
        raw,
        dims_provider,
        sink,
        scheduler,
        args.checkpoint,
        resttime_seconds=args.resttime,
    )
    if not int(args.resttime):  # availableNow backfill mode
        query.awaitTermination()
    return query
