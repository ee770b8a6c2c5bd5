"""Daily dimension refresh — the reference's entry point 2
(``/root/reference/run.py:101`` → ``agency.py:42-232``) as four batch
stages over the keyed-write layer, in FK-dependency order:

    1. routes            (agency.py:42-71,  upsert K2)
    2. services          (agency.py:78-109, sentinel row + upsert K3)
    3. stops             (agency.py:116-190, body ∪ resolved direction
                          stops, upsert K4 with its A1 dedup)
    4. service_stop_orders (agency.py:197-232, W1 numbering,
                          insert-if-absent K5)

Semantics preserved:
- stage N re-reads the tables stage N-1 materialized (the reference
  round-trips Postgres between stages, SURVEY.md §3 — stop orders must
  reference the service/stop ids THIS refresh produced);
- surrogate ids are stable across refreshes: a fresh id is minted per
  incoming row, and the upsert discards it when the business key exists
  (K2 key-stability). Ids are deterministic md5-uuids of the business
  key (SURVEY.md §7 hard-part #4 — injectable/testable);
- the NULL-tag sentinel service per route ("vehicles not currently
  running a service", route.py:35-37) unions in before the upsert (U3);
- which stop a direction stop means — its own route's body stop (J3),
  else the deterministic top-1 same-tag body stop of any route (J5,
  agency.py:146-151), else NULLs (J4, agency.py:162-170) — is decided
  once, by the parser (``sources/route_config.py``). Stage 3 upserts
  body stops ∪ direction stops; stage 4 joins each direction stop to
  the stop row on the full null-safe stop key, so after a stop moves
  its orders reference the current location's row;
- stop dedup grain (route_id, tag, location-text) (A1) is the upsert's
  own within-batch dedup, on the NULL-tolerant location key (K4,
  create_tables.sql:85-86).

Scale: dimension tables are small-by-construction; every join here
broadcasts. The design point is correctness of the keyed-write algebra —
the high-volume path is streaming/ingest.py, which consumes these dims.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextbus2pg_spark.functions.scalar import point_struct, point_text
from nextbus2pg_spark.operators.joins import broadcast_lookup
from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable


def surrogate_uuid(*business_key_cols, prefix: str) -> F.Column:
    """Deterministic uuid-shaped surrogate from the business key."""
    h = F.md5(F.concat_ws(":", F.lit(prefix), *business_key_cols))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


@dataclass
class DimensionStore:
    """The four keyed dimension tables (parquet-backed MERGE targets;
    Delta/JDBC swap in transparently — same keyed_write algebra)."""

    spark: SparkSession
    root: str

    def __post_init__(self) -> None:
        self.route = ParquetUpsertTable(
            self.spark, f"{self.root}/route",
            key_cols=["agency_id", "tag"], update_cols=["name"],
        )
        self.service = ParquetUpsertTable(
            self.spark, f"{self.root}/service",
            key_cols=["route_id", "tag"],
            update_cols=["name", "direction", "use_for_ui"],
            null_safe=True,  # K3: COALESCE(tag,'') unique index
        )
        self.stop = ParquetUpsertTable(
            self.spark, f"{self.root}/stop",
            key_cols=["route_id", "tag", "location_text"],
            update_cols=["name"],
            null_safe=True,  # K4: COALESCE(TEXT(location),'')
        )
        self.service_stop_order = ParquetUpsertTable(
            self.spark, f"{self.root}/service_stop_order",
            key_cols=["service_id", "stop_order", "update_timestamp"],
        )


def refresh_routes(
    store: DimensionStore,
    route_list: DataFrame,
    agency_id: str,
) -> None:
    """Stage 1 (agency.py:42-71): routeList → project+keygen → upsert K2."""
    incoming = route_list.select(
        surrogate_uuid(
            F.lit(agency_id), F.col("tag"), prefix="route"
        ).alias("route_id"),
        F.lit(agency_id).alias("agency_id"),
        F.col("tag"),
        F.col("title").alias("name"),
    )
    store.route.upsert(incoming)


def refresh_services(
    store: DimensionStore,
    directions: DataFrame,
    agency_id: str,
) -> None:
    """Stage 2 (agency.py:78-109): directions + NULL-tag sentinel per
    route → upsert K3 on the null-safe (route_id, tag) key."""
    routes = store.route.read().where(F.col("agency_id") == agency_id)
    svc = broadcast_lookup(
        directions,
        routes.select(F.col("tag").alias("route_tag"), "route_id"),
        "route_tag",
    ).select(
        "route_id",
        F.col("dir_tag").alias("tag"),
        F.col("title").alias("name"),
        F.col("name").alias("direction"),
        "use_for_ui",
    )
    sentinel = routes.select(  # U3, route.py:35-37
        "route_id",
        F.lit(None).cast("string").alias("tag"),
        F.lit("No service").alias("name"),
        F.lit(None).cast("string").alias("direction"),
        F.lit(False).alias("use_for_ui"),
    )
    incoming = svc.unionByName(sentinel).select(
        surrogate_uuid(
            F.col("route_id"), F.col("tag"), prefix="service"
        ).alias("service_id"),
        "route_id",
        "tag",
        "name",
        "direction",
        "use_for_ui",
    )
    store.service.upsert(incoming)


def _located(stops: DataFrame) -> DataFrame:
    """(title, lon, lat) rows → the stop table's ``location`` and
    ``location_text``. A row with none of the three — J4's unresolved
    tag — has a NULL location, as the reference's J4 insert leaves it
    (``agency.py:162-170``)."""
    location = F.when(
        F.coalesce("title", "lon", "lat").isNotNull(),
        point_struct(F.col("lon"), F.col("lat")),
    )
    return stops.withColumn("location", location).withColumn(
        "location_text", point_text(F.col("location"))
    )


def refresh_stops(
    store: DimensionStore,
    body_stops: DataFrame,
    direction_stops: DataFrame,
    agency_id: str,
) -> None:
    """Stage 3 (agency.py:116-190): body stops ∪ direction stops, each
    already carrying the attributes of the stop it means (J3-J5,
    resolved by ``RouteConfig``) → upsert K4 (NULL-tolerant location
    key), whose within-batch dedup is A1 (agency.py:184) and folds the
    copies."""
    routes = store.route.read().where(F.col("agency_id") == agency_id)
    rt = routes.select(F.col("tag").alias("route_tag"), "route_id")
    cols = ["route_tag", "stop_tag", "title", "lon", "lat"]
    stops = body_stops.select(cols).unionByName(direction_stops.select(cols))
    incoming = _located(broadcast_lookup(stops, rt, "route_tag")).select(
        surrogate_uuid(
            F.col("route_id"), F.col("stop_tag"), F.col("location_text"),
            prefix="stop",
        ).alias("stop_id"),
        "route_id",
        F.col("stop_tag").alias("tag"),
        F.col("title").alias("name"),
        "location",
        "location_text",
    )
    store.stop.upsert(incoming)


def refresh_service_stop_orders(
    store: DimensionStore,
    direction_stops: DataFrame,
    agency_id: str,
    update_timestamp: dt.datetime | None = None,
) -> None:
    """Stage 4 (agency.py:197-232): ordered (service, stop, order) rows
    snapshotted at ``update_timestamp`` → insert-if-absent K5.

    ``position`` carries document order (route.py:124-128 counter =
    W1); tag→id resolution via broadcast joins on the tables stages 2-3
    just wrote (the reference's read-back round trip). Each direction
    stop joins the stop row on the full null-safe stop key (route,
    tag, COALESCE(location_text, '')), so it references the row stage
    3 wrote for it, not an older location of the same tag."""
    ts = update_timestamp or dt.datetime.utcnow().replace(microsecond=0)
    routes = store.route.read().where(F.col("agency_id") == agency_id)
    rt = routes.select(F.col("tag").alias("route_tag"), "route_id")
    services = store.service.read().select(
        "route_id", F.col("tag").alias("dir_tag"), "service_id"
    )
    location_key = F.coalesce(F.col("location_text"), F.lit(""))
    stops = store.stop.read().select(
        "route_id",
        F.col("tag").alias("stop_tag"),
        location_key.alias("location_key"),
        "stop_id",
    )

    rows = (
        _located(broadcast_lookup(direction_stops, rt, "route_tag"))
        .withColumn("location_key", location_key)
        .join(F.broadcast(services), ["route_id", "dir_tag"])  # J2
        .join(F.broadcast(stops), ["route_id", "stop_tag", "location_key"])
        .select(
            "service_id",
            "stop_id",
            F.col("position").alias("stop_order"),
            F.lit(ts).cast("timestamp_ntz").alias("update_timestamp"),
        )
        .where(F.col("stop_order") > 0)  # F6 CHECK constraint
    )
    store.service_stop_order.insert_if_absent(rows)


def run_refresh(
    store: DimensionStore,
    route_list: DataFrame,
    body_stops: DataFrame,
    directions: DataFrame,
    direction_stops: DataFrame,
    agency_id: str,
    update_timestamp: dt.datetime | None = None,
) -> None:
    """All four stages in FK order (run.py:69-77's refresh block; retry
    is the caller's policy, as in the reference's n_tries loop)."""
    refresh_routes(store, route_list, agency_id)
    refresh_services(store, directions, agency_id)
    refresh_stops(store, body_stops, direction_stops, agency_id)
    refresh_service_stop_orders(
        store, direction_stops, agency_id, update_timestamp
    )


def make_agency_table(spark: SparkSession, root: str) -> ParquetUpsertTable:
    """The agency table (entry point 3 bootstrap, agency.py:12-37):
    natural-key upsert K1 — the simplest full pipeline slice."""
    return ParquetUpsertTable(
        spark, f"{root}/agency",
        key_cols=["agency_id"], update_cols=["name", "region"],
    )


def refresh_agencies(
    agency_table: ParquetUpsertTable, agency_list: DataFrame
) -> None:
    """K1 (agency.py:26-37): fetch S1 → project P1 → upsert on the
    natural key. Columns: (tag → agency_id, title → name,
    regionTitle → region)."""
    incoming = agency_list.select(
        F.col("tag").alias("agency_id"),
        F.col("title").alias("name"),
        F.col("regionTitle").alias("region"),
    )
    agency_table.upsert(incoming)


def with_retries(fn, n_tries: int = 10, on_error=None):
    """T6 retry policy (run.py:69-77): retry the whole refresh block up
    to ``n_tries`` times. Unlike the reference — which swallows the
    final failure with a bare except (SURVEY.md §3 notes the bug) —
    the last exception re-raises."""
    last = None
    for attempt in range(n_tries):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - mirror reference breadth
            last = e
            if on_error is not None:
                on_error(attempt, e)
    raise last
