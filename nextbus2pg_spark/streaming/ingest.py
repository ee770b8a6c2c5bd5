"""Continuous vehicle-location ingest — the reference's hot path
(``/root/reference/run.py:117-119`` → ``agency.py:239-324`` →
``route.py:145-206``) as one Structured Streaming pipeline.

Pipeline (SURVEY.md §3 "Spark shape"):

    source (file/memory/kafka micro-batches of raw feed rows)
      → transform_feed: project + casts + event-time derivation (P6/X2)
      → resolve_service: two-level broadcast fallback join (J2/J6),
        unresolved rows dropped-with-count (F5)
      → per-batch dedup on the event grain (A2/T4)
      → foreachBatch keyed sink (K6 append / JDBC upsert)

Semantics preserved from the reference:
- event time = request time − secsSinceReport (T3, ``route.py:202``);
- dedup within batch ONLY — a key reported again in a later batch is
  appended again (T4, ``agency.py:316-317``);
- replays: the reference re-appends a retried sweep (T6,
  ``run.py:114-121``); here the app's sink appends inside the store's
  transaction on the batch id, so a micro-batch the runtime replays
  after a crash is written once (exactly-once);
- empty batches are no-ops (T7, ``agency.py:303``): each micro-batch
  is staged once (``operators.metrics.staged``) and its row count is
  observed in that staging job, so the emptiness check costs no second
  parse of the feed documents and the pipeline reads the staged rows;
- offsets: the reference threads an in-memory ``request_times`` dict
  (T2) that loses state on crash (``run.py:96,117-119``); here source
  offsets commit transactionally with the streaming checkpoint —
  strictly stronger, same visible behavior.
- dims refresh out-of-band (T5): the static sides are re-resolved per
  micro-batch inside foreachBatch, matching the reference's re-read of
  dimension tables each sweep (``agency.py:241-255``).

Scale: the feed side never shuffles — both dimension joins are
broadcasts; dedup keys include the natural partition key (service_id)
so state stays balanced. With ``dropDuplicatesWithinWatermark`` (T8
extension, off by default) cross-batch dedup bounds state by watermark.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nextbus2pg_spark.functions.scalar import (
    bool_from_string,
    epoch_ms_to_ts,
    event_time,
    point_struct,
)
from nextbus2pg_spark.operators.joins import two_level_fallback
from nextbus2pg_spark.operators.metrics import staged

#: Event-grain dedup key (A2, ``agency.py:316-317``).
DEDUP_KEYS = ("service_id", "vehicle_tag", "location_timestamp")


def transform_feed(raw: DataFrame) -> DataFrame:
    """Raw feed rows → typed vehicle rows with derived event time.

    Mirrors ``route.py:197-204``: casts, ``predictable == 'true'``,
    location struct, event_time = request_ts − secs_since_report.
    Works identically on batch and streaming DataFrames (pure
    projection — no shuffle, fully codegen'd).

    The request timestamp ROUNDS to whole seconds before the
    subtraction (``route.py:165-167``:
    ``utcfromtimestamp(round(ms/1000))``) — for a non-second-aligned
    ``lastTime`` the sub-second residue must NOT leak into
    ``location_timestamp``, which is also a dedup-key column.
    """
    request_ts = epoch_ms_to_ts(F.col("request_time_ms"))
    return raw.select(
        F.col("route_tag"),
        F.col("dir_tag"),
        F.col("vehicle_id").alias("vehicle_tag"),
        point_struct(F.col("lon"), F.col("lat")).alias("vehicle_location"),
        event_time(request_ts, F.col("secs_since_report").cast("double")).alias(
            "location_timestamp"
        ),
        bool_from_string(F.col("predictable")).alias("is_predictable"),
    )


def resolve_service(
    vehicles: DataFrame,
    route_services: DataFrame,
    agency_services: DataFrame,
) -> DataFrame:
    """Attach service_id via the two-level fallback (J6,
    ``route.py:177-194``): route-scoped tag→service first, then
    agency-wide; unresolved rows are dropped (F5 logs them — expose the
    count via ``unresolved_count`` instead of a side-effect log).

    Route scoping: when ``route_services`` carries a ``route_tag``
    column, the primary lookup key is the COMPOSITE (route_tag,
    dir_tag) — the reference builds its primary dict per route, so the
    same direction tag on two routes maps to two different services
    and a tag-only join would fan every matching vehicle row out
    across routes. Without the column, the single-tag behavior is
    unchanged (the fixture-dim path). Lookup sides must be unique per
    key — a duplicate-keyed primary multiplies fact rows.

    Both dimension sides broadcast: the vehicle stream never shuffles.
    """
    if "route_tag" in route_services.columns:
        # concat_ws silently DROPS null components, so ('A', NULL) and
        # (NULL, 'A') would both key as 'A'. Coalesce each component to
        # '' instead: components stay positional (the separator always
        # renders, so 'A'+sep+'' ≠ ''+sep+'A') and NULL keys equal ''
        # keys — EXACTLY the keyed-write/store semantics, where the
        # COALESCE(col, '') unique index makes NULL and '' one key
        # (SURVEY §2.2 K3, sql/create_tables.sql:62-63).
        sep = "\x1f"  # unit separator: cannot appear in wire tags

        def _key(a: Column, b: Column) -> Column:
            return F.concat_ws(
                sep, F.coalesce(a, F.lit("")), F.coalesce(b, F.lit(""))
            )

        fact = vehicles.withColumn(
            "__rt_dir", _key(F.col("route_tag"), F.col("dir_tag"))
        )
        primary = route_services.select(
            _key(F.col("route_tag"), F.col("tag")).alias("__rt_dir"),
            F.col("service_id").alias("__p_service"),
        )
        out = (
            fact.join(F.broadcast(primary), "__rt_dir", "left_outer")
            .drop("__rt_dir")
        )
        secondary = agency_services.select(
            F.col("tag").alias("dir_tag"),
            F.col("service_id").alias("__s_service"),
        )
        out = (
            out.join(F.broadcast(secondary), "dir_tag", "left_outer")
            .withColumn(
                "service_id",
                F.coalesce(F.col("__p_service"), F.col("__s_service")),
            )
            .drop("__p_service", "__s_service")
        )
        return out.where(F.col("service_id").isNotNull())
    return two_level_fallback(
        vehicles,
        primary=route_services.select(
            F.col("tag").alias("dir_tag"), F.col("service_id")
        ),
        secondary=agency_services.select(
            F.col("tag").alias("dir_tag"), F.col("service_id")
        ),
        fact_key="dir_tag",
        lookup_key="dir_tag",
        value_col="service_id",
        out_col="service_id",
        drop_unresolved=True,
    )


def unresolved_count(
    vehicles: DataFrame,
    route_services: DataFrame,
    agency_services: DataFrame,
) -> int:
    """F5's log line as a metric: vehicles resolving in neither dim."""
    tags = (
        route_services.select(F.col("tag").alias("dir_tag"))
        .unionByName(agency_services.select(F.col("tag").alias("dir_tag")))
        .distinct()
    )
    return vehicles.join(F.broadcast(tags), "dir_tag", "left_anti").count()


def vehicle_pipeline(
    raw: DataFrame,
    route_services: DataFrame,
    agency_services: DataFrame,
    cross_batch_dedup: bool = False,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Full transform for one micro-batch (or a batch backfill).

    ``cross_batch_dedup`` enables the T8 extension
    (``withWatermark`` + ``dropDuplicatesWithinWatermark``) — NOT
    reference semantics (the reference accepts cross-batch duplicates),
    so it defaults off.
    """
    out = resolve_service(
        transform_feed(raw), route_services, agency_services
    ).select(
        "service_id",
        "vehicle_tag",
        "vehicle_location",
        "location_timestamp",
        "is_predictable",
    )
    if cross_batch_dedup and out.isStreaming:
        out = out.withColumn(
            "location_ts_tz", F.col("location_timestamp").cast("timestamp")
        )
        out = (
            out.withWatermark("location_ts_tz", watermark)
            .dropDuplicatesWithinWatermark(list(DEDUP_KEYS))
            .drop("location_ts_tz")
        )
    return out


def start_ingest(
    raw_stream: DataFrame,
    dims_provider: Callable[[], tuple[DataFrame, DataFrame]],
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Wire the streaming query: micro-batch trigger (T1) +
    ``foreachBatch`` keyed sink, per-batch dedup (T4) inside the sink
    boundary. A replayed batch carries its original ``batch_id`` and
    identical rows; ``sink(rows, batch_id)`` makes the write
    exactly-once by committing it in a store transaction on that id
    (the app's sink; ``sinks/exactly_once.py``).

    ``dims_provider`` is called per batch — the static sides re-resolve
    each micro-batch, which is exactly the reference's per-sweep dim
    re-read (T5).
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df, seen = staged(batch_df, n=F.count(F.lit(1)))
        if seen["n"] == 0:  # T7
            return
        route_services, agency_services = dims_provider()
        out = vehicle_pipeline(batch_df, route_services, agency_services)
        out = out.dropDuplicates(list(DEDUP_KEYS))  # A2/T4
        sink(out, batch_id)

    writer = (
        raw_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
