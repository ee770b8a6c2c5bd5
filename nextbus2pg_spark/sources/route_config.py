"""routeConfig document adapter: one verbose routeConfig XML per route
(``/root/reference/route.py:20-24,54-58,95-99``) → three relations.

The reference fetches the SAME document three times per refresh (once
per extraction — a known inefficiency SURVEY.md §4 O5 says NOT to
copy); here one parse yields all three relations:

- ``body_stops``: stops declared in the document body
  (``route.py:64-71`` — XPath-scoped, NOT direction-nested stops);
- ``directions``: one row per direction = service candidate
  (``route.py:27-34``);
- ``direction_stops``: ordered stop lists per direction
  (``route.py:124-128`` — document order carried as ``position``),
  each row carrying the ``title, lon, lat`` of the body stop it means.

Which body stop a direction stop means is decided here, once, for
every consumer (the stop upsert and the stop-order join both read it):

- J3: its own route's body stop with that tag;
- J5: else the first same-tag body stop of any parsed route, ordered
  by (lon, lat, title) as the stop table stores them — doubles under
  Spark's ``asc_nulls_last`` (NaN after every number, NULL last) —
  then by route tag (``agency.py:146-151``: "so that choice of stop
  is deterministic");
- J4: else NULLs (``agency.py:162-170``).

A route with several same-tag body stops resolves to the first of them
in the same order. NULL tags never match (SQL equi-join semantics).

Parsing happens driver-side with ElementTree: routeConfig documents are
dimension data (hundreds of routes × KBs), orders of magnitude below
executor-worthy volume; the fact stream (vehicle locations) is the only
high-volume path and never flows through here.
"""

from __future__ import annotations

import math
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

BODY_STOP_SCHEMA = StructType(
    [
        StructField("route_tag", StringType(), False),
        StructField("stop_tag", StringType(), True),
        StructField("title", StringType(), True),
        StructField("lon", StringType(), True),
        StructField("lat", StringType(), True),
    ]
)

DIRECTION_SCHEMA = StructType(
    [
        StructField("route_tag", StringType(), False),
        StructField("dir_tag", StringType(), True),
        StructField("title", StringType(), True),
        StructField("name", StringType(), True),
        StructField("use_for_ui", BooleanType(), True),
    ]
)

DIRECTION_STOP_SCHEMA = StructType(
    [
        StructField("route_tag", StringType(), False),
        StructField("dir_tag", StringType(), True),
        StructField("stop_tag", StringType(), True),
        StructField("position", IntegerType(), False),
        StructField("title", StringType(), True),
        StructField("lon", StringType(), True),
        StructField("lat", StringType(), True),
    ]
)


def _coordinate_key(text: str | None) -> tuple:
    """Sort key of ``CAST(text AS DOUBLE)`` — the stop table's coordinate
    — under Spark's ``asc_nulls_last``: numbers, then NaN, then NULL.
    Text the cast cannot read sorts as NULL (under ANSI the stop
    upsert's cast raises on it anyway)."""
    try:
        value = float(text)
    except (TypeError, ValueError):
        return (2,)
    return (1,) if math.isnan(value) else (0, value)


def _donor_order(body_stop: tuple) -> tuple:
    """J5's order over body stops (route_tag, stop_tag, title, lon, lat):
    lon, lat, then title with NULL last, then route tag."""
    route_tag, _tag, title, lon, lat = body_stop
    return (
        _coordinate_key(lon),
        _coordinate_key(lat),
        (title is None, title or ""),
        route_tag,
    )


@dataclass
class RouteConfig:
    """Parsed routeConfig relations for a set of routes."""

    body_stops: list[tuple] = field(default_factory=list)
    directions: list[tuple] = field(default_factory=list)
    direction_stops: list[tuple] = field(default_factory=list)

    def add_document(self, route_tag: str, payload: str) -> None:
        """Parse one routeConfig XML document (all three extractions in
        one pass — fixing O5's triple fetch)."""
        root = ET.fromstring(payload)
        for route in root.iter("route"):
            for stop in route.findall("stop"):  # body-scoped only (P4)
                self.body_stops.append(
                    (
                        route_tag,
                        stop.get("tag"),
                        stop.get("title"),
                        stop.get("lon"),
                        stop.get("lat"),
                    )
                )
            for d in route.findall("direction"):
                self.directions.append(
                    (
                        route_tag,
                        d.get("tag"),
                        d.get("title"),
                        d.get("name"),
                        d.get("useForUI") == "true",  # X5 (route.py:33)
                    )
                )
                for pos, s in enumerate(d.findall("stop"), start=1):
                    self.direction_stops.append(
                        (route_tag, d.get("tag"), s.get("tag"), pos)
                    )

    def _resolved_direction_stops(self) -> list[tuple]:
        """``direction_stops`` rows extended with the (title, lon, lat)
        of the body stop each one means (J3, else J5, else J4 NULLs)."""
        own: dict[tuple, tuple] = {}
        any_route: dict[str, tuple] = {}
        for route_tag, tag, *attrs in sorted(self.body_stops, key=_donor_order):
            if tag is not None:
                own.setdefault((route_tag, tag), tuple(attrs))
                any_route.setdefault(tag, tuple(attrs))
        return [
            (route_tag, dir_tag, tag, pos)
            + own.get((route_tag, tag), any_route.get(tag, (None,) * 3))
            for route_tag, dir_tag, tag, pos in self.direction_stops
        ]

    def to_dataframes(
        self, spark: SparkSession
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        return (
            spark.createDataFrame(self.body_stops, BODY_STOP_SCHEMA),
            spark.createDataFrame(self.directions, DIRECTION_SCHEMA),
            spark.createDataFrame(
                self._resolved_direction_stops(), DIRECTION_STOP_SCHEMA
            ),
        )
