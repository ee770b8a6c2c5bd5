"""Postgres-backed keyed tables — the reference's ACTUAL deployment
target (``/root/reference/connect.py`` + ``sql/create_tables.sql``) as
a drop-in store for the dimension-refresh pipeline.

``PostgresUpsertTable`` exposes the same ``upsert / insert_if_absent /
read`` surface as :class:`~nextbus2pg_spark.sinks.upsert.
ParquetUpsertTable`, but state lives in real Postgres tables with the
reference's unique indexes (including the COALESCE expression indexes,
``sql/create_tables.sql:62-63,85-86``), written through
``jdbc_upsert_writer``'s per-partition multi-row ``ON CONFLICT``
statements — executors connect via any DB-API factory (psycopg2 in a
real deployment; the zero-dependency ``psql_dbapi`` shim in this
container).

``PostgresDimensionStore`` mirrors ``pipelines.dimension_refresh.
DimensionStore`` table-for-table so ``run_refresh`` executes unchanged
against either backend; ``tests/test_postgres_upsert_integration.py``
asserts the two stores produce IDENTICAL rows from identical inputs.

Scale/typing notes:

- ``read()`` is a driver-side COPY (text format via the psql shim;
  typed fetchall on a real DB-API driver) — dimension tables are small
  by construction (the reference re-reads them per sweep the same
  way). The fact stream (vehicle_location) is append-only and never
  read back by the pipeline, so no distributed JDBC scan is needed for
  parity; MIGRATION.md maps that to ``spark.read.jdbc`` partitioned
  reads for analytical reloads.
- The stop table flattens the lon/lat point struct into two DOUBLE
  PRECISION columns plus the canonical ``location_text`` (X10) — the
  reference stores PostGIS ``GEOMETRY(POINT)``; lon/lat columns carry
  the same information without requiring the PostGIS extension in the
  test cluster (SURVEY §1.2: the reference never runs a spatial
  predicate, so the struct/text form is semantically sufficient).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nextbus2pg_spark.sinks.upsert import jdbc_upsert_writer

_COPY_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f", "v": "\v",
    "\\": "\\",
}


def _copy_text_field(v: str):
    """Decode one COPY TO STDOUT (text format) field: ``\\N`` alone is
    NULL; otherwise unescape in a SINGLE pass (chained str.replace
    would mis-decode a literal backslash followed by 't')."""
    if v == "\\N":
        return None
    return re.sub(
        r"\\(.)", lambda m: _COPY_ESCAPES.get(m.group(1), m.group(1)), v
    )


_PG_TYPES = {
    "string": "TEXT",
    "double": "DOUBLE PRECISION",
    "int": "INTEGER",
    "integer": "INTEGER",
    "bigint": "BIGINT",
    "boolean": "BOOLEAN",
    "timestamp_ntz": "TIMESTAMP",
    "timestamp": "TIMESTAMP",
}


class PostgresUpsertTable:
    """One keyed Postgres table with the ParquetUpsertTable surface."""

    def __init__(
        self,
        spark: SparkSession,
        connection_factory: Callable,
        table: str,
        schema_ddl: str,
        key_cols: Sequence[str],
        update_cols: Sequence[str] | None = None,
        null_safe_keys: Sequence[str] = (),
    ):
        self.spark = spark
        self.connection_factory = connection_factory
        self.table = table
        self.schema = T._parse_datatype_string(schema_ddl)
        self.key_cols = list(key_cols)
        self.update_cols = update_cols
        self.null_safe_keys = list(null_safe_keys)
        self._ensured = False

    # -- DDL -----------------------------------------------------------

    def ensure(self) -> None:
        """Idempotent CREATE TABLE + unique (expression) index — the
        reference's ``CREATE TABLE IF NOT EXISTS`` DDL stance."""
        if self._ensured:
            return
        cols = ", ".join(
            f"{f.name} {_PG_TYPES[f.dataType.simpleString()]}"
            for f in self.schema.fields
        )
        target = ", ".join(
            f"COALESCE({c}, '')" if c in self.null_safe_keys else c
            for c in self.key_cols
        )
        conn = self.connection_factory()
        try:
            cur = conn.cursor()
            cur.execute(f"CREATE TABLE IF NOT EXISTS {self.table} ({cols})")
            cur.execute(
                f"CREATE UNIQUE INDEX IF NOT EXISTS {self.table}_key "
                f"ON {self.table} ({target})"
            )
            if hasattr(conn, "commit"):
                conn.commit()  # non-autocommit DB-APIs (psycopg2 default)
        finally:
            conn.close()
        self._ensured = True

    # -- writes (executor-side, via the upsert writer) -----------------

    def _writer(self, do_nothing: bool):
        return jdbc_upsert_writer(
            table=self.table,
            key_cols=self.key_cols,
            update_cols=self.update_cols,
            null_safe_keys=self.null_safe_keys,
            do_nothing=do_nothing,
            connection_factory=self.connection_factory,
            paramstyle="format",
        )

    def _project(self, df: DataFrame) -> DataFrame:
        return df.select(*[f.name for f in self.schema.fields])

    def upsert(self, incoming: DataFrame) -> None:
        self.ensure()
        self._writer(do_nothing=False)(self._project(incoming), 0)

    def insert_if_absent(self, incoming: DataFrame) -> None:
        self.ensure()
        self._writer(do_nothing=True)(self._project(incoming), 0)

    # -- read (driver-side; dims are small by construction) ------------

    def read(self) -> DataFrame:
        self.ensure()
        conn = self.connection_factory()
        try:
            if hasattr(conn, "_run"):
                # psql shim: COPY in TEXT format. Unlike csv, text
                # format is unambiguous — NULL is the two characters
                # \N while a literal backslash in data is \\, so a
                # column VALUE of "\N" round-trips correctly.
                out = conn._run(
                    f"COPY (SELECT * FROM {self.table}) TO STDOUT"
                )
                rows = [
                    tuple(_copy_text_field(v) for v in line.split("\t"))
                    for line in out.splitlines()
                ]
                return self._from_strings(rows)
            # real DB-API driver (psycopg2): typed rows directly
            cur = conn.cursor()
            cur.execute(f"SELECT * FROM {self.table}")
            typed = [tuple(r) for r in cur.fetchall()]
            return self.spark.createDataFrame(typed, self.schema)
        finally:
            conn.close()

    def _from_strings(self, rows: list[tuple]) -> DataFrame:
        names = [f.name for f in self.schema.fields]
        raw = self.spark.createDataFrame(
            rows, ", ".join(f"{n} string" for n in names)
        )
        casts = []
        for f in self.schema.fields:
            c = F.col(f.name)
            if isinstance(f.dataType, T.BooleanType):
                # COPY text renders booleans as t/f
                casts.append(
                    F.when(c == "t", F.lit(True))
                    .when(c == "f", F.lit(False))
                    .alias(f.name)
                )
            else:
                casts.append(c.cast(f.dataType).alias(f.name))
        return raw.select(*casts)


class _StopTableAdapter:
    """Flattens the lon/lat point struct for storage and rebuilds it on
    read, so refresh_stops sees the exact ParquetUpsertTable schema."""

    def __init__(self, inner: PostgresUpsertTable):
        self.inner = inner

    def upsert(self, incoming: DataFrame) -> None:
        self.inner.upsert(
            incoming.select(
                "stop_id", "route_id", "tag", "name",
                F.col("location.lon").alias("lon"),
                F.col("location.lat").alias("lat"),
                "location_text",
            )
        )

    def read(self) -> DataFrame:
        flat = self.inner.read()
        # location_text is NULL exactly when location is: a titled stop
        # without coordinates keeps its struct of NULLs, as the parquet
        # store does.
        loc = F.when(
            F.col("location_text").isNotNull(),
            F.struct(F.col("lon"), F.col("lat")),
        )
        return flat.select(
            "stop_id", "route_id", "tag", "name",
            loc.alias("location"), "location_text",
        )


class PostgresDimensionStore:
    """``pipelines.dimension_refresh.DimensionStore`` on real Postgres:
    same four tables, same keys, same NULL-tolerant indexes — built
    from the reference DDL (``sql/create_tables.sql:28-110``)."""

    def __init__(self, spark: SparkSession, connection_factory: Callable):
        mk = PostgresUpsertTable
        self.route = mk(
            spark, connection_factory, "route",
            "route_id string, agency_id string, tag string, name string",
            key_cols=["agency_id", "tag"], update_cols=["name"],
        )
        self.service = mk(
            spark, connection_factory, "service",
            "service_id string, route_id string, tag string, name string,"
            " direction string, use_for_ui boolean",
            key_cols=["route_id", "tag"],
            update_cols=["name", "direction", "use_for_ui"],
            null_safe_keys=["tag"],  # K3 expression index
        )
        self.stop = _StopTableAdapter(
            mk(
                spark, connection_factory, "stop",
                "stop_id string, route_id string, tag string, name string,"
                " lon double, lat double, location_text string",
                key_cols=["route_id", "tag", "location_text"],
                update_cols=["name"],
                null_safe_keys=["location_text"],  # K4 expression index
            )
        )
        self.service_stop_order = mk(
            spark, connection_factory, "service_stop_order",
            "service_id string, stop_id string, stop_order int,"
            " update_timestamp timestamp_ntz",
            key_cols=["service_id", "stop_order", "update_timestamp"],
        )
