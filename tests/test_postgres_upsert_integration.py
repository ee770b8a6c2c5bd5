"""K3/K4 NULL-tolerant upserts executed against a REAL PostgreSQL with
the reference's expression unique indexes (closes round-3 "Next round"
#8: DuckDB accepts an expression unique INDEX but cannot name a
COALESCE conflict target, so the explicit-target DO UPDATE statements
the engine emits for Postgres deployment mode had never executed
against a store that supports them).

The container ships Postgres server binaries; the fixture initdb's a
throwaway cluster into tmp and serves it over a unix socket (run as
``nobody`` via runuser — postgres refuses to run as root). SQL goes
through ``psql`` (no Python driver installed); statements under test
are EXACTLY what ``sinks.upsert.pg_upsert_statement`` renders, with the
``VALUES %s`` placeholder expanded to literal rows the way
``execute_values`` would.

Reference semantics being proven (sql/create_tables.sql:62-63,85-86;
agency.py:96-109,176-190):
- service: conflict target ``(route_id, COALESCE(tag, ''))`` — two
  NULL-tag snapshots for one route collapse to ONE row, the first
  surrogate id survives, the payload updates (K3).
- stop: conflict target ``(route_id, tag, COALESCE(location, ''))``
  over the canonical TEXT form of the point (X10) — NULL-location
  repair rows upsert against the same index (K4).
"""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest

from nextbus2pg_spark.sinks.upsert import pg_upsert_statement

pytestmark = pytest.mark.skipif(
    not (
        shutil.which("psql")
        and os.path.exists("/usr/local/bin/initdb")
        and shutil.which("runuser")
    ),
    reason="postgres server binaries not available",
)


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    return "'" + str(v).replace("'", "''") + "'"


def _render(statement: str, rows: list[tuple]) -> str:
    """Expand the execute_values-style ``VALUES %s`` placeholder into
    literal row tuples — byte-for-byte the statement psycopg2 would
    send (execute_values does exactly this textual expansion)."""
    values = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows
    )
    return statement.replace("VALUES %s", f"VALUES {values}", 1)


@pytest.fixture(scope="module")
def pg():
    # A plain /tmp dir, not pytest's tmp_path: the pytest basetemp
    # chain is 0700 root-owned and `nobody` (which postgres must run
    # as) cannot traverse it.
    import pathlib
    import tempfile

    base = pathlib.Path(tempfile.mkdtemp(prefix="pgtest-", dir="/tmp"))
    os.chmod(base, 0o777)
    data = base / "data"
    sock = base / "sock"
    sock.mkdir()
    os.chmod(sock, 0o777)

    def as_nobody(*cmd, **kw):
        # cwd must be readable by nobody (the test process sits in a
        # root-only directory, which runuser would fail to chdir into)
        return subprocess.run(
            ["runuser", "-u", "nobody", "--", *cmd],
            capture_output=True, text=True, cwd=str(base), **kw,
        )

    r = as_nobody(
        "/usr/local/bin/initdb", "-D", str(data), "-A", "trust",
        "-U", "pguser",
    )
    if r.returncode != 0:
        pytest.skip(f"initdb failed: {r.stderr[-300:]}")
    r = as_nobody(
        "/usr/local/bin/pg_ctl", "-D", str(data),
        "-l", str(base / "pg.log"), "-w",
        "-o", f"-k {sock} -c listen_addresses=''",
        "start",
    )
    if r.returncode != 0:
        pytest.skip(f"pg_ctl start failed: {r.stderr[-300:]}")

    def run_sql(sql: str) -> str:
        p = subprocess.run(
            [
                "psql", "-h", str(sock), "-U", "pguser", "-d", "postgres",
                "-v", "ON_ERROR_STOP=1", "-At", "-c", sql,
            ],
            capture_output=True, text=True, cwd=str(base),
        )
        assert p.returncode == 0, f"psql failed: {p.stderr}\nSQL: {sql}"
        return p.stdout.strip()

    yield run_sql
    as_nobody("/usr/local/bin/pg_ctl", "-D", str(data), "-m", "fast", "stop")
    shutil.rmtree(base, ignore_errors=True)


def test_k3_null_tolerant_service_upsert_executes(pg):
    """K3 against the real expression index: NULL-tag rows conflict
    through COALESCE(tag, ''), the existing surrogate id wins, the
    payload updates, and a distinct-tag row inserts fresh."""
    pg(
        "CREATE TABLE service_u (service_id TEXT, route_id TEXT, tag TEXT,"
        " name TEXT);"
        "CREATE UNIQUE INDEX service_u_key ON service_u"
        " (route_id, COALESCE(tag, ''))"
    )
    stmt = pg_upsert_statement(
        table="service_u",
        columns=["service_id", "route_id", "tag", "name"],
        key_cols=["route_id", "tag"],
        update_cols=["name"],
        null_safe_keys=["tag"],
    )
    assert "COALESCE(tag, '')" in stmt  # explicit Postgres target
    pg(_render(stmt, [("s1", "r1", None, "first"),
                      ("s2", "r1", "38R_out", "outbound")]))
    # second snapshot: fresh surrogate s9 must be DISCARDED, name wins
    pg(_render(stmt, [("s9", "r1", None, "second")]))
    rows = pg(
        "SELECT service_id, COALESCE(tag, '<null>'), name"
        " FROM service_u ORDER BY 1"
    ).splitlines()
    assert rows == ["s1|<null>|second", "s2|38R_out|outbound"]


def test_k4_stop_upsert_with_location_text_key_executes(pg):
    """K4: the stop key includes the canonical TEXT form of the point
    (X10) with NULL repair-rows coalescing to '' — both forms execute
    against the real index, and within-batch duplicates are deduped
    before the statement (DISTINCT ON equivalent, agency.py:184)."""
    pg(
        "CREATE TABLE stop_u (stop_id TEXT, route_id TEXT, tag TEXT,"
        " location TEXT, name TEXT);"
        "CREATE UNIQUE INDEX stop_u_key ON stop_u"
        " (route_id, tag, COALESCE(location, ''))"
    )
    stmt = pg_upsert_statement(
        table="stop_u",
        columns=["stop_id", "route_id", "tag", "location", "name"],
        key_cols=["route_id", "tag", "location"],
        update_cols=["name"],
        null_safe_keys=["location"],
    )
    batch = [
        ("p1", "r1", "main", "-122.4,37.7", "Main St"),
        ("p1", "r1", "main", "-122.4,37.7", "Main St"),  # in-batch dup
        ("p2", "r1", "elm", None, "repaired"),            # NULL location
    ]
    deduped = list(dict.fromkeys(batch))  # A1 dedup before the statement
    pg(_render(stmt, deduped))
    pg(_render(stmt, [("p9", "r1", "elm", None, "repaired-2")]))
    rows = pg(
        "SELECT stop_id, tag, COALESCE(location, '<null>'), name"
        " FROM stop_u ORDER BY 1"
    ).splitlines()
    assert rows == [
        "p1|main|-122.4,37.7|Main St",
        "p2|elm|<null>|repaired-2",
    ]


def test_k5_insert_if_absent_executes(pg):
    """K5 DO NOTHING (agency.py:221-232): re-running the same batch is
    a no-op on the real store."""
    pg(
        "CREATE TABLE sso (service_id TEXT, stop_order INT, ts TEXT,"
        " CONSTRAINT sso_key UNIQUE (service_id, stop_order, ts),"
        " CONSTRAINT sso_pos CHECK (stop_order > 0));"
    )
    stmt = pg_upsert_statement(
        table="sso",
        columns=["service_id", "stop_order", "ts"],
        key_cols=["service_id", "stop_order", "ts"],
        do_nothing=True,
    )
    rows = [("s1", 1, "2026-01-01"), ("s1", 2, "2026-01-01")]
    pg(_render(stmt, rows))
    pg(_render(stmt, rows))  # idempotent re-run
    assert pg("SELECT count(*) FROM sso") == "2"


def test_jdbc_upsert_writer_end_to_end_on_real_postgres(pg, spark, tmp_path):
    """The DEPLOYMENT path end-to-end: a Spark batch flows through
    jdbc_upsert_writer's foreachPartition into a real Postgres over
    the zero-dependency psql DB-API shim — executors each open their
    own connection and run the rendered multi-row ON CONFLICT
    statement. Second batch proves K2 key-stability (the fresh
    surrogate id is discarded, the payload updates) on the actual
    store, with real executor-side concurrency (4 partitions)."""
    from nextbus2pg_spark.sinks.psql_dbapi import psql_connection_factory
    from nextbus2pg_spark.sinks.upsert import jdbc_upsert_writer

    # the server knows its own socket directory
    sock_dir = pg("SHOW unix_socket_directories")

    pg(
        "CREATE TABLE route_w (route_id TEXT, agency_id TEXT, tag TEXT,"
        " name TEXT, CONSTRAINT route_w_key UNIQUE (agency_id, tag))"
    )
    writer = jdbc_upsert_writer(
        table="route_w",
        key_cols=["agency_id", "tag"],
        update_cols=["name"],
        connection_factory=psql_connection_factory(sock_dir),
        paramstyle="format",
    )
    b1 = spark.createDataFrame(
        [(f"r{i}", "sf-muni", f"tag{i}", f"name{i}") for i in range(20)],
        "route_id string, agency_id string, tag string, name string",
    ).repartition(4)
    writer(b1, 0)
    assert pg("SELECT count(*) FROM route_w") == "20"

    # refresh snapshot: new uuids, 5 renamed routes, 1 brand-new
    b2 = spark.createDataFrame(
        [(f"fresh{i}", "sf-muni", f"tag{i}", f"renamed{i}") for i in range(5)]
        + [("fresh99", "sf-muni", "tag99", "name99")],
        "route_id string, agency_id string, tag string, name string",
    ).repartition(3)
    writer(b2, 1)
    assert pg("SELECT count(*) FROM route_w") == "21"
    # old surrogate ids survived; payloads updated (K2)
    assert pg(
        "SELECT count(*) FROM route_w WHERE route_id LIKE 'fresh%'"
    ) == "1"  # only the genuinely-new row carries a fresh id
    assert pg(
        "SELECT name FROM route_w WHERE tag = 'tag3'"
    ) == "renamed3"


def test_dimension_refresh_postgres_equals_parquet_store(pg, spark, tmp_path):
    """THE deployment-parity proof: the full four-stage dimension
    refresh (routes → services → stops → stop orders, with sentinel
    services, missing-stop repair and the K3/K4 NULL-tolerant
    expression-index upserts) runs UNCHANGED against a real Postgres
    store and produces row-for-row identical tables to the parquet
    manifest store. Second refresh on Postgres proves key stability
    and K5 idempotence on the real constraints."""
    import datetime as dt

    from nextbus2pg_spark.pipelines.dimension_refresh import (
        DimensionStore,
        run_refresh,
    )
    from nextbus2pg_spark.sinks.postgres import PostgresDimensionStore
    from nextbus2pg_spark.sinks.psql_dbapi import psql_connection_factory
    from nextbus2pg_spark.sources.route_config import BODY_STOP_SCHEMA
    from tests.test_dimension_refresh import _inputs

    sock_dir = pg("SHOW unix_socket_directories")
    factory = psql_connection_factory(sock_dir)

    route_list, body, dirs, dstops = _inputs(spark)
    # A titled stop without coordinates: its location is a struct of
    # NULLs (not NULL), and its text is not NULL, in both stores.
    body = body.unionByName(spark.createDataFrame(
        [("38R", "nocoord", "No Coordinates", None, None)], BODY_STOP_SCHEMA
    ))
    ts = dt.datetime(2024, 1, 15, 8, 0, 0)

    pstore = DimensionStore(spark, str(tmp_path / "dims"))
    gstore = PostgresDimensionStore(spark, factory)
    run_refresh(pstore, route_list, body, dirs, dstops, "sf-muni", ts)
    run_refresh(gstore, route_list, body, dirs, dstops, "sf-muni", ts)

    def canon_routes(store):
        return {
            (r.route_id, r.agency_id, r.tag, r.name)
            for r in store.route.read().collect()
        }

    def canon_services(store):
        return {
            (r.service_id, r.route_id, r.tag, r.name, r.direction,
             r.use_for_ui)
            for r in store.service.read().collect()
        }

    def canon_stops(store):
        return {
            (
                r.stop_id, r.route_id, r.tag, r.name,
                None if r.location is None else tuple(
                    None if v is None else round(v, 9)
                    for v in (r.location.lon, r.location.lat)
                ),
                r.location_text,
            )
            for r in store.stop.read().collect()
        }

    def canon_sso(store):
        return {
            (r.service_id, r.stop_id, r.stop_order, r.update_timestamp)
            for r in store.service_stop_order.read().collect()
        }

    assert canon_routes(gstore) == canon_routes(pstore)
    assert canon_services(gstore) == canon_services(pstore)
    assert canon_stops(gstore) == canon_stops(pstore)
    assert (None, None) in {s[4] for s in canon_stops(pstore)}
    assert canon_sso(gstore) == canon_sso(pstore)
    assert len(canon_sso(gstore)) > 0

    # Re-refresh on Postgres: surrogate ids stable, stop orders
    # idempotent (K5 DO NOTHING on the real unique constraint).
    before = canon_sso(gstore)
    svc_before = canon_services(gstore)
    run_refresh(gstore, route_list, body, dirs, dstops, "sf-muni", ts)
    assert canon_sso(gstore) == before
    assert canon_services(gstore) == svc_before


def test_render_format_params_quoting():
    """The psql shim's client-side parameter rendering: quoting,
    escaping, NULL/bool/number forms, and a hard error on
    placeholder/parameter count mismatch (a silent mismatch would ship
    a malformed statement)."""
    from nextbus2pg_spark.sinks.psql_dbapi import render_format_params

    out = render_format_params(
        "INSERT INTO t VALUES (%s, %s, %s, %s, %s)",
        ["o'brien", None, True, 3, 2.5],
    )
    assert out == "INSERT INTO t VALUES ('o''brien', NULL, TRUE, 3, 2.5)"
    with pytest.raises(ValueError):
        render_format_params("VALUES (%s, %s)", ["only-one"])


def test_streaming_vehicle_ingest_into_real_postgres(pg, spark, tmp_path):
    """The reference's HOT PATH end-to-end on the real deployment
    store: DSv2 feed source (checkpointed per-route offsets) →
    transform/resolve/dedup pipeline → foreachBatch append-only INSERT
    (K6: no unique index, within-batch dedup only, agency.py:303-322)
    into a Postgres vehicle_location table. A restart with a new
    document appends exactly one row — offsets live in the checkpoint,
    the log stays at-least-once."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.sinks.psql_dbapi import psql_connection_factory
    from nextbus2pg_spark.sinks.upsert import jdbc_upsert_writer
    from nextbus2pg_spark.sources.feed_stream import VehicleFeedDataSource
    from nextbus2pg_spark.streaming.ingest import DEDUP_KEYS, start_ingest

    sock_dir = pg("SHOW unix_socket_directories")
    pg(
        "CREATE TABLE vehicle_location ("
        " service_id TEXT, vehicle_tag TEXT,"
        " lon DOUBLE PRECISION, lat DOUBLE PRECISION,"
        " location_timestamp TIMESTAMP, is_predictable BOOLEAN)"
    )  # reference DDL shape (sql/create_tables.sql:113-125), no PK
    writer = jdbc_upsert_writer(
        table="vehicle_location",
        key_cols=list(DEDUP_KEYS),
        connection_factory=psql_connection_factory(sock_dir),
        append_only=True,
    )

    def sink(batch_df, batch_id):
        writer(
            batch_df.select(
                "service_id", "vehicle_tag",
                F.col("vehicle_location.lon").alias("lon"),
                F.col("vehicle_location.lat").alias("lat"),
                "location_timestamp", "is_predictable",
            ),
            batch_id,
        )

    spark.dataSource.register(VehicleFeedDataSource)
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    dims = spark.createDataFrame(
        [("d1", "svc-d1")], "tag string, service_id string"
    )
    xml = (
        '<?xml version="1.0"?><body>'
        '<vehicle id="{vid}" dirTag="d1" lon="-122.4" lat="37.7"'
        ' secsSinceReport="9" predictable="true"/>'
        '<lastTime time="{ms}"/></body>'
    )
    for vid, ms in (("v1", 1_000_000), ("v1", 1_000_000), ("v2", 2_000_000)):
        with open(os.path.join(spool, f"38R__{ms}.xml"), "w") as f:
            f.write(xml.format(vid=vid, ms=ms))

    def run():
        raw = (
            spark.readStream.format("nextbus_feed")
            .option("path", spool).load()
        )
        q = start_ingest(
            raw,
            dims_provider=lambda: (dims, dims.limit(0)),
            sink=sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    run()
    assert pg("SELECT count(*) FROM vehicle_location") == "2"
    rows = pg(
        "SELECT vehicle_tag, service_id, lon, is_predictable,"
        " location_timestamp FROM vehicle_location ORDER BY 1"
    ).splitlines()
    assert rows[0].startswith("v1|svc-d1|-122.4|t|")
    assert rows[1].startswith("v2|svc-d1|-122.4|t|")
    # event time = request (rounded s) − secsSinceReport (9s)
    assert "1970-01-01 00:16:31" in rows[0]  # 1000s − 9s

    # restart: one new doc → exactly one appended row
    with open(os.path.join(spool, "38R__3000000.xml"), "w") as f:
        f.write(xml.format(vid="v3", ms=3_000_000))
    run()
    assert pg("SELECT count(*) FROM vehicle_location") == "3"


def test_psql_shim_large_statement_and_special_values(pg, spark):
    """The shim must survive a statement far beyond Linux's ~128KB
    per-argv limit (SQL goes via stdin), and round-trip values that
    break naive escaping: literal backslash-N, embedded tabs/newlines,
    quotes, NaN floats."""
    from nextbus2pg_spark.sinks.postgres import PostgresUpsertTable
    from nextbus2pg_spark.sinks.psql_dbapi import psql_connection_factory

    sock_dir = pg("SHOW unix_socket_directories")
    factory = psql_connection_factory(sock_dir)
    t = PostgresUpsertTable(
        spark, factory, "big_t",
        "k string, payload string, x double",
        key_cols=["k"], update_cols=["payload", "x"],
    )
    # ~200 rows × ~1 KB payload ≈ 250KB statement, one partition
    big = spark.createDataFrame(
        [(f"k{i}", "p" * 1000, float(i)) for i in range(250)],
        "k string, payload string, x double",
    ).coalesce(1)
    t.upsert(big)
    assert pg("SELECT count(*) FROM big_t") == "250"

    tricky = spark.createDataFrame(
        [
            ("nul", "\\N", float("nan")),        # literal backslash-N
            ("tab", "a\tb\nc'd", 1.5),           # tab, newline, quote
        ],
        "k string, payload string, x double",
    )
    t.upsert(tricky)
    rows = {r.k: (r.payload, r.x) for r in t.read().collect()}
    assert rows["nul"][0] == "\\N"               # NOT corrupted to NULL
    assert rows["nul"][1] != rows["nul"][1]      # NaN round-trips
    assert rows["tab"][0] == "a\tb\nc'd"
