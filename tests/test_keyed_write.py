"""Upsert-semantics unit tests (SURVEY.md §5.3): key stability, NULL-key
collapse, idempotence — the K1-K6 contracts, Spark-vs-expected."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.keyed_write import (
    append_dedup,
    insert_if_absent,
    upsert_batch,
)
from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable, pg_upsert_statement


def _routes(spark, rows):
    return spark.createDataFrame(
        rows, "route_id string, agency_id string, tag string, name string"
    )


def test_upsert_key_stability_k2(spark):
    """K2 (agency.py:60-71): on conflict the OLD surrogate id survives
    and the payload updates — fresh uuids for existing keys are discarded."""
    existing = _routes(spark, [("uuid-old", "sf", "38R", "old name")])
    incoming = _routes(spark, [("uuid-new", "sf", "38R", "new name"),
                               ("uuid-b", "sf", "1", "one")])
    out = upsert_batch(
        existing, incoming, key_cols=["agency_id", "tag"], update_cols=["name"]
    ).collect()
    by_tag = {r.tag: r for r in out}
    assert by_tag["38R"].route_id == "uuid-old"  # surrogate stable
    assert by_tag["38R"].name == "new name"  # payload updated
    assert by_tag["1"].route_id == "uuid-b"  # new key inserted
    assert len(out) == 2


def test_upsert_null_safe_key_k3(spark):
    """K3 (agency.py:96-109, create_tables.sql:62-63): NULL tag collides
    with NULL tag — the sentinel no-service row upserts, not duplicates."""
    existing = _routes(spark, [("s-old", "r1", None, "No service")])
    incoming = _routes(spark, [("s-new", "r1", None, "No service v2")])
    out = upsert_batch(
        existing, incoming, key_cols=["agency_id", "tag"], update_cols=["name"],
        null_safe=True,
    ).collect()
    assert len(out) == 1
    assert out[0].route_id == "s-old"
    assert out[0].name == "No service v2"


def test_upsert_null_and_empty_string_collide_k3(spark):
    """The reference's index key is COALESCE(tag, '') — a NULL tag and
    an '' tag are the SAME key (both wire forms of a missing XML
    attribute). eqNullSafe alone would treat them as distinct and
    duplicate the sentinel row."""
    existing = _routes(spark, [("s-old", "r1", None, "No service")])
    incoming = _routes(spark, [("s-new", "r1", "", "No service v2")])
    out = upsert_batch(
        existing, incoming, key_cols=["agency_id", "tag"],
        update_cols=["name"], null_safe=True,
    ).collect()
    assert len(out) == 1
    assert out[0].route_id == "s-old" and out[0].name == "No service v2"
    # and both forms in ONE batch collapse before the merge
    both = _routes(
        spark,
        [("sA", "r1", None, "a"), ("sB", "r1", "", "b")],
    )
    out2 = upsert_batch(
        existing, both, key_cols=["agency_id", "tag"],
        update_cols=["name"], null_safe=True,
    ).collect()
    assert len(out2) == 1 and out2[0].route_id == "s-old"


def test_upsert_incoming_null_payload_wins(spark):
    """EXCLUDED.col semantics: a NULL incoming payload overwrites."""
    existing = _routes(spark, [("u1", "a", "t", "has name")])
    incoming = _routes(spark, [("u2", "a", "t", None)])
    out = upsert_batch(
        existing, incoming, key_cols=["agency_id", "tag"], update_cols=["name"]
    ).collect()
    assert out[0].name is None


def test_insert_if_absent_idempotent_k5(spark):
    """K5 (agency.py:221-232): re-applying the same batch changes nothing."""
    existing = spark.createDataFrame(
        [(1, 10, "a")], "service_id int, stop_order int, label string"
    )
    batch = spark.createDataFrame(
        [(1, 10, "DIFFERENT"), (2, 20, "b")],
        "service_id int, stop_order int, label string",
    )
    once = insert_if_absent(existing, batch, ["service_id", "stop_order"])
    twice = insert_if_absent(once, batch, ["service_id", "stop_order"])
    rows = {(r.service_id, r.stop_order): r.label for r in twice.collect()}
    assert rows == {(1, 10): "a", (2, 20): "b"}  # existing untouched
    assert once.count() == twice.count() == 2


def test_append_dedup_within_batch_only_k6(spark):
    """K6/T4 (agency.py:303-322): dedup inside the batch; the log accepts
    repeats across batches."""
    batch = spark.createDataFrame(
        [(1, "v1", 100), (1, "v1", 100), (1, "v1", 200)],
        "service_id int, vehicle_tag string, ts int",
    )
    assert append_dedup(batch, ["service_id", "vehicle_tag", "ts"]).count() == 2


def test_parquet_upsert_table_roundtrip(spark, tmp_path):
    """ParquetUpsertTable: state persists across applies (K1→K2 flow)."""
    t = ParquetUpsertTable(
        spark, str(tmp_path / "route"), key_cols=["agency_id", "tag"],
        update_cols=["name"],
    )
    t.upsert(_routes(spark, [("u1", "sf", "38R", "v1")]))
    t.upsert(_routes(spark, [("u2", "sf", "38R", "v2"),
                             ("u3", "sf", "1", "one")]))
    rows = {r.tag: r for r in t.read().collect()}
    assert rows["38R"].route_id == "u1" and rows["38R"].name == "v2"
    assert rows["1"].route_id == "u3"
    # The swap cleans up after itself: no .tmp/.old copies accumulate.
    leftovers = [p.name for p in tmp_path.iterdir() if p.name != "route"]
    assert leftovers == [], leftovers

    # A first write into an empty null-safe table dedups on the merge
    # grain: (k, NULL) and (k, '') are one COALESCE(tag, '') key, as
    # under the reference's unique index — one row, whichever sink.
    both_forms = [("s1", "r1", None, "a"), ("s2", "r1", "", "b")]
    for method in ("upsert", "insert_if_absent"):
        svc = ParquetUpsertTable(
            spark, str(tmp_path / f"svc_{method}"),
            key_cols=["route_id", "tag"], update_cols=["name"],
            null_safe=True,
        )
        getattr(svc, method)(spark.createDataFrame(
            both_forms,
            "service_id string, route_id string, tag string, name string",
        ))
        assert svc.read().count() == 1, method


def test_pg_upsert_statement_shapes():
    """The emitted SQL mirrors the reference statement family."""
    k1 = pg_upsert_statement(
        "nextbus.agency", ["agency_id", "name", "region"], ["agency_id"]
    )
    assert "ON CONFLICT (agency_id) DO UPDATE SET" in k1
    assert "name = EXCLUDED.name" in k1

    k3 = pg_upsert_statement(
        "nextbus.service",
        ["service_id", "route_id", "tag", "name"],
        ["route_id", "tag"],
        null_safe_keys=["tag"],
    )
    assert "ON CONFLICT (route_id, COALESCE(tag, ''))" in k3

    k5 = pg_upsert_statement(
        "nextbus.service_stop_order",
        ["service_id", "stop_id", "stop_order"],
        ["service_id", "stop_order"],
        do_nothing=True,
    )
    assert k5.endswith("DO NOTHING")


def test_jdbc_dedup_folds_only_declared_null_safe_keys(spark):
    """Only COALESCE-indexed columns fold NULL into '': with
    null_safe_keys=('tag',), rows differing as (''/NULL) in agency_id
    are DISTINCT store keys and must both survive within-batch dedup."""
    from nextbus2pg_spark.operators.keyed_write import _dedup_on_keys

    batch = spark.createDataFrame(
        [("u1", "", "x", "a"), ("u2", None, "x", "b")],
        "route_id string, agency_id string, tag string, name string",
    )
    out = _dedup_on_keys(
        batch, ["agency_id", "tag"], True, null_safe_cols=["tag"]
    )
    assert out.count() == 2
    # whereas the engine-internal all-string contract folds both
    assert _dedup_on_keys(batch, ["agency_id", "tag"], True).count() == 1


def test_sink_write_methods_callable_as_table_df():
    """The benchmark's traced runs wrap the three write methods as
    ``call(table, df)`` on the class; a write method that needs more
    arguments would break them (batch identity therefore travels in
    ``store.transaction``, not in a write argument)."""
    import inspect

    for name in ("upsert", "insert_if_absent", "append_dedup"):
        inspect.signature(getattr(ParquetUpsertTable, name)).bind(
            object(), object()
        )


def test_only_the_store_rewrites_buckets():
    """One keyed-write path: no package module but ``sinks/store.py``
    calls ``replace_buckets`` or passes ``expected_gen=`` — every
    rewrite goes through ``store.merge``. Reads the source only."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "nextbus2pg_spark"

    def bucket_rewrites(path):
        out = []
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None
            )
            if name == "replace_buckets" or any(
                kw.arg == "expected_gen" for kw in node.keywords
            ):
                out.append(f"{path.relative_to(pkg)}:{node.lineno}")
        return out

    store = pkg / "sinks" / "store.py"
    assert bucket_rewrites(store), "the detector finds the store's own calls"
    offenders = [
        hit
        for path in sorted(pkg.rglob("*.py"))
        if path != store
        for hit in bucket_rewrites(path)
    ]
    assert not offenders, offenders
