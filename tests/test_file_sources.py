"""File-source surface tests: schema-explicit CSV/JSONL round-trips,
corrupt-record capture, streaming-parquet schema requirement, and
batch/streaming reader parity."""

from __future__ import annotations

import pytest

from nextbus2pg_spark.sources.files import (
    read_csv,
    read_jsonl,
    read_parquet,
    write_csv,
    write_jsonl,
)

SCHEMA = "vehicle_id string, lat double, n int"
ROWS = [("v1", 37.7, 1), ("v2", -12.5, 2)]


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    p = str(tmp_path / "csv")
    write_csv(df, p)
    back = read_csv(spark, p, SCHEMA)
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)
    assert back.schema.simpleString() == df.schema.simpleString()


def test_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    p = str(tmp_path / "jl")
    write_jsonl(df, p)
    back = read_jsonl(spark, p, SCHEMA)
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)


def test_csv_corrupt_record_capture(spark, tmp_path):
    p = tmp_path / "bad"
    p.mkdir()
    (p / "data.csv").write_text("vehicle_id,lat,n\nv1,37.7,1\nv2,not_a_number,2\n")
    df = read_csv(spark, str(p), SCHEMA + ", _corrupt_record string")
    rows = df.collect()
    bad = [r for r in rows if r._corrupt_record is not None]
    good = [r for r in rows if r._corrupt_record is None]
    assert len(bad) == 1 and "not_a_number" in bad[0]._corrupt_record
    assert [r.vehicle_id for r in good] == ["v1"]


def test_streaming_parquet_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_parquet(spark, str(tmp_path), streaming=True)


def test_parse_vehicle_xml_matches_driver_parse(spark):
    """Executor-side from_xml parse == the driver-side ElementTree
    helper, row for row (same RAW_FEED_SCHEMA output), on a
    multi-vehicle document with a non-aligned lastTime."""
    from nextbus2pg_spark.sources.feed import (
        feed_df_from_payloads,
        parse_vehicle_xml,
    )
    from tests.test_streaming import VEHICLE_XML

    payloads = spark.createDataFrame(
        [("38R", VEHICLE_XML)], "route_tag string, payload string"
    )
    executor_side = parse_vehicle_xml(payloads)
    driver_side = feed_df_from_payloads(spark, [("38R", VEHICLE_XML)])
    assert (
        executor_side.schema.simpleString()
        == driver_side.schema.simpleString()
    )
    assert sorted(map(tuple, executor_side.collect())) == sorted(
        map(tuple, driver_side.collect())
    )


def test_parse_vehicle_xml_missing_lasttime_sentinel(spark):
    """No <lastTime> element → the '0' offset sentinel (route.py:169)."""
    from nextbus2pg_spark.sources.feed import parse_vehicle_xml

    xml = (
        '<body><vehicle id="1" dirTag="d" lat="1.0" lon="2.0" '
        'secsSinceReport="5" predictable="true"/></body>'
    )
    payloads = spark.createDataFrame(
        [("r", xml)], "route_tag string, payload string"
    )
    rows = parse_vehicle_xml(payloads).collect()
    assert len(rows) == 1 and rows[0].request_time_ms == 0


def test_parse_vehicle_xml_streaming(spark, tmp_path):
    """The same parse runs unchanged on a streaming DataFrame — whole
    payloads flow to executors, no driver loop."""
    import json

    from nextbus2pg_spark.sources.feed import parse_vehicle_xml
    from tests.test_streaming import VEHICLE_XML

    src = tmp_path / "xml_src"
    src.mkdir()
    (src / "batch0.jsonl").write_text(
        json.dumps({"route_tag": "38R", "payload": VEHICLE_XML}) + "\n"
    )
    stream = (
        spark.readStream.schema("route_tag string, payload string")
        .json(str(src))
    )
    out = str(tmp_path / "xml_out")
    q = (
        parse_vehicle_xml(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "xml_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert {r.vehicle_id for r in back.collect()} == {"1410", "1411", "1412"}


def test_streaming_reader_matches_batch(spark, tmp_path):
    """Same definition serves backfill and live pipeline: streaming
    read of the same files yields the same rows."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    p = str(tmp_path / "stream_src")
    write_jsonl(df, p)
    out = str(tmp_path / "stream_out")
    stream = read_jsonl(spark, p, SCHEMA, streaming=True)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert sorted(tuple(r) for r in back.collect()) == sorted(ROWS)


def test_read_with_deadletter_json(spark, tmp_path):
    from nextbus2pg_spark.sources.files import read_with_deadletter

    p = tmp_path / "in"
    p.mkdir()
    (p / "a.json").write_text(
        '{"k": 1, "v": "ok"}\n'
        "this is not json\n"
        '{"k": 2, "v": "fine"}\n'
        '{"k": "not-a-number", "v": "bad-type"}\n',
        encoding="utf-8",
    )
    good, bad = read_with_deadletter(
        spark, str(p), "k long, v string", fmt="json"
    )
    assert sorted((r.k, r.v) for r in good.collect()) == [(1, "ok"), (2, "fine")]
    bad_rows = bad.collect()
    assert len(bad_rows) == 2
    # the raw text is preserved for replay
    assert any("not json" in r._corrupt_record for r in bad_rows)


def test_read_with_deadletter_csv(spark, tmp_path):
    from nextbus2pg_spark.sources.files import read_with_deadletter

    p = tmp_path / "in_csv"
    p.mkdir()
    (p / "a.csv").write_text(
        "k,v\n1,ok\nnot-a-number,bad\n2,fine\n", encoding="utf-8"
    )
    good, bad = read_with_deadletter(
        spark, str(p), "k long, v string", fmt="csv", header="true"
    )
    assert sorted((r.k, r.v) for r in good.collect()) == [(1, "ok"), (2, "fine")]
    assert bad.count() == 1


def test_one_binary_file_reader_and_one_atomic_spool_write():
    """One mechanism each: no package module but ``sources/files.py``
    calls ``format("binaryFile")`` (every spool and media reader goes
    through ``read_binary_files``), and ``sources/http_fetcher.py``
    holds one ``os.replace`` (every fetcher writes through
    ``_spool_write``). Reads the source only."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "nextbus2pg_spark"

    def calls(path, match):
        return [
            f"{path.relative_to(pkg)}:{node.lineno}"
            for node in ast.walk(ast.parse(path.read_text(), str(path)))
            if isinstance(node, ast.Call) and match(node)
        ]

    def binary_file(node):
        f = node.func
        return (
            isinstance(f, ast.Attribute)
            and f.attr == "format"
            and any(
                isinstance(a, ast.Constant) and a.value == "binaryFile"
                for a in node.args
            )
        )

    def os_replace(node):
        f = node.func
        return (
            isinstance(f, ast.Attribute)
            and f.attr == "replace"
            and isinstance(f.value, ast.Name)
            and f.value.id == "os"
        )

    files = pkg / "sources" / "files.py"
    assert calls(files, binary_file), "the detector finds the reader's call"
    offenders = [
        hit
        for path in sorted(pkg.rglob("*.py"))
        if path != files
        for hit in calls(path, binary_file)
    ]
    assert not offenders, offenders
    replaces = calls(pkg / "sources" / "http_fetcher.py", os_replace)
    assert len(replaces) == 1, replaces
