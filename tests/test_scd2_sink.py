"""Streaming SCD2 sink: micro-batches build a queryable version
history; replays are no-ops (at-least-once safe)."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from nextbus2pg_spark.operators.scd2 import scd2_as_of
from nextbus2pg_spark.sinks.scd2 import Scd2Table, scd2_foreach_batch

SCHEMA = "route_tag string, title string, color string"


def _write_batch(dir_path, name, rows):
    (dir_path / name).write_text(
        "\n".join(json.dumps(r) for r in rows), encoding="utf-8"
    )


def test_streaming_scd2_history(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "scd2_state")
    table = Scd2Table(spark, state, key="route_tag", tracked=["title", "color"])
    dates = {0: dt.date(2024, 1, 1), 1: dt.date(2024, 6, 1)}

    def run_available():
        q = (
            spark.readStream.schema(SCHEMA)
            .json(str(src))
            .writeStream.foreachBatch(
                scd2_foreach_batch(table, lambda bid, _df: dates[min(bid, 1)])
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # Batch 0: bootstrap (includes an in-batch duplicate of r1).
    _write_batch(src, "b0.json", [
        {"route_tag": "r1", "title": "Main", "color": "red"},
        {"route_tag": "r1", "title": "Main", "color": "red"},
        {"route_tag": "r2", "title": "Cross", "color": "blue"},
    ])
    run_available()
    assert table.current().count() == 2

    # Batch 1: r1 retitled, r2 unchanged, r3 new.
    _write_batch(src, "b1.json", [
        {"route_tag": "r1", "title": "Main St", "color": "red"},
        {"route_tag": "r2", "title": "Cross", "color": "blue"},
        {"route_tag": "r3", "title": "Loop", "color": "green"},
    ])
    run_available()

    hist = table.read()
    assert hist.count() == 4  # r1 closed + r1 open + r2 open + r3 open
    cur = {r.route_tag: r.title for r in table.current().collect()}
    assert cur == {"r1": "Main St", "r2": "Cross", "r3": "Loop"}
    old = {r.route_tag: r.title
           for r in scd2_as_of(hist, dt.date(2024, 3, 1)).collect()}
    assert old == {"r1": "Main", "r2": "Cross"}

    # Replay batch 1's content as a fresh apply (at-least-once retry):
    # the history must not grow.
    table.apply(
        spark.createDataFrame(
            [("r1", "Main St", "red"), ("r2", "Cross", "blue"),
             ("r3", "Loop", "green")],
            SCHEMA,
        ),
        dt.date(2024, 7, 1),
    )
    assert table.read().count() == 4


def test_replayed_batch_id_publishes_one_generation(spark, tmp_path):
    """Running the foreachBatch writer twice with the same batch id
    (a replay) publishes one generation, on the bootstrap and on a
    merge alike."""
    table = Scd2Table(
        spark, str(tmp_path / "h"), key="route_tag", tracked=["title", "color"]
    )
    write = scd2_foreach_batch(
        table, lambda bid, _df: dt.date(2024, 1, 1 + bid)
    )
    b0 = spark.createDataFrame([("r1", "Main", "red")], SCHEMA)
    b1 = spark.createDataFrame([("r1", "Main St", "red")], SCHEMA)
    write(b0, 0)
    write(b0, 0)
    assert table.store.generations() == [0]
    write(b1, 1)
    write(b1, 1)
    assert table.store.generations() == [0, 1]
    assert table.read().count() == 2  # r1 closed + r1 open
