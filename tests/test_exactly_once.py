"""Idempotent sink tests: replayed batch ids commit at most once; a
write that crashed after its data landed but before its manifest
published is invisible, and its replay leaves one copy."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from nextbus2pg_spark.sinks.exactly_once import IdempotentParquetSink
from nextbus2pg_spark.sinks.store import BucketedParquetStore


def _batch(spark, tag):
    return spark.createDataFrame([(tag, 1), (tag, 2)], "tag string, v int")


def test_replayed_batch_commits_once(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "log"))
    sink(_batch(spark, "b0"), batch_id=0)
    sink(_batch(spark, "b0"), batch_id=0)  # replay → skipped
    sink(_batch(spark, "b1"), batch_id=1)
    out = sink.read(spark)
    assert out.count() == 4  # 2 rows per batch, batch 0 once
    assert sink.committed(0) and sink.committed(1)


def test_replayed_batch_runs_no_job(spark, tmp_path):
    """A batch id the sink has committed returns before its input is
    staged: the replay runs no Spark job."""
    from tests.conftest import count_jobs

    sink = IdempotentParquetSink(str(tmp_path / "log"))
    sink(_batch(spark, "b0"), batch_id=0)
    with count_jobs(spark) as jobs:
        sink(_batch(spark, "b0"), batch_id=0)
    assert jobs.n == 0
    assert sink.read(spark).count() == 2


def test_torn_write_repaired_on_replay(spark, tmp_path, monkeypatch):
    sink = IdempotentParquetSink(str(tmp_path / "log"))
    publish = BucketedParquetStore._publish
    crashes = []

    def crash_once(self, *args, **kwargs):
        if not crashes:
            crashes.append(1)
            raise RuntimeError("crash after the data landed")
        return publish(self, *args, **kwargs)

    monkeypatch.setattr(BucketedParquetStore, "_publish", crash_once)
    with pytest.raises(RuntimeError, match="crash after"):
        sink(_batch(spark, "b0"), batch_id=0)
    # The data landed, but the manifest that commits it never published.
    assert os.listdir(tmp_path / "log" / "data" / "g0")
    assert not sink.committed(0)
    sink(_batch(spark, "b0"), batch_id=0)  # the replay publishes once
    assert sink.committed(0)
    assert sink.read(spark).count() == 2  # exactly one copy
    sink(_batch(spark, "b0"), batch_id=0)  # a second replay is skipped
    assert sink.read(spark).count() == 2


def test_empty_batch_noop(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "log"))
    empty = spark.createDataFrame([], "tag string, v int")
    sink(empty, batch_id=0)
    assert not sink.committed(0)  # nothing written, nothing marked


_BASE = {
    "route_tag": "38R", "dir_tag": "38R_out", "lon": "-122.4",
    "lat": "37.7", "secs_since_report": "10", "predictable": "true",
    "request_time_ms": 1706000000000,
}


def _ingest_runner(spark, tmp_path, sink):
    """Feed dir + a function running one availableNow ingest of it
    into ``sink`` on the checkpoint ``tmp_path/ck``."""
    from nextbus2pg_spark.sources.feed import RAW_FEED_SCHEMA
    from nextbus2pg_spark.streaming.ingest import start_ingest

    feed = tmp_path / "feed"
    feed.mkdir()
    rs = spark.createDataFrame([("38R_out", "svc")], "tag string, service_id string")

    def run():
        stream = spark.readStream.schema(RAW_FEED_SCHEMA).json(str(feed))
        q = start_ingest(stream, lambda: (rs, rs), sink, str(tmp_path / "ck"))
        q.awaitTermination(120)

    return feed, run


def _publish_vehicle(feed, name, vehicle_id):
    with open(feed / name, "w") as f:
        f.write(json.dumps(dict(_BASE, vehicle_id=vehicle_id)) + "\n")


def test_streaming_end_to_end_exactly_once(spark, tmp_path):
    """Wire into start_ingest: restart replays nothing extra."""
    sink = IdempotentParquetSink(str(tmp_path / "log"))
    feed, run = _ingest_runner(spark, tmp_path, sink)
    _publish_vehicle(feed, "b1.json", "v1")

    run()
    assert sink.read(spark).count() == 1
    run()  # restart with no new data → no-op
    assert sink.read(spark).count() == 1


def test_wiped_checkpoint_new_rows_land(spark, tmp_path):
    """A wiped checkpoint restarts batch ids at 0 under a new query
    id, so its batch 0 is a new batch, not a replay: the new vehicle
    lands (and v1, re-read from the feed, is appended again — cross-
    batch duplicates are the reference's T4)."""
    sink = IdempotentParquetSink(str(tmp_path / "log"))
    feed, run = _ingest_runner(spark, tmp_path, sink)
    _publish_vehicle(feed, "b1.json", "v1")
    run()
    shutil.rmtree(tmp_path / "ck")
    _publish_vehicle(feed, "b2.json", "v2")
    run()
    tags = sorted(r.vehicle_tag for r in sink.read(spark).collect())
    assert tags == ["v1", "v1", "v2"]
