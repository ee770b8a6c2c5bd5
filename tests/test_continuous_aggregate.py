"""Continuous-aggregate tests: batch-boundary invariance (the merge
algebra), non-mergeable rejection, and streaming maintenance through
foreachBatch."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nextbus2pg_spark.pipelines.continuous_aggregate import ContinuousAggregate

AGGS = {
    "n": ("count", None),
    "total": ("sum", "value"),
    "lo": ("min", "value"),
    "hi": ("max", "value"),
}


def _rows(spark, data):
    return spark.createDataFrame(data, "day string, value double")


def test_incremental_equals_full_recompute(spark, tmp_path):
    """agg(all rows) == merge of per-batch partials, whatever the
    batch split — the mergeable-monoid guarantee."""
    batches = [
        [("d1", 1.0), ("d1", 2.0), ("d2", 5.0)],
        [("d1", 4.0)],
        [("d2", 0.5), ("d3", 9.0)],
    ]
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"), ["day"], AGGS)
    for b in batches:
        ca.apply_batch(_rows(spark, b))

    all_rows = _rows(spark, [r for b in batches for r in b])
    expect = {
        r.day: (r.n, r.total, r.lo, r.hi)
        for r in all_rows.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    }
    got = {r.day: (r.n, r.total, r.lo, r.hi) for r in ca.read().collect()}
    assert got == expect


def test_non_mergeable_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="not mergeable"):
        ContinuousAggregate(
            spark, str(tmp_path / "bad"), ["day"], {"m": ("avg", "value")}
        )


def test_streaming_maintenance(spark, tmp_path):
    feed = tmp_path / "cafeed"
    feed.mkdir()
    import os

    def wf(name, rows, mtime):
        p = feed / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    wf("b1.json", [{"day": "d1", "value": 1.0}, {"day": "d1", "value": 2.0}],
       1_700_000_000)
    wf("b2.json", [{"day": "d1", "value": 4.0}, {"day": "d2", "value": 7.0}],
       1_700_000_010)

    ca = ContinuousAggregate(spark, str(tmp_path / "castate"), ["day"], AGGS)
    stream = (
        spark.readStream.schema("day string, value double")
        .option("maxFilesPerTrigger", "1")
        .json(str(feed))
    )
    q = (
        stream.writeStream.foreachBatch(ca.sink())
        .option("checkpointLocation", str(tmp_path / "cack"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.day: (r.n, r.total) for r in ca.read().collect()}
    assert got == {"d1": (3, 7.0), "d2": (1, 7.0)}


def test_approx_distinct_state_is_mergeable(spark, tmp_path):
    """COUNT(DISTINCT) via mergeable KMV state: applying two
    overlapping batches equals one aggregation over their union
    (exact below the sketch width), and the estimate is derived at
    read time from the stored sketch."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.pipelines.continuous_aggregate import (
        ContinuousAggregate,
        kmv_estimate,
    )

    ca = ContinuousAggregate(
        spark, str(tmp_path / "rollup"), ["day"],
        {"n": ("count", None), "users": ("approx_distinct", "user_id")},
    )
    b1 = spark.createDataFrame(
        [("d1", u) for u in range(30)], "day string, user_id int"
    )
    b2 = spark.createDataFrame(  # overlap: users 20-29 repeat
        [("d1", u) for u in range(20, 50)], "day string, user_id int"
    )
    ca.apply_batch(b1)
    ca.apply_batch(b2)
    out = ca.read().select(
        "day", "n", kmv_estimate(F.col("users")).alias("users")
    ).collect()
    assert len(out) == 1
    assert out[0].n == 60          # rows add
    assert out[0].users == 50.0    # distinct users merge, overlap once


def test_replayed_batch_id_counts_once(spark, tmp_path):
    """A micro-batch the runtime replays carries its batch id again;
    the sink's merge is skipped, so the counts do not double."""
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"), ["day"], AGGS)
    sink = ca.sink()
    sink(_rows(spark, [("d1", 1.0), ("d1", 2.0)]), 0)
    gens = ca.store.generations()
    sink(_rows(spark, [("d1", 1.0), ("d1", 2.0)]), 0)  # replay
    assert ca.store.generations() == gens
    sink(_rows(spark, [("d1", 4.0), ("d2", 7.0)]), 1)
    got = {r.day: (r.n, r.total) for r in ca.read().collect()}
    assert got == {"d1": (3, 7.0), "d2": (1, 7.0)}


def test_empty_first_batch_publishes_nothing(spark, tmp_path):
    """An empty batch into a new rollup lands no rows and publishes no
    (empty) generation, through the sink or apply_batch; the first
    non-empty batch then creates the table."""
    ca = ContinuousAggregate(spark, str(tmp_path / "ca"), ["day"], AGGS)
    empty = _rows(spark, [])
    ca.sink()(empty, 0)
    ca.apply_batch(empty)
    assert not ca.exists()
    ca.sink()(_rows(spark, [("d1", 2.0)]), 1)
    assert ca.store.generations() == [0]
    assert [(r.day, r.n) for r in ca.read().collect()] == [("d1", 1)]
