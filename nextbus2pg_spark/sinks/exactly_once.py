"""Idempotent foreachBatch sink: upgrades the pipeline's at-least-once
delivery (T6, the reference's stance — ``/root/reference/run.py:114-121``
retries and re-appends) to exactly-once.

Structured Streaming replays a micro-batch with the SAME batch_id after
a failure; a replayable source plus a sink that skips repeats is
exactly-once end to end. This sink appends each batch to a keyless
``BucketedParquetStore`` inside ``store.transaction(app_id, batch_id)``:
the manifest that publishes the batch's rows also records its id, so a
replay writes nothing and a crash before the publish leaves nothing to
repair. ``app_id`` is the streaming query id (``stream_app_id``), so
after a wiped checkpoint, whose batch ids restart at 0, batches land
again. Against Delta the same pair is the writer's
``txnAppId``/``txnVersion``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.metrics import staged
from nextbus2pg_spark.sinks.store import BucketedParquetStore, stream_app_id


class IdempotentParquetSink:
    """Append-mode parquet sink that commits each micro-batch at most
    once, keyed by ``batch_id``: a one-bucket store under ``root``
    whose manifest records the last committed batch id per app."""

    def __init__(self, root: str, transform: Callable[[DataFrame], DataFrame] | None = None):
        self.root = root
        self.transform = transform
        self.store = BucketedParquetStore(
            SparkSession.active(), root, [], n_buckets=1
        )

    def committed(self, batch_id: int) -> bool:
        """Whether the current app has committed ``batch_id``. Batch ids
        only grow, so every id at or below the last one recorded is
        done (an empty batch records nothing, T7)."""
        app_id = stream_app_id(self.store.spark)
        return batch_id <= self.store.txn_version(app_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committed(batch_id):  # a replay: no job runs
            return
        batch_df, seen = staged(batch_df, n=F.count(F.lit(1)))
        if seen["n"] == 0:  # T7
            return
        if self.transform is not None:
            batch_df = self.transform(batch_df)
        app_id = stream_app_id(self.store.spark)
        with self.store.transaction(app_id, batch_id):
            self.store.append(batch_df)

    def read(self, spark) -> DataFrame:
        """Read back the committed batches."""
        return self.store.read()
