"""Streaming SCD Type-2 sink: CDC micro-batches → versioned dimension
history.

The reference's daily dimension refresh overwrites in place
(``agency.py:60-71``) and separately re-snapshots the one table whose
history matters (``sql/create_tables.sql:91-92``). This sink unifies
both: every micro-batch of dimension updates is merged into an SCD2
history table (``operators/scd2.scd2_merge``), so the current version
is one filter away (``valid_to IS NULL``) and every prior version
stays queryable (``scd2_as_of``).

Scale/processing notes:

- The merge joins only the OPEN slice of the history with the batch —
  closed rows never shuffle (see operators/scd2.py).
- State storage is the same bucketed manifest store as
  ``ParquetUpsertTable`` (``sinks/store.py``) — atomic publish, merges
  rewrite only the buckets containing batch keys; the local stand-in
  for a transactional MERGE target (MIGRATION.md maps it to Delta).
- Replays publish nothing: ``scd2_foreach_batch`` writes each batch
  inside ``store.transaction(query id, batch_id)``, so the manifest
  that publishes a batch's history also records its id, and a
  replayed id is skipped (exactly-once, ``sinks/exactly_once.py``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.dedup import exact_dedup
from nextbus2pg_spark.operators.metrics import staged
from nextbus2pg_spark.operators.scd2 import scd2_bootstrap, scd2_merge
from nextbus2pg_spark.sinks.store import BucketedParquetStore, stream_app_id


class Scd2Table:
    """SCD2 history table on a bucketed, manifest-versioned store.

    A key's entire history (open + closed rows) lives in the bucket of
    its key hash, so a merge touches only the buckets containing batch
    keys — a long history's untouched buckets are never read or
    rewritten (O(touched buckets) IO per batch), and the manifest
    publish is atomic: a crash mid-write leaves the previous history
    fully intact (no re-bootstrap-and-lose-history window)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        tracked: Sequence[str],
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.tracked = list(tracked)
        self.store = BucketedParquetStore(
            spark, path, [key], n_buckets=n_buckets
        )

    def exists(self) -> bool:
        return self.store.exists()

    def read(self) -> DataFrame:
        return self.store.read()

    def current(self) -> DataFrame:
        """The open version of every key."""
        return self.read().where(F.col("valid_to").isNull())

    def apply(self, batch: DataFrame, batch_date) -> None:
        """Merge one snapshot/CDC batch (deduped per key first — the
        reference's within-batch dedup contract, ``agency.py:307-310``;
        last-writer-wins inside a batch is not meaningful for a
        snapshot, so the deterministic keeper is fine).

        Bucket pruning is sound for SCD2 because absence is not a
        delete (operators/scd2.scd2_merge): keys outside the batch's
        buckets are bit-for-bit unaffected by the merge."""
        batch = exact_dedup(
            batch.select(self.key, *self.tracked), [self.key]
        )
        if not self.exists():
            self.store.init(
                scd2_bootstrap(batch, self.key, self.tracked, batch_date)
            )
            return
        self.store.merge(
            batch,
            lambda history, b: scd2_merge(
                history, b, self.key, self.tracked, batch_date
            ),
        )


def scd2_foreach_batch(
    table: Scd2Table,
    batch_date_fn: Callable[[int, DataFrame], Any],
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` adapter: merge each micro-batch into the SCD2
    history. ``batch_date_fn(batch_id, batch_df)`` supplies the
    effective date of the batch (wall clock, an event-time max, or a
    deterministic function of ``batch_id`` for tests — the reference's
    injectable-clock stance, ``run.py:103-111``) and receives the
    staged batch: the batch is materialized once, and its row count is
    observed in that job, so empty batches are skipped (T7) without a
    second pass. The write runs inside the store's transaction on
    ``batch_id``, so a replayed batch publishes nothing."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df, seen = staged(batch_df, n=F.count(F.lit(1)))
        if seen["n"] == 0:
            return
        app_id = stream_app_id(table.spark)
        with table.store.transaction(app_id, batch_id):
            table.apply(batch_df, batch_date_fn(batch_id, batch_df))

    return write
