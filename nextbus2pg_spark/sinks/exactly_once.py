"""Idempotent foreachBatch sink: upgrades the pipeline's at-least-once
delivery (T6, the reference's stance — ``/root/reference/run.py:114-121``
retries and re-appends) to effective exactly-once.

Structured Streaming replays a micro-batch with the SAME batch_id after
a failure; a sink that records committed batch ids and skips repeats is
therefore exactly-once end-to-end (source offsets + batch ids both live
in/derive from the checkpoint).

This parquet-marker implementation is the local/test form; against a
transactional store the marker write joins the data write in one
transaction (INSERT ... + UPDATE commit_log in the same txn — the
standard JDBC idempotent-sink recipe), and against Delta the txn
version itself is the marker.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.metrics import staged


class IdempotentParquetSink:
    """Append-mode parquet sink that commits each micro-batch at most
    once, keyed by ``batch_id``.

    Layout: ``<root>/data/batch_id=<id>/...`` + ``<root>/_commits/<id>``
    marker written AFTER the data lands. A replayed batch whose marker
    exists is skipped; a torn write (data without marker) is
    overwritten by the replay — both paths end with exactly one copy.
    """

    def __init__(self, root: str, transform: Callable[[DataFrame], DataFrame] | None = None):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.commit_dir = os.path.join(root, "_commits")
        self.transform = transform
        os.makedirs(self.commit_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commit_dir, str(batch_id))

    def committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committed(batch_id):  # replay after successful commit
            return
        batch_df, seen = staged(batch_df, n=F.count(F.lit(1)))
        if seen["n"] == 0:  # T7
            return
        if self.transform is not None:
            batch_df = self.transform(batch_df)
        # Partition the data by batch id so a replay of a torn write
        # replaces exactly its own directory (dynamic overwrite).
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(self.data_dir, f"batch_id={batch_id}")
            )
        )
        with open(self._marker(batch_id), "w") as f:
            f.write("ok")

    def read(self, spark) -> DataFrame:
        """Read back only committed batches."""
        committed = sorted(os.listdir(self.commit_dir))
        paths = [
            os.path.join(self.data_dir, f"batch_id={b}") for b in committed
            if os.path.exists(os.path.join(self.data_dir, f"batch_id={b}"))
        ]
        if not paths:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        return spark.read.parquet(*paths)
