"""Streaming rolling z-score anomaly monitoring — the live form of
``operators/timeseries.rolling_anomaly`` (round-6 verdict task #5:
the funnel/retention/anomaly family had batch forms only).

Shape: micro-batch (``foreachBatch``) over two keyed idempotent
stores, reusing the BATCH operator verbatim for the math so the
lambda-architecture trap (two divergent z-score implementations)
never opens:

    points  (ParquetUpsertTable keyed (key, ts)) — the retained
            horizon of raw points, the operator's rolling state;
    flags   (ParquetUpsertTable keyed (key, ts)) — the monitoring
            output (value, zscore, is_anomaly), refreshed per batch
            for the keys the batch touched.

Per micro-batch: (1) advance the event-time high-water mark (max ts
across store + batch — the same global-max rule Spark's own
watermark uses) and DROP rows older than ``hwm - horizon`` (late
beyond the horizon; count handed to ``late_sink``); (2) upsert the
admitted points; (3) recompute ``rolling_anomaly`` over the retained
points of ONLY the touched keys and upsert the flags; (4) prune
points older than the floor. Every write is keyed-idempotent, so a
crash-replayed micro-batch (at-least-once, offsets in the stream
checkpoint) converges — the replay test drives the batch body twice.

Why not a native stateful operator: ``applyInPandasWithState`` /
``transformWithState`` crash in this build's Python worker
(environmental — the suite's one skipped test class); the store-
backed micro-batch form is the portable shape and additionally
leaves the rolling state queryable as a table. A ``withWatermark``
on the input would be inert here (no native stateful op in the
plan), so lateness is enforced explicitly by the floor rule — same
global-max-minus-delay semantics, observable in the stores.

Documented deltas vs the batch operator (everything else — the
quantized integer sums, the z formula, min_periods/threshold gating
— is literally the same code):

- **Late data**: rows with ``ts < max(event time seen) - horizon``
  are dropped; the batch operator sees all rows regardless of order.
- **Truncated trailing windows at the floor**: a row's trailing
  ``window_rows`` frame only spans points still retained, so rows
  near the horizon floor can compute over fewer points than an
  unbounded batch run would use (``min_periods`` gates flags there).
  Within the horizon the trailing-window math is identical — the
  parity test pins streaming flags == batch flags over the retained
  points.
- **At-least-once flags**: a key's recent rows are recomputed
  whenever the key receives data; after pruning advances, a
  boundary row's zscore can be revised by the shorter frame. Flags
  are therefore "latest wins", not write-once.

Scale: per-batch work is O(batch) + O(touched keys x horizon
points) + O(pruned rows); retained state is the horizon, not the
stream's history. The recompute join is a left-semi on the batch's
own key set, so an idle key costs nothing.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.metrics import staged
from nextbus2pg_spark.operators.timeseries import rolling_anomaly


def anomaly_batch(
    batch_df: DataFrame,
    points_store,
    flags_store,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    horizon_seconds: int = 3600,
    window_rows: int = 24,
    min_periods: int = 12,
    threshold_sq: int = 9,
    scale: int = 1000,
    late_sink=None,
    batch_id: int | None = None,
    op_fn=None,
) -> None:
    """One micro-batch of the streaming anomaly stage (module
    docstring has the full contract). Exposed as a plain function so
    replay semantics are testable without a streaming harness —
    calling it twice with the same batch must leave both stores
    byte-equal in content.

    ``op_fn`` swaps the scoring operator: it receives the retained
    ``(key, ts, value)`` points of the touched keys and returns the
    flag frame to upsert (keyed on (key, ts); ``flags_store``'s
    update_cols must match its columns). Default is
    ``rolling_anomaly`` with the window/threshold params; pass e.g.
    ``lambda pts: cusum_changepoints(pts, "key", "ts", "value",
    target=..., threshold=...)`` for the drift detector, or
    ``holt_smoothing`` for live forecasts — any per-key trailing
    operator inherits the same lateness/retention/replay contract
    (CUSUM note: its state implicitly resets at the horizon floor,
    since pruned points leave the recurrence — the documented
    streaming delta)."""
    # The batch's size and max event time are observed in the job that
    # stages it, the admitted rows' count in the job that stages them.
    batch, seen = staged(
        batch_df.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).alias("ts"),
            F.col(value_col).cast("double").alias("value"),
        ).where(F.col("value").isNotNull()),
        n=F.count(F.lit(1)),
        mx=F.max("ts"),
    )
    if seen["n"] == 0:
        return

    # (1) high-water mark and admission floor. The stored side is one
    # bounded 1-row aggregate; the store is horizon-sized by
    # construction.
    stored_max = None
    if points_store.exists():
        stored_max = points_store.read().agg(F.max("ts")).first()[0]
    hwm = max(t for t in (seen["mx"], stored_max) if t is not None)
    floor = hwm - _dt.timedelta(seconds=horizon_seconds)

    admitted, adm = staged(
        batch.where(F.col("ts") >= F.lit(floor)), n=F.count(F.lit(1))
    )
    n_late = seen["n"] - adm["n"]
    if late_sink is not None and n_late:
        late_sink(n_late, batch_id)
    if adm["n"] == 0:
        return

    # (2) idempotent point upsert — replayed batches land no dupes
    points_store.upsert(admitted)

    # (3) recompute flags for the touched keys over retained points
    touched = admitted.select("key").distinct()
    pts = (
        points_store.read()
        .where(F.col("ts") >= F.lit(floor))
        .join(touched, "key", "left_semi")
    )
    if op_fn is not None:
        flags = op_fn(pts)
    else:
        flags = rolling_anomaly(
            pts, "key", "ts", "value",
            window_rows=window_rows, min_periods=min_periods,
            threshold_sq=threshold_sq, scale=scale,
        )
    flags_store.upsert(flags)

    # (4) retention: points behind the floor leave the rolling state
    # (a delete that matches nothing publishes nothing)
    stale = points_store.read().where(F.col("ts") < F.lit(floor))
    points_store.delete(stale.select("key", "ts"))


def start_rolling_anomaly(
    raw_stream: DataFrame,
    points_store,
    flags_store,
    checkpoint_dir: str,
    **kwargs,
):
    """Wire the anomaly stage to a stream (same starter contract as
    the other curation-family stages): checkpointed offsets,
    availableNow trigger, empty batches skipped. ``points_store`` /
    ``flags_store`` are ParquetUpsertTables keyed on (key, ts);
    ``kwargs`` forward to :func:`anomaly_batch`."""
    from nextbus2pg_spark.streaming.curation import _start_foreach_batch

    return _start_foreach_batch(
        raw_stream,
        lambda df, bid: anomaly_batch(
            df, points_store, flags_store, batch_id=bid, **kwargs
        ),
        checkpoint_dir,
    )
