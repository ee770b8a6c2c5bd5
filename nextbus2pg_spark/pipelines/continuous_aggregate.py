"""Continuous aggregate — an incrementally maintained rollup table
(the "hypertable rollup" pattern: a materialized per-bucket summary
kept current as event batches stream in).

The reference appends raw events forever and computes nothing
(``/root/reference/agency.py:303-322``); any consumer wanting per-day
counts re-scans the log. A continuous aggregate moves that cost to
ingest time, **incrementally**: each micro-batch contributes its own
partial aggregates, which MERGE with the stored partials by key —
no re-scan of history, ever.

Correct-by-algebra: only *mergeable* aggregate state is stored
(count, sum, min, max — the classic commutative monoids — plus the
KMV sketch for approximate distinct counts), so

    merge(stored, agg(batch)) == agg(stored_rows ∪ batch_rows)

holds regardless of batch boundaries, arrival order, or how many
times the stream restarts mid-history. A re-delivered batch is not
counted twice: ``sink()`` merges each batch inside the store's
transaction on its batch id, so a replay publishes nothing
(exactly-once, sinks/exactly_once.py). Derived values (mean) are
computed at read time from the monoid state, never stored — storing
a mean would make merging wrong.

Scale shape: per batch, one partial aggregation (map-side combine)
over the batch only, then a key-equi merge against a table whose size
is the number of *buckets* (days × types), not events. State lives in
a ``BucketedParquetStore`` (atomic manifest publish; only hash-buckets
containing this batch's keys are read and rewritten). At cluster scale
the state table becomes a Delta table and the merge a ``MERGE INTO``;
semantics identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nextbus2pg_spark.sinks.store import BucketedParquetStore, stream_app_id

#: KMV sketch width for the mergeable approx-distinct state
#: (relative error ~ 1/sqrt(k-2) = ~13%; same sketch as
#: operators/sketch.kmv_distinct, so estimates are engine-portable).
KMV_K = 64

#: aggregate name → (batch partial expr builder, merge expr builder)
_MERGEABLE = {
    "count": (
        lambda c: F.count(F.lit(1)),
        lambda col: F.sum(col),
    ),
    "sum": (
        lambda c: F.sum(c),
        lambda col: F.sum(col),
    ),
    "min": (
        lambda c: F.min(c),
        lambda col: F.min(col),
    ),
    "max": (
        lambda c: F.max(c),
        lambda col: F.max(col),
    ),
    # COUNT(DISTINCT x) is NOT mergeable exactly — but its KMV sketch
    # is: the stored state is the k smallest value-hashes, and
    # merge = union-and-retruncate. The numeric estimate is derived at
    # read time (kmv_estimate), never stored — storing it would make
    # merging wrong, exactly like storing a mean.
    "approx_distinct": (
        lambda c: F.slice(
            F.array_sort(F.collect_set(_kmv_hash_col(c))), 1, KMV_K
        ),
        lambda col: F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(col)))),
            1,
            KMV_K,
        ),
    ),
}


def _kmv_hash_col(c: Column) -> Column:
    from nextbus2pg_spark.operators.sketch import kmv_hash

    return kmv_hash(c)


def kmv_estimate(state: Column) -> Column:
    """Distinct-count estimate from a stored ``approx_distinct`` sketch
    column (exact below the sketch width, standard KMV beyond) —
    delegates to the one estimator in ``operators/sketch``."""
    from nextbus2pg_spark.operators.sketch import kmv_estimate as _est

    return _est(state, KMV_K)


class ContinuousAggregate:
    """Incrementally maintained rollup keyed on ``bucket_cols``.

    ``aggs`` maps output column → ("count"|"sum"|"min"|"max"|
    "approx_distinct", input column; input ignored for count), or
    → ("histogram", input column, (lo, hi, nbins)) for mergeable
    binned-quantile state (read back via
    ``operators.sketch.histogram_quantile``), or
    → ("countmin", input column, (depth, width)) for mergeable
    per-key frequency state (read back via
    ``operators.sketch.cms_state_estimate`` — heavy hitters and
    point frequencies with no per-key rows stored).
    Example::

        ca = ContinuousAggregate(
            spark, path, ["day", "event_type"],
            {"n": ("count", None), "total": ("sum", "value"),
             "first_ts": ("min", "ts"), "last_ts": ("max", "ts")},
        )
        ca.apply_batch(batch_df)   # per micro-batch (foreachBatch)
        ca.read()                  # current rollup
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_cols: Sequence[str],
        aggs: dict[str, tuple],
    ) -> None:
        # entries are (fn, col) or (fn, col, params): "histogram"
        # takes (lo, hi, nbins) — the declared bin domain of its
        # count-array state — and "countmin" takes (depth, width).
        norm: dict[str, tuple[str, str | None, tuple | None]] = {}
        for name, spec in aggs.items():
            fn, col, params = (*spec, None) if len(spec) == 2 else spec
            if fn not in _MERGEABLE and fn not in ("histogram", "countmin"):
                raise ValueError(
                    f"{name}: '{fn}' is not mergeable state; store the "
                    "monoid parts (e.g. sum+count for mean) instead"
                )
            if fn == "histogram" and (params is None or len(params) != 3):
                raise ValueError(
                    f"{name}: histogram needs params=(lo, hi, nbins)"
                )
            if fn == "countmin" and (params is None or len(params) != 2):
                raise ValueError(
                    f"{name}: countmin needs params=(depth, width)"
                )
            norm[name] = (fn, col, params)
        self.spark = spark
        self.path = path
        self.bucket_cols = list(bucket_cols)
        self.aggs = norm
        self.store = BucketedParquetStore(
            spark, path, self.bucket_cols, n_buckets=16
        )

    def exists(self) -> bool:
        return self.store.exists()

    def read(self) -> DataFrame:
        return self.store.read()

    def _partials(self, batch: DataFrame) -> DataFrame:
        """Per-bucket partial state for one batch.

        Two-phase: phase 1 aggregates per (bucket, input partition),
        phase 2 combines with each aggregate's MERGE operator. For the
        monoid aggs this is what Spark's map-side combine does anyway;
        for ``approx_distinct`` it is load-bearing — the KMV
        ``collect_set`` buffer then holds one bucket's distinct hashes
        within ONE partition before truncating to k, never the
        bucket's full corpus-wide distinct set (the same bounded shape
        as ``operators/sketch.kmv_distinct``)."""
        phase1 = batch.withColumn(
            "__pid", F.spark_partition_id()
        ).groupBy(*self.bucket_cols, "__pid").agg(
            *[
                self._builders(fn, params)[0](
                    F.col(col) if col else None
                ).alias(name)
                for name, (fn, col, params) in self.aggs.items()
            ]
        )
        return phase1.groupBy(*self.bucket_cols).agg(
            *[
                self._builders(fn, params)[1](F.col(name)).alias(name)
                for name, (fn, _, params) in self.aggs.items()
            ]
        )

    def _builders(self, fn: str, params: tuple | None):
        """(partial, merge) expression builders for one aggregate."""
        if fn == "histogram":
            from nextbus2pg_spark.operators.sketch import (
                histogram_merge,
                histogram_state,
            )

            lo, hi, nbins = params
            return (
                lambda c: histogram_state(c, lo, hi, nbins),
                lambda col: histogram_merge(col, nbins),
            )
        if fn == "countmin":
            from nextbus2pg_spark.operators.sketch import (
                cms_state,
                histogram_merge,
            )

            depth, width = params
            # a flat CMS state is an array of counts like the
            # histogram's — the merge monoid is the same element-wise
            # addition
            return (
                lambda c: cms_state(c, depth, width),
                lambda col: histogram_merge(col, depth * width),
            )
        return _MERGEABLE[fn]

    def apply_batch(self, batch: DataFrame) -> None:
        """Merge one batch's partial aggregates into the stored state:
        union + re-aggregate with each aggregate's MERGE operator
        (sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes)."""
        merges = [
            self._builders(fn, params)[1](F.col(name)).alias(name)
            for name, (fn, _, params) in self.aggs.items()
        ]
        self.store.merge(
            self._partials(batch),
            lambda existing, partials: (
                existing.unionByName(partials)
                .groupBy(*self.bucket_cols)
                .agg(*merges)
            ),
        )

    def sink(self):
        """foreachBatch adapter: ``stream.writeStream.foreachBatch(
        ca.sink())``. Each batch merges inside the store's transaction
        on its batch id, so a replay publishes nothing; an empty batch
        touches no bucket, and into a new table lands no rows, so it
        publishes nothing either."""

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            with self.store.transaction(stream_app_id(self.spark), batch_id):
                self.apply_batch(batch_df)

        return _apply
