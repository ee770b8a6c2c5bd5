"""Observed metrics: zero-extra-pass pipeline counters via ``observe``.

The reference counts what it drops ("`len(vehicles)` fetched,
`len(unresolved)` skipped" — the logging in its location loop,
``agency.py:264-301``) by iterating the rows it already holds. The
Spark-native equivalent is ``Dataset.observe``: metric expressions are
evaluated by the running job itself — no second action over the data,
no extra scan — and surface on the driver when the action finishes
(batch) or per micro-batch in ``StreamingQueryProgress.observedMetrics``
(streaming).

Only aggregate expressions are allowed (Spark enforces this); keep them
partial-aggregatable (count/sum/min/max — no distinct; ``collect_set``
only over a bounded domain such as bucket ids) so the metric collection
stays map-side and free.

``staged`` is the form for an input that is consumed twice — once by a
probe (is it empty? which buckets does it touch?) and once by a write:
the input is materialized by one eager ``localCheckpoint`` job and the
probe's answer is read off that same job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, Observation]:
    """Batch form: attach named metric expressions to a frame.

    Returns (df, observation); after the FIRST action on the returned
    frame, ``observation.get`` holds {name: value}. Example::

        df2, obs = observed(df, n=F.count(F.lit(1)),
                            nulls=F.count_if(F.col("tag").isNull()))
        df2.write.parquet(...)        # the job itself fills the metrics
        log.info("ingested %s", obs.get)
    """
    obs = Observation()
    named = [m.alias(k) for k, m in metrics.items()]
    return df.observe(obs, *named), obs


def staged(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Materialize ``df`` once and observe ``metrics`` in that job.

    Returns (staged_df, {name: value}). The eager ``localCheckpoint``
    is the first action on the observed frame, so it fills the metrics
    and no extra job runs. A checkpoint, unlike a cache, is never
    recomputed: the metrics describe exactly the rows every later
    consumer of ``staged_df`` sees, even for a nondeterministic
    ``df``. Losing an executor that holds checkpoint blocks fails the
    consumer instead of recomputing them. Example::

        batch, seen = staged(batch, n=F.count(F.lit(1)))
        if seen["n"] == 0:
            return
    """
    df, obs = observed(df, **metrics)
    return df.localCheckpoint(), obs.get


def observe_stream(df: DataFrame, name: str, **metrics: Column) -> DataFrame:
    """Streaming form: metrics appear under ``name`` in every
    micro-batch's ``StreamingQueryProgress.observedMetrics`` (and in the
    QueryProgressEvent listener payload) — the continuous analogue of
    the reference's per-fetch log line."""
    named = [m.alias(k) for k, m in metrics.items()]
    return df.observe(name, *named)
