"""Continuous document curation — the LLM-data pipeline (scrub →
score → filter → dedup) as one Structured Streaming transform.

The batch operators it composes (operators/text.py) are pure
projections, so the same function body serves batch backfills and the
live stream — the lambda-architecture trap (two divergent
implementations of "the" pipeline) never opens.

Pipeline:

    raw documents (file/kafka micro-batches)
      → scrub_pii          (map-only regexp chain)
      → repetition_features (map-only array exprs)
      → quality score       (map-only string arithmetic)
      → keep-filter         (scan-speed predicate)
      → fingerprint         (md5 of normalized clean text)
      → dedup on fingerprint:
          streaming + ts: dropDuplicatesWithinWatermark — cross-batch,
            state bounded by the watermark horizon;
          batch: plain dropDuplicates.

Scale: every stage before the dedup is shuffle-free; the dedup
shuffles only (fingerprint, first-seen) pairs — one row per distinct
surviving document — and streaming state is bounded by the watermark,
not the corpus. Near-dup (MinHash) dedup stays a periodic batch job
over the curated table: LSH banding needs corpus-wide joins that
micro-batch state should not hold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.metrics import staged
from nextbus2pg_spark.operators.text import (
    fingerprint,
    quality_score_col,
    repetition_features,
    scrub_pii,
)


def curate_documents(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    min_words: int = 50,
    max_dup_3gram: float = 0.2,
    min_quality: float = 0.5,
) -> DataFrame:
    """Scrub, score, filter, and dedup a document frame (batch or
    streaming alike).

    Output adds ``clean_text``, redaction counts, ``n_words``,
    ``dup_word_ratio``, ``dup_3gram_ratio``, ``quality_score``, ``fp``;
    rows failing any keep-rule are dropped. Scoring runs on the
    *scrubbed* text, so PII spans can't inflate quality or defeat the
    fingerprint.

    ``ts_col``: event-time column for the streaming cross-batch dedup
    horizon. Batch frames (or ``ts_col=None``) dedup exactly within
    the frame instead.
    """
    out = scrub_pii(docs, text_col)
    out = repetition_features(out, "clean_text")
    out = out.withColumn(
        "quality_score", F.round(quality_score_col(F.col("clean_text")), 4)
    )
    out = out.where(
        (F.col("n_words") >= min_words)
        & (F.col("dup_3gram_ratio") <= max_dup_3gram)
        & (F.col("quality_score") >= min_quality)
    )
    out = out.withColumn("fp", fingerprint(F.col("clean_text")))
    if out.isStreaming and ts_col:
        return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["fp"]
        )
    return out.dropDuplicates(["fp"])


def _start_foreach_batch(stream: DataFrame, fn, checkpoint_dir: str):
    """Shared writeStream wiring for every curation-family stage:
    foreachBatch, checkpointed offsets, availableNow trigger. Each
    batch is staged once (``operators.metrics.staged``) and ``fn``
    gets the staged rows; an empty batch, seen in that same job, is
    skipped (T7)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df, seen = staged(batch_df, n=F.count(F.lit(1)))
        if seen["n"] == 0:
            return
        fn(batch_df, batch_id)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_curation(
    raw_stream: DataFrame,
    sink,
    checkpoint_dir: str,
    ts_col: str = "ingest_ts",
    **curate_kwargs,
):
    """Wire the curation stream to a sink (same sink contract as
    streaming/ingest.py): the scrub/score/filter/dedup plan runs inside
    the streaming query — so the fingerprint dedup is the STATEFUL
    cross-batch kind, its state bounded by the watermark — and
    ``foreachBatch`` hands each curated micro-batch to the sink.
    Offsets and dedup state commit with the checkpoint; empty batches
    are skipped."""
    curated = curate_documents(raw_stream, ts_col=ts_col, **curate_kwargs)
    return _start_foreach_batch(curated, sink, checkpoint_dir)


def start_neardup_dedup(
    raw_stream: DataFrame,
    index,
    store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_jaccard: float = 0.5,
    matches_sink=None,
):
    """Cross-batch NEAR-dup dedup as a streaming stage: each micro-batch
    is probed against the persistent :class:`~nextbus2pg_spark.
    pipelines.neardup_index.NearDupIndex`, survivors land idempotently
    in ``store``, and the index learns the survivors — so a document
    near-duplicating ANYTHING seen
    since the stream began is dropped, not just within-batch or
    within-watermark duplicates.

    This is the piece ``curate_documents``'s fingerprint dedup cannot
    do: its cross-batch state (dropDuplicatesWithinWatermark) is exact-
    match and watermark-bounded. The near-dup index's state is the
    bounded-size signature store (hundreds of bytes per doc), probed by
    bucket-pruned reads — O(batch) work per batch regardless of history
    length, the only admissible shape for an always-on feed over an
    unbounded corpus.

    ``store`` must be a KEYED idempotent table (``ParquetUpsertTable``
    keyed on ``id_col`` — ``insert_if_absent`` is used), NOT a raw
    appender: idempotence is what makes crash-replay safe. The index
    side is idempotent by itself (``add_unique``: replayed docs
    self-match and are neither re-indexed nor reported), so EITHER half
    completing before a crash leaves the replay convergent — ids must
    be source-stable, which they are by the streaming contract.

    ``matches_sink(matches_df, batch_id)`` (optional) receives the
    rejected-pair evidence per batch — at-least-once, may replay."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        matches = index.add_unique(
            batch_df, id_col, text_col, min_est_jaccard
        ).localCheckpoint()
        dup_ids = matches.select(
            F.col("new_id").alias(id_col)
        ).distinct()
        fresh = batch_df.join(dup_ids, id_col, "left_anti")
        store.insert_if_absent(fresh)
        if matches_sink is not None:
            matches_sink(matches, batch_id)

    return _start_foreach_batch(raw_stream, process_batch, checkpoint_dir)


def start_embedding_index(
    raw_stream: DataFrame,
    index,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Stream new embeddings into a trained persistent
    :class:`~nextbus2pg_spark.pipelines.ivf_index.IvfIndex`: each
    micro-batch is assigned to its nearest existing centroids and
    appended — searches elsewhere always see the current corpus, no
    retrain, no rescan. Uses ``add_if_absent`` so crash-replayed
    batches land zero duplicate rows (the membership anti-join is
    bounded to the batch's own cells). The index must be trained
    before the stream starts."""

    return _start_foreach_batch(
        raw_stream,
        lambda batch_df, batch_id: index.add_if_absent(
            batch_df, id_col, vec_col
        ),
        checkpoint_dir,
    )
