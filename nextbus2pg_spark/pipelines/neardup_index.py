"""Incremental near-duplicate index — dedup a NEW batch against the
whole historical corpus without ever re-reading or re-shingling it.

The batch MinHash-LSH operators (operators/dedup.py) are corpus-at-
once: fine for a backfill, wrong for a daily feed over a 100 TB
archive — re-shingling history per batch is O(|corpus|) every day.
This pipeline persists the two small derived relations the LSH probe
actually needs, in bucketed manifest stores (sinks/store.py):

- ``bands``:  (id, band, band_hash) — hash-bucketed on
  ``(band, band_hash)``. A new batch's band hashes select exactly the
  buckets that can contain colliding history; every other bucket of
  the index is never opened. Probe IO is O(|batch| x bucket fraction),
  independent of corpus size.
- ``sigs``:   (id, sig array<string>) — hash-bucketed on ``id``; read
  only for the candidate ids a probe surfaces, to score estimated
  Jaccard (fraction of agreeing MinHash minima — the standard unbiased
  estimator) without any shingle storage.

Index size per doc is ``num_perm`` hex strings + ``num_perm /
rows_per_band`` band rows — a few hundred bytes, ~5 orders of
magnitude below the documents themselves, so the index is the thing
that CAN live on fast storage while the corpus sits in cold object
store.

Writes are manifest appends (O(batch) IO, atomic publish, crash-safe —
see sinks/store.py); a crashed ``add`` leaves the index exactly at the
previous batch boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.dedup import (
    lsh_bands,
    minhash_signatures,
    word_shingles,
)
from nextbus2pg_spark.operators.metrics import staged
from nextbus2pg_spark.sinks.store import BucketedParquetStore


class NearDupIndex:
    """Persistent MinHash-LSH index with batch-vs-corpus probing."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_perm: int = 8,
        rows_per_band: int = 2,
        shingle_n: int = 3,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.num_perm = num_perm
        self.rows_per_band = rows_per_band
        self.shingle_n = shingle_n
        self.bands = BucketedParquetStore(
            spark, f"{path.rstrip('/')}/bands", ["band", "band_hash"],
            n_buckets=n_buckets,
        )
        self.sigs = BucketedParquetStore(
            spark, f"{path.rstrip('/')}/sigs", ["id"], n_buckets=n_buckets,
        )

    # -- derivation ----------------------------------------------------

    def _derive(self, docs: DataFrame, id_col: str, text_col: str):
        """(bands, wide-signature) frames for a batch. One shingle
        pass feeds both, and both are bounded-size derivations of the
        batch — nothing here touches the stored corpus."""
        sh = word_shingles(docs, id_col, text_col, n=self.shingle_n)
        sig = minhash_signatures(sh, num_perm=self.num_perm)
        bands = lsh_bands(sig, rows_per_band=self.rows_per_band)
        wide = (
            sig.groupBy("id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("perm", "minh"))),
                    lambda x: x["minh"],
                ).alias("sig")
            )
        )
        return bands, wide

    # -- probe ---------------------------------------------------------

    def probe(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        min_est_jaccard: float = 0.5,
    ) -> DataFrame:
        """Near-dup matches of ``docs`` against the INDEXED corpus:
        ``(new_id, indexed_id, est_jaccard)``. Does not modify the
        index. Returns an empty frame when the index is empty.

        Scale shape: the stored bands are read ONLY for the buckets the
        batch's own band hashes select (manifest pruning — unselected
        buckets are never listed); the equi-join on (band, band_hash)
        is the LSH collision probe; signatures are then read only for
        the candidate ids. No stage's input grows with corpus size
        except through genuine collisions."""
        bands, wide = self._derive(docs, id_col, text_col)
        return self._probe_derived(docs, id_col, bands, wide, min_est_jaccard)

    def _probe_derived(
        self,
        docs: DataFrame,
        id_col: str,
        bands: DataFrame,
        wide: DataFrame,
        min_est_jaccard: float,
    ) -> DataFrame:
        """Probe with already-derived batch (bands, wide) frames —
        lets :meth:`add_unique` shingle the batch exactly once."""
        if not self.bands.exists():
            id_dt = dict(docs.dtypes)[id_col]
            return self.spark.createDataFrame(
                [], f"new_id {id_dt}, indexed_id {id_dt}, est_jaccard double"
            )
        bands = bands.localCheckpoint()  # consumed twice: bucket ids + join
        touched = self.bands.touched_buckets(bands)
        stored_bands = self.bands.read(touched)
        cand = (
            bands.join(stored_bands.withColumnRenamed("id", "indexed_id"),
                       ["band", "band_hash"])
            .select(F.col("id").alias("new_id"), "indexed_id")
            .distinct()
        )
        cand = cand.localCheckpoint()  # consumed twice: id list + join
        id_probe = cand.select(F.col("indexed_id").alias("id"))
        sig_buckets = self.sigs.touched_buckets(id_probe)
        stored_sigs = (
            self.sigs.read(sig_buckets)
            # a crash-replayed add can leave duplicate signature rows
            # for one id (see add()'s crash contract); the rows are
            # identical, so one representative keeps matches exact
            .dropDuplicates(["id"])
            .withColumnsRenamed({"id": "indexed_id", "sig": "sig_old"})
        )
        est = (
            cand.join(wide.withColumnsRenamed({"id": "new_id", "sig": "sig_new"}),
                      "new_id")
            .join(stored_sigs, "indexed_id")
            .withColumn(
                "est_jaccard",
                F.aggregate(
                    F.zip_with(
                        "sig_new", "sig_old",
                        lambda a, b: (a == b).cast("int"),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ).cast("double") / F.lit(float(self.num_perm)),
            )
            .filter(F.col("est_jaccard") >= min_est_jaccard)
            .select("new_id", "indexed_id", "est_jaccard")
        )
        return est

    # -- maintenance ---------------------------------------------------

    def _bands_from_wide(self, wide: DataFrame) -> DataFrame:
        """Re-derive (id, band, band_hash) from stored WIDE signatures.
        The wide array is the long (perm, minh) relation sorted by
        perm, so ``posexplode`` reconstructs it exactly and the band
        hashing is the literal add-time :func:`lsh_bands` — a deleted
        doc's band rows are found without re-reading its text."""
        long_sig = wide.select(
            "id", F.posexplode("sig").alias("perm", "minh")
        )
        return lsh_bands(long_sig, rows_per_band=self.rows_per_band)

    def delete(self, ids: DataFrame, id_col: str = "doc_id") -> None:
        """Remove documents from the index WITHOUT a rebuild — the
        GDPR-delete / recrawl-retraction path: a doc deleted from the
        corpus must stop surfacing as a near-dup candidate. Takes a
        frame of ids; absent ids are a no-op (idempotent under
        at-least-once replay).

        Bucket-pruned at both stores: the doc's band rows are
        re-derived from its STORED signature (read via the id-bucketed
        sigs store), so only the sig buckets holding the ids and the
        band buckets holding those exact (band, band_hash) keys are
        read and rewritten — same IO shape as ``delete_keys``, never a
        full index scan.

        Crash contract (two stores, bands deleted FIRST — the reverse
        of ``add``'s publish order, for the same reason): a crash
        after the bands rewrite leaves sig rows with no band rows —
        invisible to probes (candidates come from bands) and still
        reconstructable, so a replayed delete completes the job.
        Sigs-first would strand band rows that nothing can re-derive,
        and every future probe would surface the deleted id as a
        candidate forever."""
        if not self.sigs.exists():
            return
        ids = (
            ids.select(F.col(id_col).alias("id")).distinct()
            .localCheckpoint()
        )
        sig_buckets = self.sigs.touched_buckets(ids)
        # staged: feeds band derivation, its count the emptiness check
        doomed, seen = staged(
            self.sigs.read(sig_buckets)
            .join(ids, "id", "left_semi")
            .dropDuplicates(["id"]),
            n=F.count(F.lit(1)),
        )
        if not seen["n"]:
            return  # replay of a completed delete: no write, no churn
        bands = self._bands_from_wide(doomed)
        probe = bands.select("band", "band_hash").distinct()
        if self.bands.exists():
            self.bands.merge(
                probe, lambda rows, _: rows.join(ids, "id", "left_anti")
            )
        self.sigs.delete_keys(ids)

    def add_if_absent(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        """Idempotent add by ID — the replay-safe MIRROR form: index
        every doc whose id is not already present, including near-dup
        CONTENT under a new id (:meth:`add_unique` is the ingest-dedup
        form that skips those). The membership anti-join reads only
        the sig buckets the batch's own ids select."""
        docs = docs.dropDuplicates([id_col])
        if self.sigs.exists():
            ids = docs.select(F.col(id_col).alias("id")).distinct()
            present = (
                self.sigs.read(self.sigs.touched_buckets(ids))
                .select(F.col("id").alias(id_col))
            )
            docs, seen = staged(
                docs.join(present, id_col, "left_anti"), n=F.count(F.lit(1))
            )
            if not seen["n"]:
                return  # full replay: no write job, no manifest churn
        self.add(docs, id_col, text_col)

    def apply_changes(
        self,
        changes: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        """Keep the index in sync with a corpus store's CHANGE FEED —
        the consumer loop the CDC layer exists for::

            follower = ChangeFeedFollower(corpus.store, marker)
            follower.poll(lambda df: index.apply_changes(df))

        ``changes`` is a ``read_changes`` frame (table columns +
        ``_change_type``). Deletes drop the doc's sig + band rows;
        inserts index-if-absent. Deletes apply FIRST so an upsert
        (delete of the old row + insert of the new one, same id)
        re-indexes the new payload instead of skipping on the stale
        membership row. Both halves are idempotent, so a re-delivered
        delta (the follower's at-least-once contract) converges to the
        same index state."""
        changes = changes.localCheckpoint()  # consumed by both halves
        self.delete(
            changes.where(F.col("_change_type") == "delete"), id_col
        )
        self.add_if_absent(
            changes.where(F.col("_change_type") == "insert"),
            id_col, text_col,
        )

    def compact(self, min_dirs_per_bucket: int = 8) -> dict[str, dict]:
        """Fold per-batch append dirs in both index stores back to one
        per bucket (store OPTIMIZE; run off the ingest path). Every
        ``add`` leaves one dir per touched bucket per store, so probe
        listing cost grows with batch count until compacted."""
        return {
            "sigs": self.sigs.compact(min_dirs_per_bucket),
            "bands": self.bands.compact(min_dirs_per_bucket),
        }

    # -- ingest --------------------------------------------------------

    def add(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        """Index a batch: append its signatures, then its bands. Ids
        must be new (the caller's id space is append-only — re-adding
        an id would double its band rows). Probe first, add after: the
        usual loop is ``matches = idx.probe(batch); idx.add(unique)``.

        Crash contract (two stores, two atomic publishes, no cross-
        store transaction): sigs land FIRST. A crash in between leaves
        ids with signatures but no band rows — such ids can never
        surface as candidates (collisions come from bands), so the
        index behaves exactly as if the batch was never added; the
        caller re-adds, producing duplicate sig rows, which
        ``_probe_derived`` collapses (dropDuplicates on id). Bands-
        first would be worse: half-indexed docs would surface as
        candidates and then silently drop in the signature join —
        permanent false negatives."""
        bands, wide = self._derive(docs, id_col, text_col)
        # One batch feeds two stores; checkpoint so the shingle pass
        # runs once, not once per store write.
        bands = bands.localCheckpoint()
        wide = wide.localCheckpoint()
        self.sigs.append(wide)
        self.bands.append(bands)

    def add_unique(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        min_est_jaccard: float = 0.5,
    ) -> DataFrame:
        """Probe-then-add in one call: index only the docs that did NOT
        match the existing corpus, and return the matches (the rejected
        docs' evidence, self-matches excluded). The batch's own internal
        near-dups are NOT collapsed here — run the batch dedup operator
        first when the feed can contain within-batch duplicates.

        Replay-idempotent: a re-delivered batch whose docs were already
        indexed sees them SELF-match (new_id == indexed_id at
        est_jaccard 1.0); self-matched docs are skipped for indexing
        (no duplicate rows) and excluded from the returned evidence (a
        unique doc is not a near-dup of itself). The batch is shingled
        exactly once — the derived frames feed both the probe and the
        appends."""
        bands, wide = self._derive(docs, id_col, text_col)
        bands = bands.localCheckpoint()
        wide = wide.localCheckpoint()
        matches = self._probe_derived(
            docs, id_col, bands, wide, min_est_jaccard
        ).localCheckpoint()
        dup_ids = matches.select(F.col("new_id").alias("id")).distinct()
        self.sigs.append(wide.join(dup_ids, "id", "left_anti"))
        self.bands.append(bands.join(dup_ids, "id", "left_anti"))
        return matches.filter(F.col("new_id") != F.col("indexed_id"))
