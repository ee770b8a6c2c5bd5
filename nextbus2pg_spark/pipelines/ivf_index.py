"""Persistent IVF embedding index — incremental ANN over a growing
vector corpus, the embedding-space sibling of the MinHash
:class:`~nextbus2pg_spark.pipelines.neardup_index.NearDupIndex`.

The batch ANN operators (operators/similarity.py) recompute centroids
and assignments from the full corpus per call. An always-on pipeline
(new embeddings land daily, similarity queries run continuously)
instead wants:

- **train once**: fit the centroid set (deterministic distributed
  Lloyd) on a corpus snapshot and persist it — a few KB however large
  the corpus;
- **add cheaply**: assign each new batch to its nearest existing
  centroid (broadcast centroids; the batch never shuffles) and append
  ``(id, centroid_id, vec, norm)`` rows — O(batch) IO, no retrain, no
  history rescan;
- **search narrowly**: assign queries to their ``nprobe`` nearest
  cells, then read ONLY those cells' rows. Vectors are hash-bucketed
  on ``centroid_id`` in the manifest store, so the probe prunes whole
  buckets before any file is listed — search IO is proportional to
  the probed cells' population, independent of corpus size. Scoring
  is the batch operators' own (``ivf_topk`` / ``ivfpq_topk``).

Centroids drift as the corpus grows; that is inherent to IVF (FAISS
has the same contract). The recall floor against the trained snapshot
is pinned by tests; :meth:`IvfIndex.retrain_swap` handles drift in
place by building a complete new EPOCH alongside the live one.

Epoch rule: every row of every store carries an ``epoch`` int. Readers
take the current epoch from the centroid store (its max epoch) and
read every store at that one epoch. A build takes epoch 0 (``train``)
or one more than the max epoch in ANY store (``retrain_swap``), so it
never reuses the epoch of crash debris.

Publish order: a build publishes the vectors first, then the codec's
trained model (the PQ codebook), then the centroids. No reader can see
an epoch before its centroids are published, so the centroid publish
IS the swap: a reader that resolved its epoch before the flip keeps
reading that epoch's rows (still present) and a reader arriving after
sees only the new epoch, complete. A crash before the flip leaves
debris no reader selects; :meth:`IvfIndex.prune_stale_epochs` sweeps
it along with superseded epochs, which stay readable
(``search(epoch=...)``) until then.

Writes are atomic manifest publishes (crash at any point leaves the
previous index state fully readable — sinks/store.py); every rewrite
goes through ``BucketedParquetStore.merge``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.metrics import staged
from nextbus2pg_spark.operators.similarity import (
    _adc_scored,
    _assign_centroids,
    _ivf_probes,
    _ivf_scored,
    ivf_assign,
    ivf_centroids,
    kmeans_centroids,
    pq_encode,
    pq_train,
    with_norm,
)
from nextbus2pg_spark.sinks.store import BucketedParquetStore


class IvfIndex:
    """Train-once / add-incrementally / search-pruned IVF ANN index
    storing raw vectors. A codec subclass stores encoded rows instead
    and may keep one extra trained model per epoch in ``codebook``."""

    #: the epoch-stamped store of the codec's trained model (None: raw
    #: vectors need none)
    codebook: BucketedParquetStore | None = None

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_centroids: int = 16,
        kmeans_iters: int = 2,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.n_centroids = n_centroids
        self.kmeans_iters = kmeans_iters
        self.centroids = BucketedParquetStore(
            spark, f"{path.rstrip('/')}/centroids", ["centroid_id"],
            n_buckets=1,
        )
        # bucketed on centroid_id: the search-time pruning key
        self.vectors = BucketedParquetStore(
            spark, f"{path.rstrip('/')}/vectors", ["centroid_id"],
            n_buckets=n_buckets,
        )

    def exists(self) -> bool:
        return self.centroids.exists()

    def current_epoch(self) -> int:
        """Highest PUBLISHED epoch — resolved from the centroid store
        (n_centroids × epochs rows, 1 bucket: a bounded 1-row agg)."""
        return int(
            self.centroids.read().agg(F.max("epoch")).collect()[0][0]
        )

    def _stores(self) -> "tuple[BucketedParquetStore, ...]":
        """Every epoch-stamped store, in publish order."""
        return tuple(
            s for s in (self.vectors, self.codebook, self.centroids)
            if s is not None
        )

    @staticmethod
    def _at(
        store: BucketedParquetStore, epoch: int, buckets=None
    ) -> DataFrame:
        """``store``'s rows of ``epoch`` (optionally only ``buckets``),
        without the epoch column."""
        return (
            store.read(buckets)
            .where(F.col("epoch") == F.lit(epoch))
            .drop("epoch")
        )

    def _cents(self, epoch: int | None = None) -> "tuple[DataFrame, int]":
        """(centroids of ``epoch``, that epoch); the default is the
        current epoch. The epoch pins every downstream read so a
        concurrent swap can't mix epochs mid-plan."""
        if epoch is None:
            epoch = self.current_epoch()
        return self._at(self.centroids, epoch), epoch

    @staticmethod
    def _stamp(df: DataFrame, epoch: int) -> DataFrame:
        return df.withColumn("epoch", F.lit(epoch).cast("int"))

    # -- the codec: what a row stores --------------------------------

    def _fit_codec(
        self, vectors: DataFrame, id_col: str, vec_col: str
    ) -> DataFrame | None:
        """The codec's trained model for a build (raw vectors: none)."""
        return None

    def _encode(
        self, assigned: DataFrame, model: DataFrame | None
    ) -> DataFrame:
        """Assigned (id, centroid_id, vec, norm) rows → stored rows."""
        return assigned.select("id", "centroid_id", "vec", "norm")

    def _assigned_rows(
        self,
        cents: DataFrame,
        vectors: DataFrame,
        id_col: str,
        vec_col: str,
        model: DataFrame | None,
    ) -> DataFrame:
        """Batch → storable index rows, assigned against ``cents`` and
        encoded with ``model``. Assignment is map-only with the batch
        columns riding in-row (:func:`_assign_centroids`), and so is
        every codec, so encoding is one map stage over the batch."""
        v = with_norm(
            vectors.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
            ),
            "vec",
            "norm",
        )
        return self._encode(
            _assign_centroids(
                v, cents, nprobe=1, vec_col="vec", norm_col="norm"
            ),
            model,
        )

    def _current_rows(
        self, vectors: DataFrame, id_col: str, vec_col: str
    ) -> "tuple[DataFrame, int]":
        """(``vectors`` as stored rows of the current epoch, that
        epoch)."""
        cents, epoch = self._cents()
        model = (
            None if self.codebook is None else self._at(self.codebook, epoch)
        )
        rows = self._assigned_rows(cents, vectors, id_col, vec_col, model)
        return self._stamp(rows, epoch), epoch

    # -- build ---------------------------------------------------------

    def _train_centroids(
        self, vectors: DataFrame, id_col: str, vec_col: str
    ) -> DataFrame:
        if self.kmeans_iters > 0:
            cents = kmeans_centroids(
                vectors, id_col, vec_col, self.n_centroids,
                n_iters=self.kmeans_iters,
            )
        else:
            cents = ivf_centroids(vectors, id_col, vec_col, self.n_centroids)
        return cents.localCheckpoint()  # consumed by assignment + publish

    def _build(
        self,
        vectors: DataFrame,
        id_col: str,
        vec_col: str,
        epoch: int,
        first: bool,
    ) -> None:
        """Train centroids and the codec's model on ``vectors``, encode
        them, and publish all three as ``epoch`` in publish order (the
        centroid publish last: the flip). ``first`` inits each store,
        so a rerun after a crashed ``train`` supersedes its debris;
        otherwise each store is appended to."""
        cents = self._train_centroids(vectors, id_col, vec_col)
        model = self._fit_codec(vectors, id_col, vec_col)
        rows = self._assigned_rows(cents, vectors, id_col, vec_col, model)
        for store, df in (
            (self.vectors, rows),
            (self.codebook, model),
            (self.centroids, cents),  # the flip
        ):
            if store is not None:
                write = store.init if first else store.append
                write(self._stamp(df, epoch))

    def train(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Fit centroids on ``vectors`` and index them as epoch 0. One-
        time cost; the centroid relation is n_centroids rows per epoch
        (broadcast-sized forever after). ``exists()`` keys on the
        centroid store, published last, so a crashed train is safely
        rerunnable."""
        if self.exists():
            raise ValueError(
                "index already trained; call retrain_swap() to refresh"
            )
        self._build(vectors, id_col, vec_col, 0, first=True)

    def retrain_swap(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> int:
        """Handle centroid drift IN PLACE: fit fresh centroids (and
        codec model) on the given corpus snapshot, fully re-assign it
        as a new epoch, and flip readers to it atomically at the
        centroid publish. Returns the new epoch.

        Crash-safe and rerunnable: a crash before the flip leaves
        debris at an epoch the retry skips past (the epoch rule), and
        prune sweeps it. Adds computed against the old epoch that land
        after the flip are likewise stale-epoch rows, invisible and
        swept — quiesce adds during a retrain, or re-add the tail
        after it; the snapshot you pass is what the new epoch serves.
        """
        if not self.exists():
            raise ValueError("no trained index at this path; call train()")
        # one job over every store: never NULL, the centroids exist
        epochs = reduce(
            DataFrame.unionByName,
            (s.read().select("epoch") for s in self._stores()),
        )
        new_epoch = int(epochs.agg(F.max("epoch")).first()[0]) + 1
        self._build(vectors, id_col, vec_col, new_epoch, first=False)
        return new_epoch

    def prune_stale_epochs(self) -> int:
        """Drop every row whose epoch differs from the current one —
        superseded epochs AND crash debris above it. Each store merges
        the keys of its stale rows, so only the buckets holding stale
        rows are rewritten (OCC-guarded by ``merge``), and a store with
        nothing stale publishes nothing. Returns the epoch kept. Off
        the swap path by design: old epochs stay readable
        (``search(epoch=...)``) until the operator decides in-flight
        readers have drained."""
        epoch = self.current_epoch()
        current = F.col("epoch") == F.lit(epoch)
        for store in self._stores():
            store.merge(
                store.read().where(~current).select(*store.key_cols),
                lambda existing, _: existing.where(current),
            )
        return epoch

    # -- incremental writes -------------------------------------------

    def add(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Index a batch against the EXISTING centroids: one broadcast
        assignment pass over the batch, one O(batch) append. Ids must
        be new (append-only id space, as in NearDupIndex)."""
        self.vectors.append(self._current_rows(vectors, id_col, vec_col)[0])

    def add_if_absent(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Idempotent add: skip ids already indexed. The membership
        check is BOUNDED — a replayed id lands in the same cell (same
        centroids), so only the batch's own cells' buckets are read
        for the anti-join, never the full index. This is the correct
        form under at-least-once delivery (crash-replayed micro-
        batches); plain :meth:`add` is for append-only id feeds.

        The batch itself dedups on id first: a producer retry can land
        the same record twice within ONE batch, which the
        store-membership anti-join alone cannot see."""
        rows, epoch = self._current_rows(
            vectors.dropDuplicates([id_col]), id_col, vec_col
        )
        rows = rows.localCheckpoint()  # feeds bucket collect + anti-join
        touched = self.vectors.touched_buckets(rows)
        present = self._at(self.vectors, epoch, touched).select("id")
        rows, seen = staged(
            rows.join(present, "id", "left_anti"), n=F.count(F.lit(1))
        )
        if seen["n"]:  # a full replay writes nothing
            self.vectors.append(rows)

    def delete(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Remove vectors from the index WITHOUT a rebuild — a doc
        deleted from the corpus must stop appearing as an ANN
        neighbor. Takes the PREIMAGE rows (id + embedding — exactly
        what the change feed's delete rows carry): re-deriving the
        cell assignment from the vector prunes the rewrite to the
        assigned cells' buckets, the same IO shape as ``delete_keys``
        — an id-only delete would have to scan every bucket. Centroids
        are train-once-immutable, so the recomputed assignment equals
        the add-time one. Only the current epoch's row is removed:
        stale epochs are frozen snapshots (a pinned ``search(epoch=...)``
        stays replayable until :meth:`prune_stale_epochs`). Absent ids
        are a no-op that publishes nothing (idempotent under
        at-least-once replay)."""
        if not self.vectors.exists():
            return
        cents, epoch = self._cents()
        doomed = ivf_assign(
            vectors.dropDuplicates([id_col]), id_col, vec_col,
            cents, nprobe=1,
        )
        touched = self.vectors.touched_buckets(doomed)
        if not touched:
            return
        hits, seen = staged(
            self._at(self.vectors, epoch, touched)
            .join(doomed.select("id"), "id", "left_semi")
            .select("id", "centroid_id", F.lit(epoch).alias("epoch")),
            n=F.count(F.lit(1)),
        )
        if seen["n"]:  # a replay of a completed delete writes nothing
            self.vectors.merge(
                hits,
                lambda existing, gone: existing.join(
                    gone.select("id", "epoch"), ["id", "epoch"], "left_anti"
                ),
            )

    def search(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        nprobe: int = 4,
        epoch: int | None = None,
    ) -> DataFrame:
        """Approximate top-k neighbors → (query_id, match_id, sim,
        rank), self-pairs excluded — the :func:`ivf_topk` output
        contract and scoring. Reads only the manifest buckets holding
        the probed cells (spy-tested), then exact cosine within them.

        ``epoch`` pins the read to a specific published epoch (a
        reader that resolved its view before a concurrent
        :meth:`retrain_swap` — or a deliberate snapshot read); the
        default is the current epoch. Every store is read at that
        one epoch, so the result is always a self-consistent index
        state."""
        probes, cells, _ = self._probed(
            queries, id_col, vec_col, nprobe, epoch
        )
        return _ivf_scored(
            cells.withColumnsRenamed(
                {"id": "match_id", "vec": "t_vec", "norm": "t_norm"}
            ),
            probes,
            k,
        )

    def _probed(
        self,
        queries: DataFrame,
        id_col: str,
        vec_col: str,
        nprobe: int,
        epoch: int | None,
    ) -> "tuple[DataFrame, DataFrame, int]":
        """The probe prefix of both searches → (probes of
        :func:`_ivf_probes`, the stored rows of the probed cells at
        the epoch, the epoch)."""
        cents, epoch = self._cents(epoch)
        probes = _ivf_probes(queries, id_col, vec_col, cents, nprobe)
        touched = self.vectors.touched_buckets(probes)
        return probes, self._at(self.vectors, epoch, touched), epoch

    def apply_changes(
        self,
        changes: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Keep the index in sync with an embedding store's CHANGE
        FEED (same consumer shape as ``NearDupIndex.apply_changes``)::

            follower = ChangeFeedFollower(corpus.store, marker)
            follower.poll(lambda df: index.apply_changes(df))

        Deletes (preimage rows) drop the id from its assigned cell;
        inserts add-if-absent. Deletes FIRST so an upsert (delete old
        + insert new, same id) re-indexes the new embedding — possibly
        into a different cell. Both halves are idempotent, so a
        re-delivered delta converges."""
        changes = changes.localCheckpoint()  # consumed by both halves
        self.delete(
            changes.where(F.col("_change_type") == "delete"),
            id_col, vec_col,
        )
        self.add_if_absent(
            changes.where(F.col("_change_type") == "insert"),
            id_col, vec_col,
        )

    def compact(self, min_dirs_per_bucket: int = 8) -> dict[int, int]:
        """Fold per-batch append dirs back to one per bucket (store
        OPTIMIZE; off the ingest path)."""
        return self.vectors.compact(min_dirs_per_bucket)


class IvfPqIndex(IvfIndex):
    """IVF index whose rows store PQ CODES instead of raw vectors —
    the composed 100 TB ANN shape as a PERSISTENT index: coarse
    centroids prune whole manifest buckets at search time and product
    quantization shrinks every stored row to ``pq_m`` small ints
    (64-dim float64 → 4 bytes at the defaults, ~128× smaller), so
    search reads codes and a per-query lookup table — never a corpus
    vector.

    Only the codec differs from :class:`IvfIndex`: the codebook is the
    codec's trained model (a third epoch-stamped store, published
    between the codes and the centroid flip, so the flip exposes a
    (centroids, codebook, codes) triple trained together), rows store
    ``codes``, and search scores by ADC (``ivfpq_topk``'s scoring).
    Accuracy contract: ``sim`` is the ADC approximation of cosine
    (``pq_topk``'s contract); recall floors are pinned by tests.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_centroids: int = 16,
        kmeans_iters: int = 2,
        n_buckets: int = 16,
        pq_m: int = 4,
        pq_codes: int = 16,
        pq_iters: int = 2,
    ):
        super().__init__(
            spark, path, n_centroids=n_centroids,
            kmeans_iters=kmeans_iters, n_buckets=n_buckets,
        )
        self.pq_m = pq_m
        self.pq_codes = pq_codes
        self.pq_iters = pq_iters
        self.codebook = BucketedParquetStore(
            spark, f"{path.rstrip('/')}/codebook", ["sub"], n_buckets=1,
        )

    def _fit_codec(
        self, vectors: DataFrame, id_col: str, vec_col: str
    ) -> DataFrame:
        return pq_train(
            vectors, id_col, vec_col, m=self.pq_m,
            n_codes=self.pq_codes, n_iters=self.pq_iters,
        ).localCheckpoint()  # consumed by encode + publish

    def _encode(self, assigned: DataFrame, model: DataFrame) -> DataFrame:
        """(id, centroid_id, codes): PQ encoding against the epoch's
        codebook, in the same map stage as the assignment."""
        return pq_encode(
            assigned, model, "id", "vec", keep=("centroid_id",)
        ).select("id", "centroid_id", "codes")

    def search(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        nprobe: int = 4,
        epoch: int | None = None,
    ) -> DataFrame:
        """ADC top-k over the probed cells' CODES →
        (query_id, match_id, sim, rank), self-pairs excluded — the
        ``pq_topk`` output contract with IVF bucket pruning. Reads
        only the probed cells' manifest buckets; per-candidate cost is
        ``pq_m`` lookup-adds against the per-query LUT (bounded:
        queries × m × n_codes rows, broadcast)."""
        probes, cells, epoch = self._probed(
            queries, id_col, vec_col, nprobe, epoch
        )
        return _adc_scored(
            cells, probes, queries, self._at(self.codebook, epoch),
            id_col, vec_col, k,
        )
