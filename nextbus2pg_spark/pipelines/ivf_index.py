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
  the probed cells' population, independent of corpus size.

Centroids drift as the corpus grows; that is inherent to IVF (FAISS
has the same contract). The recall floor against the trained snapshot
is pinned by tests; :meth:`IvfIndex.retrain_swap` handles drift
in place: it builds a complete new EPOCH (fresh centroids + a full
re-assignment of the given corpus snapshot) alongside the live one
and flips readers to it with ONE atomic manifest publish.

Epoch mechanics: every centroid and vector row carries an ``epoch``
int; readers resolve the current epoch from the centroid store (the
max published epoch) and filter both stores to it. A retrain appends
the new epoch's vectors FIRST (invisible — no centroid row exposes
that epoch yet) and publishes the new centroids LAST, so the centroid
manifest publish IS the swap: a reader that resolved its centroids
before the flip keeps reading the old epoch's rows (still present)
and sees a fully consistent pre-swap index; a reader arriving after
sees only the new epoch. A crash between the two appends leaves
unreferenced vector debris that no reader can select and that
:meth:`prune_stale_epochs` sweeps. Old-epoch rows persist (snapshot
reads via ``search(epoch=...)``) until explicitly pruned.

Writes are atomic manifest publishes (crash at any point leaves the
previous index state fully readable — sinks/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.similarity import (
    _assign_centroids,
    _topk_per_query,
    cosine,
    ivf_assign,
    ivf_centroids,
    kmeans_centroids,
    with_norm,
)
from nextbus2pg_spark.sinks.store import BucketedParquetStore


class IvfIndex:
    """Train-once / add-incrementally / search-pruned IVF ANN index."""

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

    def _cents(self) -> "tuple[DataFrame, int]":
        """(current epoch's centroids, that epoch). Both come from the
        same tiny store read; the epoch pins every downstream vector
        read so a concurrent swap can't mix epochs mid-plan."""
        epoch = self.current_epoch()
        cents = (
            self.centroids.read()
            .where(F.col("epoch") == F.lit(epoch))
            .select("centroid_id", "c_vec")
        )
        return cents, epoch

    @staticmethod
    def _stamp(df: DataFrame, epoch: int) -> DataFrame:
        return df.withColumn("epoch", F.lit(epoch).cast("int"))

    def _stores(self):
        """Every epoch-stamped store (prune iterates these; the PQ
        subclass adds its codebook)."""
        return (self.vectors, self.centroids)

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

    def train(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Fit centroids on ``vectors`` and index them as epoch 0. One-
        time cost; the centroid relation is n_centroids rows per epoch
        (broadcast-sized forever after)."""
        if self.exists():
            raise ValueError(
                "index already trained; call retrain_swap() to refresh"
            )
        cents = self._train_centroids(vectors, id_col, vec_col)
        # Vectors FIRST, centroid publish LAST: exists() keys on the
        # centroid manifest, so a crash anywhere before the final
        # publish leaves exists() False and train() safely rerunnable —
        # vectors.init() on the rerun publishes a manifest referencing
        # only its own fresh generation, superseding any crash debris.
        self.vectors.init(
            self._stamp(
                self._assigned_rows(cents, vectors, id_col, vec_col, 0),
                0,
            )
        )
        self.centroids.init(self._stamp(cents, 0))

    def retrain_swap(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> int:
        """Handle centroid drift IN PLACE: fit fresh centroids on the
        given corpus snapshot, fully re-assign it as a new epoch, and
        flip readers to it atomically. Returns the new epoch.

        The new epoch's vector rows are appended FIRST — invisible,
        because no published centroid row exposes that epoch — and the
        centroid append LAST is the single atomic commit point. An
        in-flight reader that already resolved its centroids keeps a
        fully consistent view of the old epoch (its rows are untouched
        until :meth:`prune_stale_epochs`); there is no instant at
        which a reader can pair new centroids with old assignments or
        vice versa.

        Crash-safe and rerunnable: the next epoch number is taken from
        the max epoch across BOTH stores, so a crash between the two
        appends leaves vector debris at an epoch a retry skips past —
        the retry publishes a complete higher epoch, and the debris
        (never reader-visible) is swept by prune. Adds computed
        against the old epoch that land after the flip are likewise
        stale-epoch rows, invisible and swept — quiesce adds during a
        retrain, or re-add the tail after it; the snapshot you pass is
        what the new epoch serves.
        """
        if not self.exists():
            raise ValueError("no trained index at this path; call train()")
        # max over both stores: vector debris from a crashed prior swap
        # must not be reused (its assignment may be half-written).
        # v_max is None when every vector row was delete()d — an empty
        # store is valid; fall back to the centroid epoch alone.
        v_max = self.vectors.read().agg(F.max("epoch")).collect()[0][0]
        new_epoch = max(
            self.current_epoch(), int(v_max) if v_max is not None else -1
        ) + 1
        cents = self._train_centroids(vectors, id_col, vec_col)
        self.vectors.append(
            self._stamp(
                self._assigned_rows(
                    cents, vectors, id_col, vec_col, new_epoch
                ),
                new_epoch,
            )
        )
        self.centroids.append(self._stamp(cents, new_epoch))  # the flip
        return new_epoch

    def prune_stale_epochs(self) -> int:
        """Drop every row whose epoch differs from the current one —
        superseded epochs AND crash debris above it. One read-merge-
        write over each store's populated buckets, OCC-guarded; skips
        the publish entirely when nothing is stale. Returns the epoch
        kept. Off the swap path by design: old epochs stay readable
        (``search(epoch=...)``) until the operator decides in-flight
        readers have drained."""
        epoch = self.current_epoch()
        for store in self._stores():
            if not store.exists():
                continue
            base_gen = store.current_manifest()["gen"]
            existing = store.read().localCheckpoint()  # guard + rewrite
            if existing.where(F.col("epoch") != F.lit(epoch)).isEmpty():
                continue
            touched = [
                int(b) for b in store.current_manifest()["buckets"]
            ]
            store.replace_buckets(
                existing.where(F.col("epoch") == F.lit(epoch)),
                touched,
                expected_gen=base_gen,
            )
        return epoch

    def add(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Index a batch against the EXISTING centroids: one broadcast
        assignment pass over the batch, one O(batch) append. Ids must
        be new (append-only id space, as in NearDupIndex)."""
        cents, epoch = self._cents()
        self.vectors.append(
            self._stamp(
                self._assigned_rows(
                    cents, vectors, id_col, vec_col, epoch
                ),
                epoch,
            )
        )

    def _assigned_rows(
        self,
        cents: DataFrame,
        vectors: DataFrame,
        id_col: str,
        vec_col: str,
        epoch: int,
    ) -> DataFrame:
        """Batch → storable index rows, assigned against ``cents``.
        ``epoch`` identifies which epoch's auxiliary model applies —
        unused by the raw codec, consumed by the PQ subclass to pick
        the matching codebook. Assignment is map-only with the batch
        columns riding in-row (:func:`_assign_centroids`), so encoding
        is one map stage over the batch."""
        v = with_norm(
            vectors.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
            ),
            "vec",
            "norm",
        )
        return _assign_centroids(
            v, cents, nprobe=1, vec_col="vec", norm_col="norm"
        ).select("id", "centroid_id", "vec", "norm")

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
        vectors = vectors.dropDuplicates([id_col])
        cents, epoch = self._cents()
        rows = self._stamp(
            self._assigned_rows(cents, vectors, id_col, vec_col, epoch),
            epoch,
        ).localCheckpoint()  # consumed by bucket-id collect + anti-join
        if self.vectors.exists():
            cells = rows.select("centroid_id").distinct()
            touched = self.vectors.touched_buckets(cells)
            seen = (
                self.vectors.read(touched)
                .where(F.col("epoch") == F.lit(epoch))
                .select("id")
            )
            rows = rows.join(seen, "id", "left_anti").localCheckpoint()
            if rows.isEmpty():
                return  # full replay: no write job, no manifest churn
        self.vectors.append(rows)

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
        contract. Reads only the manifest buckets holding the probed
        cells (spy-tested), then exact cosine within them.

        ``epoch`` pins the read to a specific published epoch (a
        reader that resolved its view before a concurrent
        :meth:`retrain_swap` — or a deliberate snapshot read); the
        default is the current epoch. Both the centroid resolution and
        the vector filter use the SAME epoch, so the result is always
        a self-consistent index state."""
        if epoch is None:
            cents, epoch = self._cents()
        else:
            cents = (
                self.centroids.read()
                .where(F.col("epoch") == F.lit(epoch))
                .select("centroid_id", "c_vec")
            )
        q_assigned = ivf_assign(queries, id_col, vec_col, cents, nprobe=nprobe)
        probe_cells = q_assigned.select(
            F.col("centroid_id").alias("centroid_id")
        ).distinct()
        touched = self.vectors.touched_buckets(probe_cells)
        stored = (
            self.vectors.read(touched)
            .where(F.col("epoch") == F.lit(epoch))
            .drop("epoch")
            .withColumnsRenamed(
                {"id": "match_id", "vec": "t_vec", "norm": "t_norm"}
            )
        )
        qn = with_norm(queries, vec_col, "q_norm").select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("q_vec"),
            "q_norm",
        )
        q = q_assigned.join(qn, "id").select(
            F.col("id").alias("query_id"), "centroid_id", "q_vec", "q_norm"
        )
        sim = F.round(
            cosine(
                F.col("q_vec"), F.col("t_vec"),
                F.col("q_norm"), F.col("t_norm"),
            ),
            6,
        )
        pairs = (
            stored.join(q, "centroid_id")
            .where(F.col("query_id") != F.col("match_id"))
            .select("query_id", "match_id", sim.alias("sim"))
            .distinct()  # a pair can meet via several probed cells
        )
        return _topk_per_query(pairs, k)

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
        the add-time one. Absent ids are a no-op (idempotent under
        at-least-once replay; the anti-join also sweeps out a replayed
        upsert's re-added row if it shares the touched buckets — the
        paired insert re-applies it)."""
        if not self.vectors.exists():
            return
        cents, epoch = self._cents()
        assigned = ivf_assign(
            vectors.dropDuplicates([id_col]), id_col, vec_col,
            cents, nprobe=1,
        ).localCheckpoint()  # feeds cell collect AND the anti-join
        cells = assigned.select("centroid_id").distinct()
        touched = self.vectors.touched_buckets(cells)
        if not touched:
            return
        base_gen = self.vectors.current_manifest()["gen"]
        # checkpoint: consumed by the emptiness guard AND the rewrite —
        # without it the touched buckets' parquet is read twice
        existing = self.vectors.read(touched).localCheckpoint()
        doomed = assigned.select(F.col("id").alias("__did"))
        current = existing.where(F.col("epoch") == F.lit(epoch))
        if current.join(
            doomed, current["id"] == doomed["__did"], "left_semi"
        ).isEmpty():
            return  # replay of a completed delete: no write, no churn
        # only the CURRENT epoch's row is removed: stale epochs are
        # frozen snapshots (pinned search(epoch=...) stays replayable
        # until prune_stale_epochs sweeps them)
        merged = existing.join(
            doomed,
            (existing["id"] == doomed["__did"])
            & (existing["epoch"] == F.lit(epoch)),
            "left_anti",
        )
        self.vectors.replace_buckets(merged, touched, expected_gen=base_gen)

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
    centroids prune whole manifest buckets at search time (inherited)
    and product quantization shrinks every stored row to ``pq_m``
    small ints (64-dim float64 → 4 bytes at the defaults, ~128×
    smaller), so search reads codes and a per-query lookup table —
    never a corpus vector.

    Everything epoch-/CDC-/crash-related is inherited verbatim: the
    codebook is a third epoch-stamped store published BETWEEN the
    vectors and the centroid flip, so the flip atomically exposes a
    (centroids, codebook, codes) triple trained together — no reader
    can pair a codebook with another epoch's codes. ``add`` /
    ``add_if_absent`` / ``delete`` / ``apply_changes`` work unchanged
    (assignment and membership need only (id, centroid_id, epoch));
    only row encoding and search scoring differ. Accuracy contract:
    ``sim`` is the ADC approximation of cosine (operators/similarity
    ``pq_topk``'s contract); recall floors are pinned by tests.
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
        #: in-training codebook: lets _assigned_rows encode against a
        #: book that is not yet published (train/retrain build phase)
        self._fresh_book: DataFrame | None = None

    def _stores(self):
        return (self.vectors, self.codebook, self.centroids)

    def _book_at(self, epoch: int) -> DataFrame:
        return (
            self.codebook.read()
            .where(F.col("epoch") == F.lit(epoch))
            .select("sub", "code_id", "c_vec")
        )

    def _train_book(
        self, vectors: DataFrame, id_col: str, vec_col: str
    ) -> DataFrame:
        from nextbus2pg_spark.operators.similarity import pq_train

        return pq_train(
            vectors, id_col, vec_col, m=self.pq_m,
            n_codes=self.pq_codes, n_iters=self.pq_iters,
        ).localCheckpoint()  # consumed by encode + publish

    def _assigned_rows(
        self,
        cents: DataFrame,
        vectors: DataFrame,
        id_col: str,
        vec_col: str,
        epoch: int,
    ) -> DataFrame:
        """(id, centroid_id, codes): coarse assignment + PQ encoding
        against the epoch's codebook (the in-training one during a
        build — published and trained as one triple, so they always
        match). Both halves are map-only, so they compose as two
        column computations over ONE pass of the batch."""
        from nextbus2pg_spark.operators.similarity import pq_encode

        book = (
            self._fresh_book
            if self._fresh_book is not None
            else self._book_at(epoch)
        )
        v = with_norm(
            vectors.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
            ),
            "vec",
            "norm",
        )
        assigned = _assign_centroids(
            v, cents, nprobe=1, vec_col="vec", norm_col="norm"
        )
        return pq_encode(
            assigned, book, "id", "vec", keep=("centroid_id",)
        ).select("id", "centroid_id", "codes")

    def train(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Epoch-0 build: codes FIRST, codebook SECOND, centroid
        publish LAST (exists() keys on the centroid manifest — the
        inherited crash-rerunnability argument, with the codebook
        inside the invisible window)."""
        if self.exists():
            raise ValueError(
                "index already trained; call retrain_swap() to refresh"
            )
        cents = self._train_centroids(vectors, id_col, vec_col)
        self._fresh_book = self._train_book(vectors, id_col, vec_col)
        try:
            self.vectors.init(
                self._stamp(
                    self._assigned_rows(cents, vectors, id_col, vec_col, 0),
                    0,
                )
            )
            self.codebook.init(self._stamp(self._fresh_book, 0))
        finally:
            self._fresh_book = None
        self.centroids.init(self._stamp(cents, 0))

    def retrain_swap(
        self,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> int:
        """Inherited contract (atomic flip at the centroid publish;
        crash debris skipped by the retry's epoch choice and swept by
        prune) with the codebook appended between codes and flip."""
        if not self.exists():
            raise ValueError("no trained index at this path; call train()")
        v_max = self.vectors.read().agg(F.max("epoch")).collect()[0][0]
        new_epoch = max(self.current_epoch(), int(v_max)) + 1
        cents = self._train_centroids(vectors, id_col, vec_col)
        self._fresh_book = self._train_book(vectors, id_col, vec_col)
        try:
            self.vectors.append(
                self._stamp(
                    self._assigned_rows(
                        cents, vectors, id_col, vec_col, new_epoch
                    ),
                    new_epoch,
                )
            )
            self.codebook.append(self._stamp(self._fresh_book, new_epoch))
        finally:
            self._fresh_book = None
        self.centroids.append(self._stamp(cents, new_epoch))  # the flip
        return new_epoch

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
        from nextbus2pg_spark.operators.similarity import _adc_lut

        if epoch is None:
            cents, epoch = self._cents()
        else:
            cents = (
                self.centroids.read()
                .where(F.col("epoch") == F.lit(epoch))
                .select("centroid_id", "c_vec")
            )
        q_assigned = ivf_assign(queries, id_col, vec_col, cents,
                                nprobe=nprobe)
        probe_cells = q_assigned.select("centroid_id").distinct()
        touched = self.vectors.touched_buckets(probe_cells)
        stored = (
            self.vectors.read(touched)
            .where(F.col("epoch") == F.lit(epoch))
            .select("id", "centroid_id", "codes")
        )
        probes = q_assigned.select(
            F.col("id").alias("query_id"), "centroid_id"
        )
        lut = _adc_lut(queries, self._book_at(epoch), id_col, vec_col)
        cand = (
            stored.join(F.broadcast(probes), "centroid_id")
            .where(F.col("query_id") != F.col("id"))
            .select(
                "query_id",
                F.col("id").alias("match_id"),
                F.posexplode("codes").alias("sub", "code_id"),
            )
        )
        # no pair-dedup needed: each stored id lives in exactly ONE
        # cell (index-side nprobe=1), so a (query, match) pair meets
        # at most once however many cells the query probes
        scored = (
            cand.join(F.broadcast(lut), ["query_id", "sub", "code_id"])
            .groupBy("query_id", "match_id")
            .agg(F.round(F.sum("part"), 6).alias("sim"))
        )
        return _topk_per_query(scored, k)
