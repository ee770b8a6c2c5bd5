"""Bucketed, manifest-versioned parquet table store — the local
stand-in for a transactional MERGE target (Delta/Iceberg), built from
nothing but parquet dirs + an atomic manifest pointer.

It replaces rename-swap stores, which rewrote the FULL table per
micro-batch (O(|table|) IO) and had a crash window in which the table
path did not exist, so a crashed swap re-bootstrapped and lost history.

Design (the same shape as a Delta transaction log, minimally):

- Data files are immutable. Each write lands a new generation directory
  ``<path>/data/g<N>/__bucket=<b>/part-*.parquet`` — existing files are
  never touched.
- The current table state is defined ONLY by the highest-numbered
  ``<path>/_manifest-<N>.json``: a map of bucket id → list of data dirs.
  Manifests are published by writing ``*.json.tmp`` and renaming to the
  final (fresh, never-existing) name — a single atomic file rename on
  local FS and HDFS. A crash at ANY point before that rename leaves the
  previous manifest fully intact: there is no moment where a reader can
  observe missing or partial state, and recovery is "do nothing".
- Rows are hash-bucketed on the key (``pmod(xxhash64(keys), n)``). A
  merge reads and replaces only the buckets containing batch keys;
  untouched buckets keep their existing (byte-identical) files. That
  turns per-batch IO from O(|table|) into O(|touched buckets|) — the
  file-pruned MERGE behavior MIGRATION.md maps to Delta.
- Old generations are garbage-collected after publish, always keeping
  the previous manifest's files so an in-flight reader of gen N-1 is
  never invalidated by the writer of gen N (single-writer model, like
  the reference's one polling process — run.py:29-66).

Write path: every keyed write is ``merge(incoming, fn)`` — pin the
base generation, stage ``incoming`` once (one eager ``localCheckpoint``
job whose observed metrics give the touched bucket set, so the probe
costs no second pass over the input), read only those buckets, and
replace them with ``fn(existing, staged)`` under the base-generation
check (nothing is published when no bucket is touched). A checkpoint
is never recomputed, so the buckets probed are exactly those of the
rows written; an executor lost with staged blocks fails the write, the
claim is released, and the caller retries. A first write is the same
merge into the empty table: ``existing`` is a zero-row frame typed like
``incoming`` and nothing is staged. ``init``,
``append`` and ``replace_buckets`` all end in one commit body — claim
the next generation, read the manifest once, write, publish, vacuum —
with one release of the claim on failure.

Exactly-once: the manifest is also the commit record of the batches
that wrote the table. A write made inside ``transaction(app_id,
version)`` publishes ``{app_id: version}`` in the same manifest as its
data (Delta's ``SetTransaction``, ``txnAppId``/``txnVersion``); a
later write in a transaction whose version is at or below the one
recorded for its app is a replay and publishes nothing. Every publish
carries the previous manifest's map forward, one entry per app.

Reference parity note: the reference's store is Postgres — every upsert
is row-level in-place (agency.py:60-71). This module gives the same
keyed-merge semantics on files, which is what the 100 TB deployment
needs (object storage, not a single Postgres).

All filesystem access goes through the Hadoop FileSystem API so the
same code runs on file://, hdfs:// and s3a:// (rename-as-publish on S3
needs a consistent committer; Delta is the recommended target there —
see MIGRATION.md).
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import time
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.metrics import staged

_MANIFEST_RE = re.compile(r"_manifest-(\d+)\.json$")
_CLAIM_RE = re.compile(r"_claim-(\d+)$")

class ConcurrentWriteError(RuntimeError):
    """Another writer holds (or published) the generation this writer
    was about to publish. The store's commit protocol REJECTS the
    conflicting write loudly instead of letting last-rename-wins drop a
    generation silently; the caller should re-read table state and
    retry the whole operation (its merge may be stale)."""

#: sentinel for min/max values whose type the manifest cannot order
_UNSUPPORTED = object()


def _stat_ser(v):
    """JSON-safe, ORDER-PRESERVING serialization of a column min/max.

    Numbers and strings keep their native ordering; datetimes/dates
    serialize to isoformat, which is lexicographically order-preserving
    within one column (uniform precision/tz-awareness per parquet
    type). Anything else returns ``_UNSUPPORTED`` and the column's
    stats are simply omitted for that dir — pruning stays conservative.
    """
    if v is None:
        return None
    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return _UNSUPPORTED


def _range_overlaps(st: dict, lower, upper) -> bool:
    """Can a dir with min/max stats ``st`` contain a row passing
    ``lower <= col <= upper``?  Conservative: unknown/odd cases keep
    the dir. Range predicates are NULL-rejecting (SQL semantics), so an
    all-null dir (min and max both None) is prunable when any bound is
    given."""
    mn, mx = st.get("min"), st.get("max")
    if mn is None and mx is None:
        return lower is None and upper is None
    try:
        if lower is not None and mx is not None and mx < lower:
            return False
        if upper is not None and mn is not None and mn > upper:
            return False
    except TypeError:  # incomparable bound vs stored type → keep
        return True
    return True


def bucket_expr(
    key_cols: Sequence[str], n_buckets: int, null_safe: bool = False
) -> Column:
    """Deterministic bucket id in [0, n_buckets) from the key columns.

    Keys are cast to string before hashing so the bucket id survives a
    schema widening (int32 → int64) without reshuffling history; with
    ``null_safe`` a NULL key hashes like ``''`` — matching the
    COALESCE(col, '') unique indexes the reference relies on
    (sql/create_tables.sql:62-63), so the NULL and empty forms of a key
    land in (and merge within) the same bucket.
    """
    if not key_cols:  # a keyless store (an append log) is one bucket
        return F.lit(0)
    parts = []
    for c in key_cols:
        s = F.col(c).cast("string")
        parts.append(F.coalesce(s, F.lit("")) if null_safe else s)
    return F.pmod(F.xxhash64(*parts), F.lit(n_buckets)).cast("int")


def stream_app_id(spark: SparkSession) -> str:
    """The transaction app id of a ``foreachBatch`` write: the running
    streaming query's id, which Spark sets as the
    ``sql.streaming.queryId`` local property of the thread that runs
    the batch. The id lives in the checkpoint, so a restart keeps it
    and a wiped checkpoint, whose batch ids restart at 0, gets a new
    one. Outside a streaming query it is ``"direct"``: the caller
    numbers its own batches."""
    qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    return qid or "direct"


class BucketedParquetStore:
    """Keyed parquet table with bucket-pruned rewrites + atomic publish."""

    BUCKET_COL = "__bucket"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        n_buckets: int = 16,
        null_safe: bool = False,
        keep_generations: int = 2,
        stats_cols: Sequence[str] | None = None,
        claim_ttl_sec: float = 3600.0,
    ):
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        self.spark = spark
        self.path = path.rstrip("/")
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        self.null_safe = null_safe
        # Data-skipping stats (Delta-style): per-bucket-dir min/max of
        # these columns land in the manifest at write time, and
        # range reads prune whole dirs BEFORE any file is listed or
        # opened — at 100 TB that is the difference between touching
        # O(matching dirs) and O(table) on every time-bounded query.
        self.stats_cols = list(stats_cols or [])
        # Floor of 2: a reader that resolved gen N just before the
        # writer publishes N+1 must still find gen N's files afterward
        # (test_store.py::test_reader_survives_concurrent_publish_and_gc).
        self.keep_generations = max(2, keep_generations)
        # Concurrency contract: publishes are serialized by per-
        # generation CLAIM files (``_claim-<N>``, exclusive create — see
        # _create_exclusive), so the loser of a race for generation N
        # raises ConcurrentWriteError BEFORE writing any data instead of
        # last-rename-wins dropping a generation. A crashed writer's
        # claim is taken over after ``claim_ttl_sec``
        # (_takeover_stale_claim). TTL CONTRACT: it must exceed the
        # longest write job — taking over a merely SLOW writer re-opens
        # the race (or pass inf and clear crashed claims by hand).
        self.claim_ttl_sec = claim_ttl_sec
        # Claim INSTANCE keys (mtime at claim/takeover time) for claims
        # THIS writer holds — _release_claim releases only the recorded
        # instance, never a successor's fresh claim (see its docstring).
        self._claimed_instances: dict[int, int] = {}
        # (app_id, version) of the open transaction(), if any
        self._txn: tuple[str, int] | None = None

    # -- filesystem plumbing -------------------------------------------

    def _fs(self):
        jvm = self.spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = root.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return jvm, fs, root

    def _jpath(self, rel: str):
        jvm, _, _ = self._fs()
        return jvm.org.apache.hadoop.fs.Path(f"{self.path}/{rel}")

    def _manifest_gens(self) -> list[int]:
        _, fs, root = self._fs()
        if not fs.exists(root):
            return []
        gens = []
        for st in fs.listStatus(root):
            m = _MANIFEST_RE.search(st.getPath().getName())
            if m:
                gens.append(int(m.group(1)))
        return sorted(gens)

    def _read_manifest(self, gen: int) -> dict:
        jvm, fs, _ = self._fs()
        p = self._jpath(f"_manifest-{gen}.json")
        stream = fs.open(p)
        try:
            data = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(data)

    def _latest_manifest(self) -> dict | None:
        """The newest manifest doc, None while the table has none: one
        root listing plus one parse, the single way every read and
        write resolves table state."""
        gens = self._manifest_gens()
        return self._read_manifest(gens[-1]) if gens else None

    def _create_exclusive(self, rel: str) -> bool:
        """Atomically create ``rel`` as a zero-byte lock file; False if
        it already exists. Only a lost race maps to False — a real
        IO/permission failure re-raises instead of posing as a
        concurrency conflict.

        ``fs.create(overwrite=False)`` is atomic on HDFS but
        CHECK-THEN-ACT on RawLocalFileSystem (two local writers could
        both 'win'), so on file:// the lock goes through
        ``java.io.File.createNewFile`` (O_CREAT|O_EXCL). Object stores
        without atomic create need a commit service (MIGRATION.md →
        Delta LogStore)."""
        jvm, fs, root = self._fs()
        if not fs.exists(root):
            fs.mkdirs(root)
        p = self._jpath(rel)
        # Branch on the RESOLVED filesystem, not the raw path URI: a
        # scheme-less path on a cluster with fs.defaultFS=hdfs:// must
        # stay on the HDFS branch — java.io.File on the driver's local
        # disk would create a claim no other writer can see.
        qp = fs.makeQualified(p)
        if qp.toUri().getScheme() == "file":
            return bool(jvm.java.io.File(qp.toUri().getPath()).createNewFile())
        if fs.exists(p):
            return False
        try:
            out = fs.create(p, False)  # overwrite=False: atomic on HDFS
            out.close()
            return True
        except Exception:
            if fs.exists(p):
                return False  # lost the create race — genuine conflict
            raise

    def _try_claim(self, gen: int) -> bool:
        """Atomically create the claim file for ``gen``; False if any
        other writer (live or crashed) already holds it."""
        return self._create_exclusive(f"_claim-{gen}")

    def _mtime_of(self, rel: str) -> int | None:
        """``rel``'s modification time in epoch-ms, None if absent.
        Same error contract as :meth:`_create_exclusive`: only genuine
        absence maps to None — a real IO/permission failure re-raises
        instead of reading as "claim vanished", which would let a
        transient FS blip drive a takeover of a live writer's claim."""
        _, fs, _ = self._fs()
        p = self._jpath(rel)
        try:
            st = fs.getFileStatus(p)
        except Exception:
            if not fs.exists(p):
                return None  # genuinely absent (or deleted mid-check)
            raise
        return int(st.getModificationTime())

    def _takeover_stale_claim(self, gen: int) -> bool:
        """Single-winner takeover of a stale claim. The arbitration is
        an EXCLUSIVE create of a reap-lock file whose NAME is keyed to
        the stale claim INSTANCE (its mtime): racers for the same
        instance compute the same reap name, so exactly one wins, and
        no reap file is ever deleted inline (deleting and re-creating
        one let a second racer double-claim). A reap file for instance
        M is inert once claim M is gone; ``_vacuum`` collects it.

        Holding the reap lock, the winner re-verifies the claim is
        STILL instance M (mtime equality, not just age — a successor's
        fresh claim must never be deleted), deletes it, and claims.
        A reaper that crashes inside those two metadata calls leaves
        reap-M and claim M behind; that instance then needs an operator
        to delete both (signalled by :class:`ConcurrentWriteError`).
        Object storage needs a commit service (MIGRATION.md → Delta's
        LogStore)."""
        _, fs, _ = self._fs()
        claim = f"_claim-{gen}"
        m = self._mtime_of(claim)
        if m is None or time.time() - m / 1000.0 <= self.claim_ttl_sec:
            return False  # vanished or fresh instance — not ours to reap
        if not self._create_exclusive(f"{claim}.reap-{m}"):
            return False  # another reaper owns takeover of instance m
        if self._mtime_of(claim) != m:
            return False  # replaced under us — new instance, not stale
        fs.delete(self._jpath(claim), False)
        if not self._try_claim(gen):
            return False
        # Instance keys are mtimes, so the SUCCESSOR claim must never
        # share the reaped instance's mtime (possible only when the
        # filesystem's mtime granularity exceeds claim_ttl_sec — e.g.
        # second-granularity mtimes with a sub-second test TTL): the
        # inert reap-m file would then block the successor's own
        # future takeover forever. Bump the successor's mtime clear of
        # the collision.
        if self._mtime_of(claim) == m:
            fs.setTimes(self._jpath(claim), m + 1, -1)
        return True

    def claim_next_generation(self) -> int:
        """Claim the next unpublished generation number, serializing
        concurrent writers. Raises :class:`ConcurrentWriteError` if an
        in-flight writer holds the next generation; a claim older than
        ``claim_ttl_sec`` with no published manifest is treated as a
        crashed writer and taken over (its never-published data dirs
        are removed before reuse by ``_write_generation``)."""
        for _ in range(2):
            # Recompute after a failed claim: the holder may have
            # PUBLISHED between our listing and our claim attempt, in
            # which case the next number has simply moved on.
            gen = self._next_gen()
            if self._try_claim(gen):
                return self._record_claim_instance(gen)
        gen = self._next_gen()
        m = self._mtime_of(f"_claim-{gen}")
        age = None if m is None else time.time() - m / 1000.0
        if age is not None and age > self.claim_ttl_sec:
            if self._takeover_stale_claim(gen):
                return self._record_claim_instance(gen)
        raise ConcurrentWriteError(
            f"generation {gen} of {self.path} is claimed by another "
            f"writer (claim age: {age if age is None else round(age, 1)}s, "
            f"ttl {self.claim_ttl_sec}s); re-read table state and retry"
        )

    def _record_claim_instance(self, gen: int) -> int:
        """Remember the mtime (instance key) of the claim file this
        writer just created/took over, so release can verify it still
        owns the on-disk claim. A None mtime (claim vanished between
        create and stat — only a concurrent takeover-after-TTL can do
        that) leaves no record, making release a deliberate no-op."""
        m = self._mtime_of(f"_claim-{gen}")
        if m is not None:
            self._claimed_instances[gen] = m
        return gen

    def _release_claim(self, gen: int) -> None:
        """Vacate a claim after a write that did not publish, so the
        generation is not blocked until the TTL. No-op once the
        manifest is published (the claim then guards the number).
        Deletes ONLY the claim instance this writer recorded (mtime
        equality): a slow writer that was taken over must not delete
        its SUCCESSOR's claim and let a third writer race it."""
        _, fs, _ = self._fs()
        instance = self._claimed_instances.pop(gen, None)
        if instance is None:
            return  # never recorded ownership — nothing provably ours
        if not fs.exists(self._jpath(f"_manifest-{gen}.json")):
            if self._mtime_of(f"_claim-{gen}") == instance:
                fs.delete(self._jpath(f"_claim-{gen}"), False)

    def _publish(
        self,
        gen: int,
        buckets: dict[int, list[str]],
        stats: dict[str, dict] | None = None,
        schema_json: str | None = None,
        txn: dict[str, int] | None = None,
    ) -> dict:
        """Atomically publish generation ``gen`` (which the caller must
        have CLAIMED): write the manifest to a .tmp file and rename to
        its final (fresh) name — the commit point. Nothing before this
        rename is visible to readers. ``stats`` maps data-dir relpath →
        per-column min/max; only entries for dirs actually referenced
        by ``buckets`` are kept. ``schema_json`` records the table
        schema in the manifest (so an EMPTY table — e.g. after a
        delete-all — still reads with a typed schema); ``txn`` the
        app id → last committed version map. Returns the published
        manifest doc."""
        _, fs, _ = self._fs()
        live_dirs = {d for dirs in buckets.values() for d in dirs}
        doc = {
            "gen": gen,
            "n_buckets": self.n_buckets,
            "buckets": {str(b): dirs for b, dirs in sorted(buckets.items())},
        }
        if schema_json:
            doc["schema"] = schema_json
        kept_stats = {
            d: s for d, s in (stats or {}).items() if d in live_dirs and s
        }
        if kept_stats:
            doc["stats"] = kept_stats
        if txn:
            doc["txn"] = txn
        payload = json.dumps(doc, indent=0, sort_keys=True).encode()
        tmp = self._jpath(f"_manifest-{gen}.json.tmp")
        final = self._jpath(f"_manifest-{gen}.json")
        if fs.exists(final):
            # Only a bypassed claim protocol (e.g. clock-skewed TTL
            # takeover) gets here; never overwrite a published manifest.
            raise ConcurrentWriteError(
                f"manifest for generation {gen} of {self.path} already "
                "published by another writer; this write is lost — "
                "re-read table state and retry"
            )
        out = fs.create(tmp, True)
        try:
            out.write(payload)
        finally:
            out.close()
        if not fs.rename(tmp, final):
            raise IOError(f"manifest publish failed: {final}")
        # The claim's job is done (the published manifest now guards
        # the number); drop the instance record so a long-lived writer
        # doesn't accumulate one dict entry per generation forever.
        self._claimed_instances.pop(gen, None)
        return doc

    def _vacuum(self, known: dict[int, dict]) -> None:
        """Drop manifests/data not needed by the last ``keep_generations``
        manifests. The previous manifest's files are always retained so
        a reader that resolved gen-1 just before our publish still has
        its files. ``known`` maps generations to manifest docs the
        writer already holds (manifests are immutable), so only the
        other retained manifests are parsed."""
        gens = self._manifest_gens()
        keep = set(gens[-self.keep_generations:])
        live: set[str] = set()
        for g in keep:
            man = known.get(g) or self._read_manifest(g)
            for dirs in man["buckets"].values():
                live.update(dirs)
        _, fs, root = self._fs()
        for g in gens:
            if g not in keep:
                fs.delete(self._jpath(f"_manifest-{g}.json"), False)
        # Claims for published generations stay in place while their
        # manifest is retained (they are the arbiter that stops a racer
        # whose _next_gen read predates the publish from re-claiming the
        # number); once the manifest itself is vacuumed the claim is
        # vacated too. Claims ABOVE the latest manifest belong to
        # in-flight or crashed writers and are never touched here.
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            m = _CLAIM_RE.search(name) or re.search(
                r"_claim-(\d+)\.reap(?:-\d+)?$", name
            )
            if m and int(m.group(1)) < min(keep, default=0):
                fs.delete(st.getPath(), False)
        data_root = self._jpath("data")
        if not fs.exists(data_root):
            return
        for gen_dir in fs.listStatus(data_root):
            gname = gen_dir.getPath().getName()
            for bdir in fs.listStatus(gen_dir.getPath()):
                rel = f"data/{gname}/{bdir.getPath().getName()}"
                if rel not in live:
                    fs.delete(bdir.getPath(), True)
            if not fs.listStatus(gen_dir.getPath()):
                fs.delete(gen_dir.getPath(), True)

    # -- state --------------------------------------------------------

    def exists(self) -> bool:
        return bool(self._manifest_gens())

    def generations(self) -> list[int]:
        """Readable generations, oldest first — the last
        ``keep_generations`` publishes (older ones are vacuumed)."""
        return self._manifest_gens()

    def txn_version(self, app_id: str) -> int:
        """The last version committed in a :meth:`transaction` of
        ``app_id``, -1 when it has none."""
        man = self._latest_manifest()
        return -1 if man is None else man.get("txn", {}).get(app_id, -1)

    @contextmanager
    def transaction(self, app_id: str, version: int) -> Iterator[None]:
        """Make the writes inside the block idempotent on
        ``(app_id, version)``: each commit publishes the pair in its
        manifest, and a commit whose version is at or below the one
        recorded for ``app_id`` publishes nothing. Versions of one app
        must only grow (streaming batch ids do). A second write to this
        store in the same block is skipped like a replay, as Delta
        skips a second write carrying the same ``txnVersion``."""
        prev, self._txn = self._txn, (str(app_id), int(version))
        try:
            yield
        finally:
            self._txn = prev

    def _replayed(self, man: dict | None) -> bool:
        """Whether ``man`` already records the open :meth:`transaction`:
        its version is at or below the one ``man`` holds for its app."""
        if self._txn is None or man is None:
            return False
        app_id, version = self._txn
        return man.get("txn", {}).get(app_id, -1) >= version

    def current_manifest(self) -> dict:
        man = self._latest_manifest()
        if man is None:
            raise FileNotFoundError(f"no manifest under {self.path}")
        return man

    def read_generation(self, gen: int) -> DataFrame:
        """Time-travel read: the table exactly as generation ``gen``
        published it (manifests pin immutable files, so this is free —
        the same mechanism as Delta's VERSION AS OF, bounded by
        ``keep_generations``), schema-pinned like :meth:`read`."""
        if gen not in self._manifest_gens():
            raise ValueError(
                f"generation {gen} not retained; have {self._manifest_gens()}"
            )
        return self._read(self._read_manifest(gen))

    def read_changes(
        self, from_gen: int, to_gen: int | None = None
    ) -> DataFrame:
        """Row-level changes between two retained generations — the
        CHANGE-DATA-FEED read (Delta CDF analogue): downstream
        consumers resync incrementally instead of re-reading a 100 TB
        table after every publish. Output: the table's columns plus
        ``_change_type`` ('insert' | 'delete'); an upsert that changed
        a row's payload appears as a delete of the old row plus an
        insert of the new one.

        IO is bounded by what actually changed, at two granularities:

        - a bucket whose dir list merely GREW (the append path) emits
          the rows of its NEW dirs directly — zero join, zero read of
          pre-existing dirs, and correct even for duplicate-row event
          logs;
        - a REWRITTEN bucket (merge/delete/compaction) is diffed as a
          row multiset: old vs new bucket contents aggregated per full
          row and subtracted, so no key-uniqueness assumption is
          needed (SCD2 history tables have many rows per key). A
          compaction that rewrote bytes but not rows emits nothing.

        Both generations must still be retained (``keep_generations``
        bounds the CDC window, exactly like time-travel)."""
        gens = self._manifest_gens()
        to_gen = gens[-1] if to_gen is None else to_gen
        for g in (from_gen, to_gen):
            if g not in gens:
                raise ValueError(
                    f"generation {g} not retained; have {gens}"
                )
        if from_gen > to_gen:
            raise ValueError(
                f"read_changes range is backwards ({from_gen} > "
                f"{to_gen}); a swapped range would silently invert "
                "every insert/delete label"
            )
        man_a = self._read_manifest(from_gen)
        man_b = self._read_manifest(to_gen)
        # Pin every dir read to the TO-side schema: dirs written before
        # a schema widening backfill the added columns with NULL, so
        # the diff sees NULL→value changes instead of dropping the
        # column (or failing the union) layout-dependently.
        to_schema = self._schema_of_manifest(man_b)

        def _read_dirs(dirs: list[str]) -> DataFrame:
            return self._pinned_reader(to_schema).parquet(
                *[f"{self.path}/{d}" for d in dirs]
            )
        ba = {b: list(d) for b, d in man_a["buckets"].items()}
        bb = {b: list(d) for b, d in man_b["buckets"].items()}

        appended_dirs: list[str] = []
        rewritten_old: list[str] = []
        rewritten_new: list[str] = []
        for b in set(ba) | set(bb):
            da, db = ba.get(b, []), bb.get(b, [])
            if da == db:
                continue  # untouched bucket: never read
            if set(da) <= set(db):
                appended_dirs.extend(d for d in db if d not in set(da))
            else:
                rewritten_old.extend(da)
                rewritten_new.extend(db)

        parts: list[DataFrame] = []
        if appended_dirs:
            parts.append(
                _read_dirs(appended_dirs).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        if rewritten_old or rewritten_new:
            empty = self._empty_frame(man_b)
            old = _read_dirs(rewritten_old) if rewritten_old else empty
            new = _read_dirs(rewritten_new) if rewritten_new else empty
            cols = old.columns
            oc = old.groupBy(*cols).agg(F.count(F.lit(1)).alias("__c_old"))
            nc = new.groupBy(*cols).agg(F.count(F.lit(1)).alias("__c_new"))
            cond = F.struct(*[F.col(f"o.{c}") for c in cols]).eqNullSafe(
                F.struct(*[F.col(f"n.{c}") for c in cols])
            )
            j = oc.alias("o").join(nc.alias("n"), cond, "full_outer").select(
                *[
                    F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")).alias(c)
                    for c in cols
                ],
                F.coalesce(F.col("o.__c_old"), F.lit(0)).alias("__c_old"),
                F.coalesce(F.col("n.__c_new"), F.lit(0)).alias("__c_new"),
            )
            diff = (
                j.withColumn("__d", F.col("__c_new") - F.col("__c_old"))
                .where(F.col("__d") != 0)
                .withColumn(
                    "_change_type",
                    F.when(F.col("__d") > 0, F.lit("insert")).otherwise(
                        F.lit("delete")
                    ),
                )
                # multiplicity: a row whose count changed by |d| emits
                # |d| change rows (duplicate-row tables stay exact)
                .withColumn(
                    "__i", F.explode(F.sequence(F.lit(1), F.abs("__d")))
                )
                .select(*cols, "_change_type")
            )
            parts.append(diff)
        if not parts:
            return self._empty_frame(man_b).withColumn(
                "_change_type", F.lit("").cast("string")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _adopt_bucketing(self, man: dict | None) -> None:
        """Take the bucket count that actually partitions stored data.

        The MANIFEST is authoritative once the table exists: a caller
        reopening the table with a different ``n_buckets`` would
        otherwise prune against the wrong modulus (missing existing
        keys → silent duplicates) and mix two bucketings in one
        manifest. The constructor value only seeds a brand-new table.
        """
        if man is not None:
            self.n_buckets = int(man["n_buckets"])

    def _bucket_col(self) -> Column:
        return bucket_expr(self.key_cols, self.n_buckets, self.null_safe)

    def touched_buckets(self, df: DataFrame) -> list[int]:
        """Distinct bucket ids present in ``df`` (bounded by n_buckets,
        so the collect is a scalar-sized driver hop, not a data move)."""
        self._adopt_bucketing(self._latest_manifest())
        rows = (
            df.select(self._bucket_col().alias(self.BUCKET_COL))
            .distinct()
            .collect()
        )
        return sorted(r[0] for r in rows)

    def _bucket_dirs(
        self, buckets: Sequence[int] | None = None, man: dict | None = None
    ) -> list[str]:
        """Full paths of the data dirs of ``buckets`` (all when None) in
        ``man`` (default: the current manifest)."""
        if man is None:
            man = self.current_manifest()
        sel = None if buckets is None else {str(b) for b in buckets}
        return [
            f"{self.path}/{d}"
            for b, dirs in man["buckets"].items()
            if sel is None or b in sel
            for d in dirs
        ]

    def dirs_for_range(self, col: str, lower=None, upper=None) -> list[str]:
        """Data-dir relpaths that might hold rows with
        ``lower <= col <= upper`` (either bound optional). Dirs with no
        recorded stats for ``col`` are always kept — pruning is an
        optimization, never a correctness filter. Bounds of datetime/
        date type are compared in isoformat (matching ``_stat_ser``)."""
        return self._dirs_for_range(self.current_manifest(), col, lower, upper)

    @staticmethod
    def _dirs_for_range(man: dict, col: str, lower, upper) -> list[str]:
        stats = man.get("stats", {})
        lo = _stat_ser(lower)
        hi = _stat_ser(upper)
        if lo is _UNSUPPORTED or hi is _UNSUPPORTED:
            lo = hi = None  # unorderable bound → keep everything
        out: list[str] = []
        for dirs in man["buckets"].values():
            for d in dirs:
                st = stats.get(d, {}).get(col)
                if st is None or _range_overlaps(st, lo, hi):
                    out.append(d)
        return sorted(set(out))

    def read_range(
        self, col: str, lower=None, upper=None, apply_filter: bool = True
    ) -> DataFrame:
        """Range read with manifest-level data skipping: only dirs whose
        recorded [min, max] for ``col`` intersects [lower, upper] are
        ever listed or opened (the same move as Delta file skipping, at
        dir granularity — file footers are never even fetched for
        pruned dirs, which on object storage is the entire cost of a
        needle query against a 100 TB log). With ``apply_filter`` the
        exact predicate is also applied, so results are identical to
        ``read().filter(...)``.

        NULL semantics are NULL-REJECTING regardless of
        ``apply_filter`` (SQL range semantics): rows where ``col`` IS
        NULL never appear in the result. This is enforced with an
        explicit ``IS NOT NULL`` filter even when ``apply_filter`` is
        False — dir-level stats (min/max ignore NULLs) cannot say
        which surviving dirs also hold NULL rows, so without the
        filter the NULL rows a caller saw would depend on physical dir
        layout. Callers that need NULL rows (e.g. to apply
        ``col >= x OR col IS NULL`` themselves) must use ``read()``."""
        man = self.current_manifest()
        kept = self._dirs_for_range(man, col, lower, upper)
        if not kept:
            df = self._empty_frame(man)
        else:
            df = self._pinned_reader(self._schema_of_manifest(man)).parquet(
                *[f"{self.path}/{d}" for d in kept]
            )
        if apply_filter:
            if lower is not None:
                df = df.filter(F.col(col) >= F.lit(lower))
            if upper is not None:
                df = df.filter(F.col(col) <= F.lit(upper))
        elif lower is not None or upper is not None:
            df = df.filter(F.col(col).isNotNull())
        return df

    @staticmethod
    def _schema_of_manifest(man: dict):
        """StructType recorded in a manifest doc, or None (legacy
        manifests written before schemas were recorded)."""
        from pyspark.sql.types import StructType

        s = man.get("schema")
        return StructType.fromJson(json.loads(s)) if s else None

    def _pinned_reader(self, schema):
        """DataFrameReader pinned to ``schema`` — the single
        construction point for schema-pinned dir reads (read /
        read_range / read_changes must never diverge on pinning
        semantics). Callers pass the schema of the manifest they
        resolved; ``None`` means "do not pin" (legacy manifests with no
        recorded schema — the dirs read with their native layout), so
        a legacy read_changes range is never pinned to the LATEST
        schema, which would backfill columns neither generation had."""
        reader = self.spark.read
        return reader if schema is None else reader.schema(schema)

    def _empty_frame(self, man: dict) -> DataFrame:
        """Typed zero-row frame for valid-but-empty selections: from
        the manifest's recorded schema when present (survives a
        delete-all that leaves no data dir anywhere), else derived
        from any data dir (legacy manifests)."""
        st = self._schema_of_manifest(man)
        if st is not None:
            return self.spark.createDataFrame([], st)
        all_dirs = self._bucket_dirs(None, man)
        if not all_dirs:
            raise FileNotFoundError(f"store {self.path} has no data")
        return self.spark.read.parquet(all_dirs[0]).limit(0)

    def _check_schema(
        self, df: DataFrame, allow_evolution: bool, man: dict
    ) -> str:
        """Schema gate for every write into an existing table: a frame
        whose columns silently differ from the stored schema is the
        classic mixed-schema-dirs hazard (parquet reads then take the
        column set of whichever file is sampled first — columns
        vanish or NULL out depending on dir layout). Contract:

        - identical column names + types → fine;
        - NEW columns → rejected unless ``allow_evolution=True``, in
          which case the manifest schema widens and old dirs read the
          new columns as NULL (reads are schema-pinned, below);
        - MISSING or re-typed columns → always rejected (a frame
          missing a stored column is a bug upstream, not evolution).

        ``man`` is the manifest the write commits on top of. Returns
        the schema JSON to publish."""
        stored = self._schema_of_manifest(man)
        if stored is None:
            # Legacy manifest (pre-schema-recording): derive the
            # baseline from existing data so the first post-upgrade
            # write cannot pin a NARROWED schema that hides historical
            # columns from every future read. mergeSchema, because a
            # pre-gate table may hold mixed-schema dirs — the baseline
            # must be the WIDEST legacy schema, not whichever dir gets
            # sampled first (one-time footer-union cost on the first
            # post-upgrade write only).
            all_dirs = self._bucket_dirs(None, man)
            if not all_dirs:
                return df.schema.json()
            stored = (
                self.spark.read.option("mergeSchema", True)
                .parquet(*all_dirs)
                .schema
            )
        stored_f = {f.name: f.dataType for f in stored.fields}
        new_f = {f.name: f.dataType for f in df.schema.fields}
        missing = sorted(set(stored_f) - set(new_f))
        if missing:
            raise ValueError(
                f"write into {self.path} is missing stored columns "
                f"{missing}; a partial frame would silently NULL them"
            )
        # simpleString ignores nullability (array<bigint> regardless of
        # containsNull) — nullability drift between batches is normal,
        # only genuine type changes are corruption
        retyped = sorted(
            n
            for n, t in stored_f.items()
            if new_f[n].simpleString() != t.simpleString()
        )
        if retyped:
            raise ValueError(
                f"write into {self.path} changes the type of {retyped} "
                f"(stored: {[str(stored_f[n]) for n in retyped]}, "
                f"incoming: {[str(new_f[n]) for n in retyped]}); cast "
                "explicitly — implicit retyping corrupts mixed reads"
            )
        added = [f.name for f in df.schema.fields if f.name not in stored_f]
        if added and not allow_evolution:
            raise ValueError(
                f"write into {self.path} adds columns {added}; pass "
                "allow_evolution=True to widen the table schema "
                "(existing rows read the new columns as NULL)"
            )
        if not added:
            return stored.json()
        # widened schema: stored fields first (stable order), then the
        # new ones, all nullable (old dirs have no values for them)
        from pyspark.sql.types import StructField, StructType

        widened = StructType(
            list(stored.fields)
            + [
                StructField(f.name, f.dataType, True)
                for f in df.schema.fields
                if f.name not in stored_f
            ]
        )
        return widened.json()

    def read(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """Current state (optionally only the given buckets — partition
        pruning by construction: unlisted dirs are never opened).
        Schema-PINNED when the manifest records one: every read yields
        exactly the table schema regardless of which dirs happen to be
        selected — dirs written before a schema widening supply NULL
        for the added columns instead of dropping them layout-
        dependently."""
        return self._read(self.current_manifest(), buckets)

    def _read(
        self, man: dict, buckets: Sequence[int] | None = None
    ) -> DataFrame:
        dirs = self._bucket_dirs(buckets, man)
        if not dirs:
            return self._empty_frame(man)
        return self._pinned_reader(self._schema_of_manifest(man)).parquet(
            *dirs
        )

    # -- writes -------------------------------------------------------

    def _write_generation(self, df: DataFrame, gen: int) -> dict[int, str]:
        """Land ``df`` as ``data/g<gen>/__bucket=<b>`` dirs; returns the
        bucket → relative-dir map of what was actually written. One
        Spark write, partitioned by bucket — each bucket dir then reads
        independently (the pruning unit)."""
        out = f"{self.path}/data/g{gen}"
        _, fs, _ = self._fs()
        if fs.exists(self._jpath(f"_manifest-{gen}.json")):
            # Our claim was stolen in a takeover race: rewriting its
            # dirs would corrupt a published generation. Fail loudly.
            raise ConcurrentWriteError(
                f"generation {gen} of {self.path} is already published; "
                "refusing to rewrite its data (claim was taken over by "
                "another writer) — re-read table state and retry"
            )
        gen_dir = self._jpath(f"data/g{gen}")
        if fs.exists(gen_dir):
            # Only a crashed, never-published write can leave this dir
            # (publish is the last step); its files are unreferenced.
            fs.delete(gen_dir, True)
        (
            df.withColumn(self.BUCKET_COL, self._bucket_col())
            .repartition(self.BUCKET_COL)  # one task-set per bucket; no
            # small-file explosion (tasks x buckets files otherwise)
            .write.mode("errorifexists")
            .partitionBy(self.BUCKET_COL)
            .parquet(out)
        )
        written: dict[int, str] = {}
        for st in fs.listStatus(self._jpath(f"data/g{gen}")):
            name = st.getPath().getName()
            if name.startswith(f"{self.BUCKET_COL}="):
                b = int(name.split("=", 1)[1])
                written[b] = f"data/g{gen}/{name}"
        return written

    def _collect_stats(
        self, gen: int, written: dict[int, str], schema_cols: Sequence[str]
    ) -> dict[str, dict]:
        """Per-dir min/max of ``stats_cols`` for a freshly written
        generation. Reads BACK the written parquet (not the input plan):
        one column-pruned job over just-landed files — never a second
        execution of the upstream plan — grouped by the bucket partition
        column, so the collect is bounded by |touched buckets|."""
        cols = [c for c in self.stats_cols if c in schema_cols]
        if not cols or not written:
            return {}
        out = f"{self.path}/data/g{gen}"
        gen_df = self.spark.read.option("basePath", out).parquet(out)
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"mn__{c}"))
            aggs.append(F.max(c).alias(f"mx__{c}"))
        rows = gen_df.groupBy(self.BUCKET_COL).agg(*aggs).collect()
        stats: dict[str, dict] = {}
        for r in rows:
            d = written.get(r[self.BUCKET_COL])
            if d is None:
                continue
            per_col = {}
            for c in cols:
                mn = _stat_ser(r[f"mn__{c}"])
                mx = _stat_ser(r[f"mx__{c}"])
                if mn is _UNSUPPORTED or mx is _UNSUPPORTED:
                    continue
                per_col[c] = {"min": mn, "max": mx}
            if per_col:
                stats[d] = per_col
        return stats

    def _next_gen(self) -> int:
        gens = self._manifest_gens()
        return (gens[-1] + 1) if gens else 0

    def init(self, df: DataFrame) -> None:
        """Bootstrap the table from a first full frame (on an existing
        table: a wholesale rewrite that resets its schema and stats)."""
        self._commit(df, drop=None)

    def append(self, df: DataFrame, allow_evolution: bool = False) -> None:
        """Append-only write: adds new dirs to the touched buckets
        without reading or rewriting anything (O(batch) IO — the
        vehicle_location event-log shape, agency.py:303-322).
        Schema-gated: see :meth:`_check_schema`."""
        self._commit(df, drop=(), allow_evolution=allow_evolution)

    def replace_buckets(
        self,
        merged: DataFrame,
        touched: Sequence[int],
        expected_gen: int | None = None,
        allow_evolution: bool = False,
    ) -> None:
        """Publish a new generation in which every bucket in ``touched``
        is exactly ``merged``'s rows for it and every other bucket keeps
        its existing dirs untouched (byte-identical files).

        ``expected_gen`` is the optimistic-concurrency check for
        read-merge-write callers: pass the generation the MERGE was
        computed from, and the publish is rejected with
        :class:`ConcurrentWriteError` if any other writer published in
        between — without it, a concurrent append to a touched bucket
        would be silently erased by this replace (the merge never saw
        its rows). Keyed writers use :meth:`merge`, which does this."""
        self._commit(merged, touched, expected_gen, allow_evolution)

    def merge(
        self,
        incoming: DataFrame,
        fn: Callable[[DataFrame, DataFrame], DataFrame],
    ) -> None:
        """Read-merge-replace: the buckets ``incoming`` touches become
        ``fn(existing, incoming)``, ``existing`` being their current
        rows; every other bucket keeps its files. The publish is pinned
        to the generation ``existing`` came from (else
        :class:`ConcurrentWriteError`); when no bucket is touched
        nothing is published.

        ``incoming`` is evaluated once: it is staged (one eager
        ``localCheckpoint`` job) and the touched bucket set is observed
        in that same job, so the buckets read are exactly those of the
        rows written, even for a nondeterministic ``incoming``. A lost
        executor holding staged blocks fails the write; the claim is
        released and the caller retries the whole merge. On a table
        with no manifest ``existing`` is ``incoming.limit(0)`` — an
        empty relation the optimizer folds out of ``fn``'s plan — and
        nothing is staged. A replayed :meth:`transaction` returns
        before any job runs (``_commit`` checks again under its
        claim)."""
        man = self._latest_manifest()
        if self._replayed(man):
            return
        if man is None:
            self._commit(fn(incoming.limit(0), incoming), (), -1)
            return
        self._adopt_bucketing(man)
        incoming, seen = staged(
            incoming, touched=F.collect_set(self._bucket_col())
        )
        touched = sorted(seen["touched"])
        if touched:
            existing = self._read(man, touched)
            self._commit(fn(existing, incoming), touched, int(man["gen"]))

    def _commit(
        self,
        df: DataFrame,
        drop: Sequence[int] | None,
        expected_gen: int | None = None,
        allow_evolution: bool = False,
    ) -> None:
        """Claim → write → publish, the body of every write. The
        manifest is read once, after the claim (so it is
        authoritative); any failure releases the claim. ``drop``: the
        buckets whose dirs the new generation replaces (``()`` appends,
        ``None`` rewrites the whole table and its schema).
        ``expected_gen`` (-1: no manifest) is the OCC check. Nothing is
        published for a replayed :meth:`transaction`, nor when a write
        into a table with no manifest lands no rows (only ``init``
        creates an empty table)."""
        gen = self.claim_next_generation()
        try:
            man = self._latest_manifest()
            if self._replayed(man):
                self._release_claim(gen)
                return
            txn = dict(man.get("txn", {})) if man is not None else {}
            if self._txn is not None:
                app_id, version = self._txn
                txn[app_id] = version
            base_gen = -1 if man is None else int(man["gen"])
            if expected_gen is not None and base_gen != int(expected_gen):
                raise ConcurrentWriteError(
                    f"table {self.path} advanced from generation "
                    f"{expected_gen} to {base_gen} since this merge was "
                    "computed; re-read and re-merge"
                )
            self._adopt_bucketing(man)
            if man is None or drop is None:
                schema_json, buckets, stats = df.schema.json(), {}, {}
            else:
                # Schema-gate BEFORE the write job: df.schema is plan
                # metadata, so a bad frame fails in milliseconds instead
                # of after hours of touched-bucket IO.
                schema_json = self._check_schema(df, allow_evolution, man)
                dropped = {int(b) for b in drop}
                buckets = {
                    int(b): [] if int(b) in dropped else list(dirs)
                    for b, dirs in man["buckets"].items()
                }
                stats = dict(man.get("stats", {}))  # kept dirs keep stats
            written = self._write_generation(df, gen)
            if man is None and drop is not None and not written:
                self._release_claim(gen)
                return
            for b, d in written.items():
                buckets.setdefault(b, []).append(d)
            stats.update(self._collect_stats(gen, written, df.columns))
            doc = self._publish(
                gen,
                {b: d for b, d in buckets.items() if d},
                stats,
                schema_json,
                txn,
            )
            known = {gen: doc} if man is None else {gen: doc, base_gen: man}
            self._vacuum(known)
        except BaseException:
            self._release_claim(gen)
            raise

    def delete_keys(self, keys: DataFrame) -> None:
        """Delete every row matching a key in ``keys`` — the DELETE
        half of the MERGE story (corpus retraction / right-to-erasure:
        at 100 TB the operation that CANNOT be "re-ingest without the
        rows"). A :meth:`merge` whose ``fn`` anti-joins the keys: only
        the buckets containing delete keys are read and republished;
        every other bucket keeps its files byte-identical, and the
        publish is claim-serialized + OCC-checked so a concurrent
        append can't be erased.

        Key matching follows the store's own key notion: with
        ``null_safe`` each component compares as
        ``COALESCE(CAST(k AS STRING), '')`` — exactly the
        ``bucket_expr`` form, so a NULL/''-keyed row is deletable and
        the probe provably lands in the row's bucket. Without
        ``null_safe``, SQL equality: NULL-keyed delete rows match
        nothing (``DELETE WHERE k = NULL`` semantics).

        Deleting every row of a bucket is a valid publish (the bucket
        disappears from the manifest); deleting every row of the table
        leaves an empty-but-existing table."""
        if not self.exists():
            raise FileNotFoundError(f"store {self.path} has no data")

        def drop_matches(existing: DataFrame, probe: DataFrame) -> DataFrame:
            cond = None
            for k in self.key_cols:
                e, i = F.col(f"e.{k}"), F.col(f"i.{k}")
                if self.null_safe:
                    c = F.coalesce(e.cast("string"), F.lit("")) == F.coalesce(
                        i.cast("string"), F.lit("")
                    )
                else:
                    c = e == i
                cond = c if cond is None else (cond & c)
            return existing.alias("e").join(
                probe.alias("i"), cond, "left_anti"
            )

        self.merge(keys.select(*self.key_cols).distinct(), drop_matches)

    def compact(
        self,
        min_dirs_per_bucket: int = 2,
        buckets: Sequence[int] | None = None,
    ) -> dict[int, int]:
        """Rewrite every bucket holding >= ``min_dirs_per_bucket`` data
        dirs into a single dir (optionally restricted to ``buckets``) —
        the OPTIMIZE/compaction half of the append-log story: appends
        are O(batch) but leave one dir per batch per touched bucket, so
        an always-on feed's read cost grows with batch COUNT. Compaction
        folds them back to one listing per bucket in one atomic publish
        (readers see old or new generation, never a mix; same rows
        either way, verified by the store tests byte-for-byte on
        untouched buckets). Returns {bucket: dirs_before} for what was
        compacted; run it off the write path on whatever cadence the
        dir counts suggest.
        """
        man = self.current_manifest()
        sel = None if buckets is None else {int(b) for b in buckets}
        todo = {
            int(b): dirs
            for b, dirs in man["buckets"].items()
            if len(dirs) >= min_dirs_per_bucket
            and (sel is None or int(b) in sel)
        }
        if not todo:
            return {}
        merged = self._read(man, list(todo))
        # expected_gen: compaction runs OFF the write path, so a
        # concurrent append between our read and the publish is a real
        # possibility — without the check its rows would be erased from
        # the compacted buckets.
        self.replace_buckets(merged, list(todo), expected_gen=man["gen"])
        return {b: len(d) for b, d in sorted(todo.items())}
