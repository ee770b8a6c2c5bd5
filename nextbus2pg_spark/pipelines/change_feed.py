"""Incremental change-feed consumer for ``BucketedParquetStore`` —
the downstream half of ``store.read_changes``: a follower that
remembers the last generation it applied and, per poll, hands the
caller exactly the delta since then.

Why this exists: the store's CDC read answers "what changed between
g and head", but a real consumer (a search index, an aggregate, a
replica) also needs the BOOKKEEPING — a durable marker, crash
semantics, and a defined story for falling behind the retention
window. This follower packages those so every consumer doesn't
re-invent them subtly wrong.

Delivery contract: AT-LEAST-ONCE. The marker advances only after
``apply_fn`` returns — a crash in between re-delivers the same delta
on restart, so ``apply_fn`` must be idempotent per generation (upsert/
delete by key is; blind appends are not). It stays at-least-once
because the marker records the consumer's position in the store, not
a write to it: ``apply_fn`` writes elsewhere (an index, a replica), so
no single manifest can publish the marker together with the effect
(the store's ``transaction`` records a write's batch in the manifest
that publishes that write — ``sinks/exactly_once.py``).

Retention: the CDC window is bounded by the store's
``keep_generations`` (read_changes can only diff retained manifests).
A follower that lags past it gets :class:`RetentionLapsedError` and
must full-resync (``resync`` reads the current snapshot and fast-
forwards the marker) — the same contract as Delta CDF's
``startingVersion`` falling out of the log.
"""

from __future__ import annotations

import json
import os
import re

from nextbus2pg_spark.sinks.store import BucketedParquetStore


class RetentionLapsedError(RuntimeError):
    """The follower's marker generation is no longer retained by the
    store; incremental catch-up is impossible — full resync required."""


class LocalMarkerIO:
    """Driver-local marker persistence (the default): one JSON file,
    published by tmp + fsync + rename — the fsync matters (ext4
    delayed allocation can journal the rename before the data, leaving
    a zero-length marker after power loss). Durability domain: the ONE
    machine running the follower. For a store on HDFS/object storage
    use :class:`HadoopMarkerIO` so the marker shares the store's
    durability domain."""

    def read(self, marker_path: str) -> int | None:
        try:
            with open(marker_path, encoding="utf-8") as f:
                return int(json.load(f)["gen"])
        except FileNotFoundError:
            return None
        except (ValueError, KeyError, TypeError, json.JSONDecodeError):
            # torn OR foreign-format marker (e.g. a bare int, a list)
            # == no marker: resync recovers instead of crashing poll
            return None

    def write(self, marker_path: str, gen: int) -> None:
        tmp = f"{marker_path}.tmp"
        os.makedirs(os.path.dirname(marker_path) or ".", exist_ok=True)
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"gen": gen}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, marker_path)


class HadoopMarkerIO:
    """Marker persistence on the STORE's Hadoop filesystem — keep the
    marker beside the store (same HDFS/bucket) and its durability
    equals the data's (ADVICE round-5: a driver-local marker for a
    cluster store is only as durable as one machine).

    Layout: ``marker_path`` is a DIRECTORY of ``gen-<N>`` files; the
    highest N is current. Publishing a fresh name per generation is
    atomic on HDFS without overwrite-rename support (the exact commit
    shape the store's own manifests use), and the generation is
    monotonic so "highest wins" is unambiguous. Older files are pruned
    best-effort after each advance; a crash mid-prune leaves inert
    lower-numbered files that never win the max. An empty/missing dir
    reads as no marker → the follower's documented resync path."""

    _GEN_RE = re.compile(r"^gen-(\d+)$")

    def __init__(self, store: BucketedParquetStore):
        self._spark = store.spark

    def _fs(self, marker_path: str):
        jvm = self._spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(marker_path)
        fs = root.getFileSystem(self._spark._jsc.hadoopConfiguration())
        return jvm, fs, root

    def _gens(self, marker_path: str) -> list[int]:
        _, fs, root = self._fs(marker_path)
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            m = self._GEN_RE.match(st.getPath().getName())
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def read(self, marker_path: str) -> int | None:
        gens = self._gens(marker_path)
        return gens[-1] if gens else None

    def write(self, marker_path: str, gen: int) -> None:
        jvm, fs, root = self._fs(marker_path)
        if not fs.exists(root):
            fs.mkdirs(root)
        dst = jvm.org.apache.hadoop.fs.Path(f"{marker_path}/gen-{gen}")
        out = fs.create(dst, True)
        try:
            out.write(bytearray(json.dumps({"gen": gen}).encode("utf-8")))
            try:
                out.hsync()  # real durability on HDFS; no-op locally
            except Exception:
                pass  # local/raw FS streams may not support hsync
        finally:
            out.close()
        for old in self._gens(marker_path):
            if old != gen:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{marker_path}/gen-{old}"
                    ),
                    False,
                )


class ChangeFeedFollower:
    """Durable-marker consumer of a store's change feed.

    ``marker_io`` injects where/how the marker persists: default
    :class:`LocalMarkerIO` (driver-local file); pass
    ``HadoopMarkerIO(store)`` to keep it on the store's filesystem, or
    any object with the same ``read(path) -> int | None`` /
    ``write(path, gen)`` contract (e.g. a database row)."""

    def __init__(
        self,
        store: BucketedParquetStore,
        marker_path: str,
        marker_io=None,
    ):
        self.store = store
        self.marker_path = marker_path
        self._io = marker_io if marker_io is not None else LocalMarkerIO()

    # -- marker -------------------------------------------------------

    def last_applied(self) -> int | None:
        """Marker generation, or None when absent OR unreadable: a
        torn/empty marker (power loss between rename and data flush)
        must route into the documented RetentionLapsedError → resync
        recovery path, not crash every poll with a JSON error."""
        return self._io.read(self.marker_path)

    def _advance(self, gen: int) -> None:
        """Atomic marker publish via the injected marker IO."""
        self._io.write(self.marker_path, gen)

    # -- consumption --------------------------------------------------

    def poll(self, apply_fn) -> int | None:
        """Apply the delta since the marker. ``apply_fn(changes_df)``
        receives the change frame (table columns + ``_change_type``);
        the marker advances to the head generation only after it
        returns. Returns the generation caught up to, or None when
        already current. First poll (no marker, including a torn
        unreadable one) raises
        RetentionLapsedError — a new follower must start from a
        snapshot, not from an arbitrary mid-history delta."""
        head = self.store.current_manifest()["gen"]
        last = self.last_applied()
        if last is None or last not in self.store.generations():
            raise RetentionLapsedError(
                f"marker gen {last} is outside the store's retained "
                f"window {self.store.generations()}; call resync()"
            )
        if last == head:
            return None
        apply_fn(self.store.read_changes(last, head))
        self._advance(head)
        return head

    def resync(self, apply_full_fn) -> int:
        """Full catch-up: hand the CURRENT snapshot to
        ``apply_full_fn(df)`` and fast-forward the marker to its
        generation. The snapshot generation is captured BEFORE the
        read so a publish racing the resync re-delivers (at-least-
        once) rather than skips."""
        gen = self.store.current_manifest()["gen"]
        apply_full_fn(self.store.read_generation(gen))
        self._advance(gen)
        return gen
