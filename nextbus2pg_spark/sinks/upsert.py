"""Physical upsert sinks: parquet-backed MERGE locally, JDBC
``INSERT ... ON CONFLICT`` for the Postgres deployment mode.

Spark's JDBC writer has no native upsert (SURVEY.md §4 custom-work #1),
so the engine ships two interchangeable sinks behind one interface:

- ``ParquetUpsertTable``: maintains table state as parquet + the
  ``operators.keyed_write`` merge algebra — the test/local mode, and the
  shape a Delta ``MERGE INTO`` takes on a cluster (same plan, Delta adds
  ACID+file pruning).
- ``pg_upsert_statement`` + ``jdbc_upsert_writer``: generates the exact
  ON CONFLICT statement family the reference emits
  (``/root/reference/agency.py:26-37,60-71,96-109,176-190,221-232``) and
  applies it per micro-batch partition over a DB-API connection —
  the ``foreachBatch`` JDBC path of BASELINE.json's declared approach.

At-scale notes: each micro-batch writes one multi-row statement per
partition (the reference's execute_values batching, K7, generalized);
partitions write in parallel. Replays (T6): a ``ParquetUpsertTable``
write made inside its store's ``transaction(app_id, batch_id)`` is
exactly-once — the manifest that publishes it records the batch id,
so a replayed id writes nothing (the app's sink does this). The JDBC
path has no such record: its conflict clause makes a replayed upsert
converge, but the ``append_only`` log re-appends a replayed batch —
at-least-once like the reference, with checkpointed offsets instead
of an in-memory dict.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from nextbus2pg_spark.operators.keyed_write import (
    _dedup_on_keys,
    append_dedup,
    insert_if_absent,
    upsert_batch,
)
from nextbus2pg_spark.sinks.store import BucketedParquetStore


def pg_upsert_statement(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    update_cols: Sequence[str] | None = None,
    null_safe_keys: Sequence[str] = (),
    do_nothing: bool = False,
    omit_conflict_target: bool = False,
) -> str:
    """Render the reference's ON CONFLICT statement for one row batch.

    - ``null_safe_keys``: key columns whose unique index is
      ``COALESCE(col, '')`` (service.tag, stop.location text —
      ``sql/create_tables.sql:62-63,85-86``); the conflict target must
      name the same expression.
    - ``do_nothing``: K5 insert-if-absent (``agency.py:228``).
    - ``omit_conflict_target``: emit a targetless ``ON CONFLICT``
      (matches ANY unique constraint, including expression indexes a
      dialect can't name in a target). Required for the NULL-tolerant
      key family on DuckDB, which accepts an expression unique INDEX
      but not a ``COALESCE`` conflict target; Postgres conversely
      allows targetless only for ``DO NOTHING``, so its ``DO UPDATE``
      path keeps the explicit COALESCE target. Only valid when the
      table has exactly one unique constraint the batch can violate.
    Placeholders are %s-style (psycopg2 ``execute_values`` compatible).
    """
    col_list = ", ".join(columns)
    if do_nothing:
        action = "DO NOTHING"
    else:
        if update_cols is None:
            update_cols = [c for c in columns if c not in key_cols]
        sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in update_cols)
        action = f"DO UPDATE SET {sets}"
    if omit_conflict_target:
        return f"INSERT INTO {table} ({col_list}) VALUES %s ON CONFLICT {action}"
    conflict_parts = [
        f"COALESCE({c}, '')" if c in null_safe_keys else c for c in key_cols
    ]
    conflict = ", ".join(conflict_parts)
    return (
        f"INSERT INTO {table} ({col_list}) VALUES %s "
        f"ON CONFLICT ({conflict}) {action}"
    )


def jdbc_upsert_writer(
    table: str,
    key_cols: Sequence[str],
    update_cols: Sequence[str] | None = None,
    null_safe_keys: Sequence[str] = (),
    do_nothing: bool = False,
    connection_factory: Callable | None = None,
    paramstyle: str = "format",
    omit_conflict_target: bool = False,
    append_only: bool = False,
):
    """Build a ``foreachBatch`` function applying the upsert per batch.

    ``connection_factory`` returns a DB-API connection (psycopg2 in the
    reference, ``connect.py:8-14``); injected so tests can run against
    a real embedded store (DuckDB — see
    ``tests/test_duckdb_upsert_integration.py``) or a fake.
    ``paramstyle``: ``"format"`` renders ``%s`` placeholders (psycopg2),
    ``"qmark"`` renders ``?`` (DuckDB and most embedded DB-APIs).
    Executes one multi-row statement per partition via
    ``foreachPartition`` — distributed writes, no driver collect.

    ``append_only``: K6 event-log mode (``agency.py:303-322``) — plain
    ``INSERT`` with NO conflict clause after within-batch dedup on
    ``key_cols`` (the ``SELECT DISTINCT ON`` over the VALUES list);
    the table has no unique index by design, duplicates across batches
    are accepted (at-least-once, T4).
    """
    if paramstyle not in ("format", "qmark"):
        raise ValueError(f"unsupported paramstyle: {paramstyle}")
    ph = "%s" if paramstyle == "format" else "?"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # T7 empty-batch short-circuit (agency.py:303): an empty
        # partition never opens a connection (_execute_per_partition).
        if append_only:
            deduped = append_dedup(batch_df, list(key_cols))
            col_list = ", ".join(deduped.columns)
            _execute_per_partition(
                deduped,
                f"INSERT INTO {table} ({col_list}) VALUES %s",
                connection_factory,
                ph,
            )
            return
        # COALESCE-indexed keys: NULL and '' are ONE key at the store,
        # so they must collapse within the batch too — a multi-row
        # VALUES touching that key twice errors on Postgres ("cannot
        # affect row a second time"). ONLY the declared null_safe_keys
        # fold; other key columns keep NULL-distinct-from-'' semantics,
        # as the store does (no null_safe_keys: plain dropDuplicates).
        batch_df = _dedup_on_keys(
            batch_df, list(key_cols), True,
            null_safe_cols=list(null_safe_keys),
        )
        stmt = pg_upsert_statement(
            table, batch_df.columns, key_cols, update_cols, null_safe_keys,
            do_nothing, omit_conflict_target,
        )
        _execute_per_partition(batch_df, stmt, connection_factory, ph)

    return write_batch


def _execute_per_partition(
    df: DataFrame, stmt: str, connection_factory: Callable, ph: str
) -> None:
    """Run ``stmt`` (containing one ``VALUES %s`` slot) as one
    multi-row statement per non-empty partition — executor-side
    connections, no driver collect (K7 batching, agency.py:35-37)."""
    columns = df.columns

    def write_partition(rows) -> None:
        rows = list(rows)
        if not rows:
            return
        conn = connection_factory()
        try:
            cur = conn.cursor()
            values = ", ".join(
                "(" + ", ".join(ph for _ in columns) + ")" for _ in rows
            )
            flat = [v for row in rows for v in row]
            cur.execute(stmt.replace("VALUES %s", f"VALUES {values}"), flat)
            if hasattr(conn, "commit"):
                conn.commit()
        finally:
            conn.close()

    df.foreachPartition(write_partition)


class ParquetUpsertTable:
    """Parquet-backed keyed table: the local/test MERGE target.

    State lives under ``path`` as a :class:`~nextbus2pg_spark.sinks.
    store.BucketedParquetStore` — hash-bucketed immutable parquet plus
    an atomically published manifest. ``upsert`` and
    ``insert_if_absent`` are each one ``store.merge`` of the
    ``operators.keyed_write`` function: it reads and rewrites ONLY the
    buckets containing batch keys (O(touched buckets) IO, not
    O(|table|)), and a crash at any point leaves the previous manifest
    fully readable — the file-pruned ACID-ish behavior a cluster gets
    from Delta ``MERGE INTO``, with identical merge *semantics*. A
    first write is the same merge into the empty table, so it dedups
    on the same key grain as every later write.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        update_cols: Sequence[str] | None = None,
        null_safe: bool = True,
        n_buckets: int = 16,
        stats_cols: Sequence[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.update_cols = update_cols
        self.null_safe = null_safe
        self.store = BucketedParquetStore(
            spark, path, self.key_cols, n_buckets=n_buckets,
            null_safe=null_safe, stats_cols=stats_cols,
        )

    def exists(self) -> bool:
        return self.store.exists()

    def read(self) -> DataFrame:
        return self.store.read()

    def compact(self, min_dirs_per_bucket: int = 2) -> dict[int, int]:
        """Fold append-accumulated dirs back to one per bucket (store
        compaction — run off the write path; see store.compact)."""
        return self.store.compact(min_dirs_per_bucket)

    def delete(self, keys: DataFrame) -> None:
        """Delete rows by business key (DELETE analogue; bucket-pruned,
        claim-serialized — see store.delete_keys). ``keys`` needs only
        the key columns; null-safe key matching follows the table's
        ``null_safe`` setting."""
        self.store.delete_keys(keys)

    def upsert(self, incoming: DataFrame) -> None:
        """K1-K4: merge incoming, existing-wins-keys/incoming-wins-payload.

        Bucket-pruned: only the buckets containing incoming keys are
        read, merged, and republished; all other buckets keep their
        existing files byte-for-byte."""
        self.store.merge(
            incoming,
            lambda existing, batch: upsert_batch(
                existing, batch, self.key_cols, self.update_cols,
                null_safe=self.null_safe,
            ),
        )

    def insert_if_absent(self, incoming: DataFrame) -> None:
        """K5: idempotent append (ON CONFLICT DO NOTHING) — same
        bucket pruning as :meth:`upsert`."""
        self.store.merge(
            incoming,
            lambda existing, batch: insert_if_absent(
                existing, batch, self.key_cols, null_safe=self.null_safe
            ),
        )

    def append_dedup(self, batch: DataFrame) -> None:
        """K6: append-only log insert with within-batch dedup — pure
        append of new files, nothing existing is read or rewritten."""
        self.store.append(append_dedup(batch, self.key_cols))
