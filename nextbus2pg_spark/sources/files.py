"""Schema-explicit file sources/sinks — CSV / JSON-lines / parquet /
binary files.

The reference's only sources are HTTP XML (S1-S4) and its own
Postgres tables (S5-S7); this module rounds out the file-format
surface an analytics engine needs. Two rules, both scale-motivated:

1. **No schema inference, ever** (SURVEY.md §1.3: "Nothing is
   inferred"). Inference costs an extra full read of the data before
   the real one — at 100 TB that doubles the scan — and silently
   changes types when the data drifts. Every reader takes an explicit
   schema or DDL string.
2. **Batch and streaming share one definition.** Each reader works as
   ``spark.read`` or ``spark.readStream`` off the same schema/options,
   so a backfill and the live pipeline cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SchemaLike = "StructType | str"


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    header: bool = True,
    sep: str = ",",
    streaming: bool = False,
    **options: str,
) -> DataFrame:
    """CSV scan with mandatory schema. Malformed rows go to the
    ``_corrupt_record`` column when the schema declares it (PERMISSIVE
    mode) rather than failing the job — pair with
    ``quality.quarantine_split`` for the dead-letter path."""
    reader = (spark.readStream if streaming else spark.read).schema(schema)
    return reader.options(
        header=str(header).lower(), sep=sep, **options
    ).csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    streaming: bool = False,
    **options: str,
) -> DataFrame:
    """JSON-lines scan with mandatory schema (the streaming tests'
    feed format; one JSON object per line)."""
    reader = (spark.readStream if streaming else spark.read).schema(schema)
    return reader.options(**options).json(path)


def read_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    streaming: bool = False,
) -> DataFrame:
    """Parquet scan. Schema optional (parquet is self-describing — no
    inference pass), but passing one enforces the expected shape and
    prunes the read to the declared columns at the footer level.
    Streaming reads REQUIRE a schema (Spark's file stream will not
    infer)."""
    reader = spark.readStream if streaming else spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif streaming:
        raise ValueError("streaming parquet source requires an explicit schema")
    return reader.parquet(path)


def write_csv(
    df: DataFrame, path: str, header: bool = True, sep: str = ",",
    mode: str = "overwrite",
) -> None:
    df.write.mode(mode).options(header=str(header).lower(), sep=sep).csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


#: The fixed schema of Spark's ``binaryFile`` source. Batch reads infer
#: it; streaming reads refuse to start without it, so the one reader
#: below always passes it.
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length bigint, content binary"
)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    streaming: bool = False,
    recursive: bool = False,
) -> DataFrame:
    """The package's one ``binaryFile`` reader: each file under ``path``
    whose name matches ``glob`` becomes one ``(path, modificationTime,
    length, content)`` row, read by executors. ``streaming=True`` gives
    the same definition as a file-watching stream, whose file listing
    is the offset log; ``recursive=True`` lists nested directories too.
    Hadoop's listing skips dot-prefixed names, so a spool writer's
    in-flight ``.tmp-`` files are never read."""
    reader = (spark.readStream if streaming else spark.read).format(
        "binaryFile"
    ).schema(_BINARY_FILE_SCHEMA)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def read_media_dir(
    spark: SparkSession,
    path: str,
    kind: str,
    glob: str | None = None,
    streaming: bool = False,
) -> DataFrame:
    """Binary media ingestion: a directory of image/audio/video files →
    the canonical media schema (``operators/multimodal.MEDIA_SCHEMA``).

    Uses :func:`read_binary_files` — each file becomes one row read
    directly by executors; no driver-side file loop, and pushdown on
    ``length`` filters oversized blobs before the bytes ever transfer.
    The file path hashes to a deterministic ``media_id`` (xxhash64 —
    stable across runs and retries); metadata stays NULL until a
    decode stage fills it.

    ``streaming=True`` returns the same definition as a file-watching
    stream (new files become micro-batches) — the multimodal analogue
    of the vehicle-feed source.
    """
    raw = read_binary_files(spark, path, glob, streaming)
    return raw.select(
        F.xxhash64("path").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
        F.col("path").alias("source_path"),
        F.col("length").alias("n_bytes"),
    )


def read_with_deadletter(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "json",
    streaming: bool = False,
    **options: str,
) -> "tuple[DataFrame, DataFrame]":
    """Schema-enforced scan that captures malformed rows instead of
    failing or silently nulling them.

    Returns ``(good, bad)``: ``good`` carries the declared columns for
    rows that parsed cleanly; ``bad`` carries ``(_corrupt_record)`` —
    the raw text of every row the parser rejected, the input-side
    dead-letter channel (the transform-side one is
    ``quality.quarantine_split``). Both come from ONE PERMISSIVE-mode
    scan: the corrupt column is just another projected column, so the
    split is two lazy filters, not two reads.

    Note Spark's caveat: a query over ONLY the corrupt column is
    disallowed, so ``bad`` keeps the parsed columns too (callers
    typically write it out whole for replay).
    """
    if fmt not in ("json", "csv"):
        raise ValueError(f"unsupported format {fmt!r}")
    from pyspark.sql.types import StringType, StructField

    declared = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    full = StructType(
        declared.fields + [StructField("_corrupt_record", StringType(), True)]
    )
    reader = (spark.readStream if streaming else spark.read).schema(full)
    reader_opts = dict(options)
    reader_opts["mode"] = "PERMISSIVE"
    reader_opts["columnNameOfCorruptRecord"] = "_corrupt_record"
    raw = (
        reader.options(**reader_opts).json(path)
        if fmt == "json"
        else reader.options(**reader_opts).csv(path)
    )
    if fmt == "csv" and not streaming:
        # Spark disallows a query whose pruned schema is ONLY the CSV
        # corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN); the
        # documented pattern is to materialize the parsed frame first.
        # Fine for micro-batch/dead-letter volumes; at corpus scale,
        # write the parsed result to a table and split from there.
        raw = raw.cache()
    good = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.where(F.col("_corrupt_record").isNotNull())
    return good, bad
