"""Scale-out primitives: bucketed co-located joins and skew salting.

These are the two levers SURVEY.md §4/BASELINE.json's 100 TB mandate
needs beyond AQE's defaults:

- **Bucketing**: pre-shuffle both sides of a recurring big-big join
  into the same bucket layout at write time; every later join on the
  bucket key is co-located — zero Exchange on either side. This is the
  answer when a dimension outgrows broadcast or a fact-fact join
  repeats across jobs.
- **Salting**: when one join/group key dominates (hot key), split it
  across ``factor`` sub-keys: the big side gets a deterministic salt,
  the small side is replicated ``factor``×. Turns one straggler task
  into ``factor`` parallel ones. AQE's skew-join handles moderate skew
  at runtime; salting is the explicit control for pathological keys
  and for aggregations (which AQE skew handling does not cover).

It also owns checkpoint lifetime: ``iterate`` is the one driver-side
round loop of the iterative operators and makes their lineage cuts
(``cut``); ``release_cached_rdds`` frees what those cuts persist.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def ensure_min_parallelism(
    df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Round-robin repartition ``df`` up to the cluster's default
    parallelism when (and only when) its current partitioning would
    leave cores idle.

    Why: a fan-out stage (shingle explode, per-row hashing, Pandas-UDF
    batch work) inherits the *scan's* partition count. A small-but-
    expensive input (e.g. 5k docs in one parquet file → 2 partitions)
    then runs its CPU-heavy pipeline on 2 of 32 cores. At real scale
    the scan already has ≥ parallelism partitions and this is a no-op —
    the check makes the shuffle appear exactly when it pays for itself
    (measured: MinHash-LSH at sf0.1 3.1s → 2.0s warm).
    """
    # Streaming frames can't answer inputFiles() (AnalysisException)
    # and shouldn't pay a per-micro-batch shuffle for a heuristic:
    # each batch's width comes from the source's own file listing
    # (binaryFile: one task per file), so pass through unchanged —
    # this is what lets warc_documents compose directly onto
    # readStream (round 11) instead of only via foreachBatch.
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # Scan width proxy: inputFiles() is metadata-only (no job, no
    # RDD plan conversion — df.rdd costs ~1s per call in plan compile).
    # A file-backed scan with >= target files already parallelizes;
    # fewer files (or a non-file source, returning []) gets spread.
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target)


def release_cached_rdds(spark: SparkSession) -> int:
    """Unpersist every persisted RDD in the session; returns the count.

    ``localCheckpoint`` (the engine's fan-out materialization tool —
    see PERF.md rule 5) persists its RDD for the lifetime of the
    session, and a long-running application that re-executes a
    checkpointing plan leaks one materialized copy per execution. The
    accumulated blocks raise GC pressure enough to show up as wall-time
    variance (measured at sf0.1: minhash-LSH median 4.1s → 1.8s across
    repeated runs once stale checkpoints are released). Call between
    logical jobs — never mid-plan, since a consumer of a checkpointed
    frame still needs its blocks.

    Non-blocking unpersist: block eviction proceeds asynchronously, the
    next job's scheduling is not held up.
    """
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().iterator()
    n = 0
    while it.hasNext():
        it.next()._2().unpersist(False)
        n += 1
    return n


def iterate(
    state,
    step: Callable,
    rounds: int,
    *,
    name: str,
    stop: "Callable | None" = None,
    fans_out: bool = False,
):
    """The engine's one driver-side round loop → ``(state, stopped_at)``.

    ``state`` is a DataFrame or a tuple holding DataFrames (and plain
    values); ``step(state)`` returns the next state. After each step
    every DataFrame of the new state that is not carried over unchanged
    from the old one goes through :func:`cut`, so plan depth stays O(1)
    however many rounds run. Then ``stop(state)``, if given, runs
    on the freshly cut state; the loop ends at the first round it
    returns true. ``stopped_at`` is that round (1-based), or ``None``
    when all ``rounds`` ran without the stop firing. ``rounds=0``
    returns the input state as it is. Each round's jobs carry the Spark
    job description ``"<name> round <i>"``; the caller's description
    is restored afterwards.

    The cut policy (the r13 rule, OPTIMIZATION_r13.md §3):

    - ``fans_out=False`` — the cut is LAZY. Use it when one driver
      action (``stop``, or the next step's own collect) reads the
      frame before anything fans out of it, or when the frame has a
      single consumer. The lazy cut saves the separate job an eager cut
      adds; it does not defer the round's work to the caller's action.
      Building a cut frame executes the AQE plan under it, so each
      round's shuffle map stages run as jobs while the loop runs.
      Measured on the sf0.01 fixtures, ``local[4]``, AQE on: the jobs
      run while the frame is built grow by 4–5 per round for
      ``label_propagation`` (17, 26, 36 at 2, 4, 6 rounds), 4 for
      ``pagerank`` and 8 for ``hits``, while ``.count()`` of the result
      stays at 2, 2 and 7 jobs whatever the round count.
    - ``fans_out=True`` — the cut is EAGER. Use it when several
      consumers read the frame before any action (the perceptron's
      weights, the Lloyd centroids): a lazy checkpoint first read
      under fan-out can recompute its lineage once per consumer
      (semantic_dedup's Lloyd loop went 9 s → 31 s that way).
    """
    stopped_at = None
    sc = SparkSession.active().sparkContext
    saved = sc.getLocalProperty("spark.job.description")
    try:
        for i in range(1, rounds + 1):
            sc.setJobDescription(f"{name} round {i}")
            state = _cut_new(step(state), state, fans_out)
            if stop is not None and stop(state):
                stopped_at = i
                break
    finally:
        sc.setLocalProperty("spark.job.description", saved)
    return state, stopped_at


def cut(frame: DataFrame, *, fans_out: bool = False) -> DataFrame:
    """The lineage cut :func:`iterate` makes each round, under its
    policy: eager when ``frame`` fans out before any driver action
    reads it, else lazy (see :func:`iterate`)."""
    return frame.localCheckpoint(eager=fans_out)


def _cut_new(new, old, fans_out: bool):
    """``new`` with every DataFrame not carried over from ``old``
    :func:`cut`."""
    kept = {id(f) for f in (old if isinstance(old, tuple) else (old,))}

    def cut_new(x):
        if isinstance(x, DataFrame) and id(x) not in kept:
            return cut(x, fans_out=fans_out)
        return x

    return tuple(map(cut_new, new)) if isinstance(new, tuple) else cut_new(new)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (optionally sorted) managed table.

    Joins/aggregations between tables bucketed identically on the join
    key run without any Exchange (verify with ``count_exchanges``);
    sorting within buckets additionally removes the Sort before a
    sort-merge join.
    """
    spark = df.sparkSession
    # A previous process may have left the table's directory in the
    # warehouse while this session's in-memory catalog has no entry for
    # it; saveAsTable would then fail with LOCATION_ALREADY_EXISTS.
    # When the catalog DOES know the table, DROP TABLE removes the
    # managed location itself (wherever the catalog says it lives) —
    # deleting a hand-computed path there could destroy a directory
    # belonging to a live table at a non-default location. Only when
    # the catalog has NO entry do we clear the would-be default
    # location (the orphan case), derived per-namespace so qualified
    # names ('db.tbl' → <warehouse>/db.db/tbl) resolve correctly.
    jvm = spark._jvm
    jsc = spark._jsc

    def _delete_dir(path_str: str) -> None:
        loc = jvm.org.apache.hadoop.fs.Path(path_str)
        fs = loc.getFileSystem(jsc.hadoopConfiguration())
        if fs.exists(loc):
            fs.delete(loc, True)

    if spark.catalog.tableExists(table_name):
        # Resolve the CATALOG's location before dropping: for a managed
        # table DROP removes the files itself, but for an EXTERNAL
        # table (or one registered over a pre-existing directory) the
        # files survive the drop and saveAsTable would then fail with
        # LOCATION_ALREADY_EXISTS. write_bucketed is an overwrite API,
        # so clearing the location of the table being replaced is the
        # contract — and it is the catalog-resolved location, never a
        # hand-computed warehouse path that might belong to another
        # table.
        loc_rows = [
            r.data_type
            for r in spark.sql(
                f"DESCRIBE TABLE EXTENDED {table_name}"
            ).collect()
            if r.col_name == "Location"
        ]
        spark.sql(f"DROP TABLE {table_name}")
        if loc_rows:
            _delete_dir(loc_rows[0])
    else:
        # No catalog entry: clear only the would-be default location
        # (the orphaned-directory case), derived per-namespace so
        # qualified names ('db.tbl' → <warehouse>/db.db/tbl) resolve
        # correctly.
        parts = table_name.lower().split(".")
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        if len(parts) == 2 and parts[0] != "default":
            rel = f"{parts[0]}.db/{parts[1]}"
        else:
            rel = parts[-1]
        _delete_dir(f"{warehouse}/{rel}")
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the physical plan —
    the metric bucketing is meant to drive to zero."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


def salted(
    df: DataFrame, key_col: str, factor: int, salt_col: str = "__salt"
) -> DataFrame:
    """Attach a per-row salt in [0, factor) spreading each key's rows
    uniformly — including byte-identical duplicate rows of a hot key,
    the exact case skew salting exists for (a content hash would send
    every copy of the hottest duplicated row to ONE salt bucket,
    recreating the straggler).

    The salt mixes the key with ``monotonically_increasing_id()`` +
    ``spark_partition_id()`` — unique per physical row, so the spread is
    uniform regardless of content. The expression is *indeterminate
    across task retries*; Spark handles that by re-running the whole
    indeterminate stage on failure (correctness preserved), and both
    consumers are insensitive to WHICH salt a row gets:

    - ``salted_join``: the small side is replicated to every salt value,
      so any salt joins identically;
    - ``salted_agg``: partial aggregates over (key, salt) re-combine to
      the same final value for any row→salt assignment (algebraic
      aggregates only, enforced there).
    """
    return df.withColumn(
        salt_col,
        F.pmod(
            F.xxhash64(
                F.col(key_col),
                F.spark_partition_id(),
                F.monotonically_increasing_id(),
            ),
            F.lit(factor),
        ),
    )


def replicate_for_salt(
    df: DataFrame, factor: int, salt_col: str = "__salt"
) -> DataFrame:
    """Replicate the small side once per salt value (factor×)."""
    return df.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
    ).withColumn(salt_col, F.col(salt_col).cast("bigint"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: identical result to ``big.join(small,
    on, how)``, but each hot key's rows land in ``factor`` tasks.

    The small side grows ``factor``× — use only when the small side is
    small enough to afford it (it usually is; that's why the key is
    hot on the other side)."""
    b = salted(big, on, factor)
    s = replicate_for_salt(small, factor)
    out = b.join(s, [on, "__salt"], how)
    return out.drop("__salt")


def salted_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    agg_exprs: dict[str, str],
    factor: int = 8,
) -> DataFrame:
    """Two-phase skew-resistant aggregation for algebraic aggregates
    (sum/count/min/max): aggregate by (key, salt) first — spreading a
    hot key over ``factor`` partial groups — then combine by key.

    ``agg_exprs``: output column → one of sum|count|min|max over an
    input column, e.g. ``{"qty": "sum(l_quantity)", "n": "count(1)"}``.
    """
    d = salted(df, group_cols[0], factor)
    phase1 = []
    combine = []
    for out_col, expr in agg_exprs.items():
        fn, _, arg = expr.partition("(")
        arg = arg.rstrip(")")
        fn = fn.strip().lower()
        if fn == "count":
            phase1.append(F.count(F.lit(1)).alias(out_col))
            combine.append(F.sum(out_col).alias(out_col))
        elif fn == "sum":
            phase1.append(F.sum(arg).alias(out_col))
            combine.append(F.sum(out_col).alias(out_col))
        elif fn == "min":
            phase1.append(F.min(arg).alias(out_col))
            combine.append(F.min(out_col).alias(out_col))
        elif fn == "max":
            phase1.append(F.max(arg).alias(out_col))
            combine.append(F.max(out_col).alias(out_col))
        else:
            raise ValueError(f"unsupported aggregate: {expr}")
    partial = d.groupBy(*group_cols, "__salt").agg(*phase1)
    return partial.groupBy(*group_cols).agg(*combine)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    files_per_partition: int = 1,
) -> None:
    """Partition-pruned layout writer with small-file control.

    ``partitionBy`` gives directory-level partition pruning on read (a
    filter on the partition column skips whole directories); the
    repartition on the same columns prevents the classic small-files
    explosion (every task otherwise writes a file into every output
    partition — tasks × partitions files). ``files_per_partition`` > 1
    spreads very large partitions over multiple files/tasks; note AQE's
    partition coalescing folds the sub-splits back together while the
    data stays below the advisory partition size, so the knob only
    takes effect at the scales that need it (verified: small inputs
    still produce one file per directory).
    """
    parts = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        # Deterministic sub-split within each partition.
        df = df.withColumn(
            "__split",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]),
                F.lit(files_per_partition),
            ),
        )
        df = df.repartition(*(parts + [F.col("__split")])).drop("__split")
    else:
        df = df.repartition(*parts)
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def key_skew_profile(
    df: DataFrame, key_cols: list[str], top_n: int = 20
) -> DataFrame:
    """Heavy-hitter diagnostic for join/agg keys: the top-N keys by row
    count with their share of the table — the measurement that decides
    whether a key needs salting (``salted_join``/``salted_agg``) before
    it becomes the straggler task.

    Output: (*key_cols, cnt, share, rank). Scale shape: one hash
    aggregation (map-side partial) over the keys; the total enters as a
    broadcast 1-row aggregate; the ranking window runs over the
    DISTINCT-KEY relation, and at 100 TB you call this on a sampled or
    already-aggregated frame — the point is the top of the distribution,
    which sampling preserves."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    # Total from the per-key counts, not a second scan of df: the input
    # is read once and the 1-row total aggregates the (much smaller)
    # distinct-key relation.
    total = counts.select(F.sum("cnt").cast("double").alias("__total"))
    w = Window.orderBy(F.col("cnt").desc(), *[F.col(c) for c in key_cols])
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("integer"))
        .where(F.col("rank") <= F.lit(top_n))
        .crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "cnt",
            F.round(F.col("cnt") / F.col("__total"), 6).alias("share"),
            "rank",
        )
    )
