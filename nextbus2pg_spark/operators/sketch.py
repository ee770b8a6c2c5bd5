"""Distinct-count sketching: KMV (k-minimum-values, Bar-Yossef et al.)
— the bounded-memory, mergeable alternative to exact COUNT(DISTINCT)
at 100 TB scale.

Why KMV and not HLL here: Spark's ``approx_count_distinct`` (HLL++) is
an opaque JVM implementation whose estimates cannot be reproduced by
another engine, so it can only ever get a rows-only correctness check.
KMV built on md5 is *engine-portable* — the k minimum hash values, and
therefore the estimate, are bit-identical in any engine that has md5
and integer arithmetic — so the sketch gets a full value-level oracle
check like every other operator.

Estimator: hash every value to a uniform 52-bit integer (13 hex chars
of md5 → exact in a double). If a group has fewer than ``k`` distinct
hashes the count is exact; otherwise the k-th smallest hash U_(k)
estimates the cardinality as ``(k-1) / (U_(k) / 16^13)``.

Scale shape: two-phase partial top-k. Phase 1 keeps only the k
smallest hashes per (group, input partition) — so the shuffle carries
at most ``k`` values per group per partition, never the distinct set.
Phase 2 merges the partial lists and re-takes the k smallest (KMV
sketches merge by exactly this union-and-truncate, which is also how
a multi-day rollup would combine per-day sketches). The phase-1
``collect_set`` buffer holds the distinct hashes of one group within
one partition; for adversarial per-partition cardinalities swap the
partial for a bounded heap in ``mapInPandas`` — the merge phase and
estimator are unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.stats import _sorted_fold

#: 16^13 = 2^52 — the hash domain size; exact as a double.
_KMV_DOMAIN = 16**13


def kmv_hash(value: Column) -> Column:
    """Uniform 52-bit integer hash of a value's string form (md5
    prefix). Portable: any engine with md5 + hex parsing reproduces it
    bit-for-bit."""
    return F.conv(
        F.substring(F.md5(value.cast("string")), 1, 13), 16, 10
    ).cast("bigint")


def kmv_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Approximate COUNT(DISTINCT value) per group via a KMV sketch →
    ``(group_cols..., n_distinct_est)``.

    Exact when a group has < k distinct values; otherwise the standard
    KMV estimate with relative error ≈ 1/sqrt(k-2) (k=64 → ~13%).
    Deterministic: same input ⇒ same estimate, on any engine.
    """
    h = kmv_hash(F.col(value_col)).alias("__h")
    partial = (
        df.select(*group_cols, h)
        .withColumn("__pid", F.spark_partition_id())
        .groupBy(*group_cols, "__pid")
        .agg(
            F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("__ks")
        )
    )
    merged = partial.groupBy(*group_cols).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("__ks")))),
            1,
            k,
        ).alias("__ks")
    )
    return merged.select(
        *group_cols,
        F.round(kmv_estimate(F.col("__ks"), k), 4).alias("n_distinct_est"),
    )


def kmv_estimate(state: Column, k: int) -> Column:
    """Distinct-count estimate from a k-minimum-hash array (exact when
    the array holds fewer than ``k`` hashes; the (k-1)/U_(k) estimator
    beyond). Shared by :func:`kmv_distinct` and the continuous
    aggregate's mergeable ``approx_distinct`` state."""
    n = F.size(state)
    kth = F.element_at(state, k).cast("double")
    return F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) / (kth / F.lit(float(_KMV_DOMAIN)))
    )


def _cms_bucket(value: Column, row: int, width: int) -> Column:
    """Row-``row``'s bucket for a value: md5 of ``"<row>:<value>"``
    folded to 32 bits, mod ``width`` — the same engine-portable hash
    family as :func:`kmv_hash`, salted per sketch row."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(str(row)), value.cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(width),
    )


def countmin_build(
    df: DataFrame,
    value_col: str,
    depth: int = 3,
    width: int = 256,
) -> DataFrame:
    """Build a count-min sketch over ``value_col`` as a LONG-FORM cell
    relation ``(row, bucket, cnt)`` — the frequency-estimation sibling
    of the KMV distinct sketch (Cormode-Muthukrishnan CM sketch): at
    most ``depth × width`` rows regardless of input size, point-query
    estimates overcount by at most ~2e/width · N with probability
    1 - (1/2)^depth, and NEVER undercount.

    Mergeable by construction: cells are counts, so two sketches (two
    days, two partitions of the corpus) combine with
    ``union → groupBy(row, bucket) → sum(cnt)`` — the same
    merge-not-recompute contract as the continuous aggregate's KMV
    state. Engine-portable (md5 bucket hash) ⇒ full value oracle, the
    reason this isn't a JVM-opaque sketch.

    Scale shape: per input row, ``depth`` (row, bucket) pairs explode
    map-side; ONE hash aggregation bounds the shuffle at depth×width
    cells per partition (map-side partials) — the input never shuffles.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1: {depth}x{width}")
    v = F.col(value_col)
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _cms_bucket(v, j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("__c")
    ).select("__c.row", "__c.bucket")
    return cells.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch for each key in ``keys`` →
    ``(key_col, est_count)`` with ``est_count = min over rows of the
    key's cell`` (0 when a cell is absent — the sketch stores no
    zeros). ``depth``/``width`` must match the build call.

    The keys side is the small one by construction (a vocabulary, the
    heavy-hitter candidates); the sketch is at most depth×width cells,
    so both sides of the probe join broadcast comfortably.
    """
    k = F.col(key_col)
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _cms_bucket(k, j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("__p"),
    ).select(key_col, "__p.row", "__p.bucket")
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .select(key_col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
        .groupBy(key_col)
        .agg(F.min("cnt").cast("long").alias("est_count"))
    )


# -- fixed-bin histogram: mergeable quantile state ---------------------
#
# The quantile-at-scale problem: exact percentiles need a global sort
# (or Spark's GK/HLL-style approx_percentile, whose state — like
# HLL++ — is an opaque JVM buffer no other engine can reproduce). A
# fixed-bin histogram is the engine-portable mergeable alternative:
# state is an array<long> of bin counts over a declared [lo, hi)
# domain, merge is element-wise addition (a commutative monoid, so
# batch boundaries/restarts can't corrupt it — the same algebra as
# pipelines/continuous_aggregate), and any quantile is derived at
# read time by an interpolated cumulative walk. Accuracy is bounded
# by bin width — a deliberate, *declared* error bar, vs approx-
# percentile's data-dependent one. Values outside [lo, hi) clamp to
# the edge bins (min/max monoids alongside recover true extremes).


def histogram_bin(value: Column, lo: float, hi: float, nbins: int) -> Column:
    """Bin index in [0, nbins) for ``value`` over [lo, hi), clamped at
    both edges. NULL for NULL values (SQL aggregates skip them)."""
    width = (hi - lo) / nbins
    raw = F.floor((value - F.lit(lo)) / F.lit(width)).cast("int")
    return F.when(
        value.isNull(), F.lit(None).cast("int")
    ).otherwise(F.greatest(F.lit(0), F.least(F.lit(nbins - 1), raw)))


def histogram_state(value: Column, lo: float, hi: float, nbins: int) -> Column:
    """Aggregate expression: array<long> of per-bin counts — the
    mergeable histogram state. nbins parallel conditional counts in
    ONE partial-aggregatable pass (map-side combine collapses each
    partition to a single nbins-long array before the shuffle)."""
    b = histogram_bin(value, lo, hi, nbins)
    # coalesce: SUM over zero non-null rows is NULL, and one NULL
    # element would zip_with-poison every later merge of that bucket
    # (a group whose rows in one partition are all NULL-valued is
    # enough to hit this in the two-phase continuous aggregate).
    return F.array(
        *[
            F.coalesce(F.sum((b == i).cast("long")), F.lit(0).cast("long"))
            for i in range(nbins)
        ]
    )


def histogram_merge(state: Column, nbins: int) -> Column:
    """Aggregate expression merging histogram states: element-wise sum
    (the monoid op). ``merge(h(A), h(B)) == h(A ∪ B)`` exactly."""
    zero = F.array(*[F.lit(0).cast("long")] * nbins)
    return F.aggregate(
        F.collect_list(state),
        zero,
        # element coalesce: a NULL bin (possible in states written
        # before histogram_state guarded the all-NULL-group case) must
        # act as 0, not poison the whole fold
        lambda acc, x: F.zip_with(
            acc, x, lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
        ),
    )


def histogram_quantile(
    state: Column, q: float, lo: float, hi: float, nbins: int
) -> Column:
    """Interpolated quantile estimate from a histogram state column.

    Standard linearly-interpolated cumulative walk (the PromQL
    ``histogram_quantile`` estimator): find the bin where the
    cumulative count crosses ``q * total`` and interpolate within it.
    Pure array expressions — evaluable on any engine with the same
    IEEE arithmetic, hence fully oracle-checkable. NULL for an empty
    state (total == 0)."""
    width = (hi - lo) / nbins
    total = F.aggregate(state, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.lit(float(q)) * total.cast("double")
    indexed = F.zip_with(
        state,
        F.sequence(F.lit(0), F.lit(nbins - 1)),
        lambda cnt, i: F.struct(cnt.alias("cnt"), i.alias("i")),
    )
    acc0 = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(None).cast("double").alias("val"),
    )
    walk = F.aggregate(
        indexed,
        acc0,
        lambda acc, x: F.struct(
            (acc["cum"] + x["cnt"]).alias("cum"),
            F.when(acc["val"].isNotNull(), acc["val"])
            .when(
                (x["cnt"] > 0)
                & ((acc["cum"] + x["cnt"]).cast("double") >= target),
                F.lit(lo)
                + F.lit(width)
                * (
                    x["i"].cast("double")
                    + (target - acc["cum"].cast("double"))
                    / x["cnt"].cast("double")
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("val"),
        ),
        lambda acc: acc["val"],
    )
    return F.when(total > 0, walk).otherwise(F.lit(None).cast("double"))


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lo: float,
    hi: float,
    nbins: int = 32,
) -> DataFrame:
    """Per-group histogram state over ``df[value_col]`` →
    ``group_cols + (hist array<long>)``. One partial-aggregatable
    pass; state size is nbins longs per group regardless of row
    count."""
    return df.groupBy(*group_cols).agg(
        histogram_state(F.col(value_col), lo, hi, nbins).alias("hist")
    )


# -- count-min as FLAT-ARRAY state: the continuous-aggregate form -----
#
# countmin_build's long-form (row, bucket, cnt) relation is the right
# shape for a standalone sketch table; a keyed rollup
# (pipelines/continuous_aggregate) instead needs ONE mergeable column
# per aggregate. cms_state packs the depth x width cells into a single
# array<long> (layout: cell [j][b] at index j*width + b), merged by the
# same element-wise addition as the histogram sketch — per rollup key,
# per-key frequency estimates with NO per-key rows stored anywhere:
# state size is depth*width longs however many distinct values stream
# through. The md5 bucket family matches countmin_build, so estimates
# stay engine-portable and oracle-checkable.


#: Hard cap on depth*width for the flat-state form. Each cell is an
#: independent conditional-SUM aggregate buffer: past a few hundred
#: buffers Spark falls out of whole-stage codegen and planning time
#: grows linearly, and past a few thousand the plan itself becomes the
#: bottleneck. The default 3x32 = 96 cells is comfortably inside the
#: codegen regime; genuinely wide sketches belong in countmin_build's
#: long-form (row, bucket, cnt) relation, whose single hash aggregate
#: scales to any width.
CMS_STATE_MAX_CELLS = 1024


def cms_state(value: Column, depth: int = 3, width: int = 32) -> Column:
    """Aggregate expression: flat count-min state over ``value``.
    depth*width conditional counts in one partial-aggregatable pass;
    NULL values are skipped (no cell increments, matching SQL count
    semantics).

    PRACTICAL BOUND: this form materializes depth*width independent
    aggregate buffers (one conditional SUM per cell), so it is only
    appropriate for rollup-state widths — depth*width above
    ``CMS_STATE_MAX_CELLS`` raises. A heavy-hitter rollup rarely needs
    more (error scales as 2e/width of the TOTAL stream count, and the
    candidate set is re-scored exactly downstream); when you truly
    need a wide sketch, build it as a standalone long-form relation
    with :func:`countmin_build` instead, which aggregates all cells in
    ONE hash aggregate at any width."""
    if depth * width > CMS_STATE_MAX_CELLS:
        raise ValueError(
            f"cms_state depth*width = {depth * width} exceeds "
            f"{CMS_STATE_MAX_CELLS}: the flat form emits one aggregate "
            "buffer per cell and stops being a sane plan at this size — "
            "use countmin_build's long-form relation for wide sketches"
        )
    cells = []
    for j in range(depth):
        b = _cms_bucket(value, j, width)
        for k in range(width):
            cells.append(
                F.coalesce(
                    F.sum(
                        (value.isNotNull() & (b == k)).cast("long")
                    ),
                    F.lit(0).cast("long"),
                )
            )
    return F.array(*cells)


def cms_state_estimate(
    state: Column, key: Column, depth: int = 3, width: int = 32
) -> Column:
    """Point frequency estimate of ``key`` from a flat CMS state:
    min over rows of the key's cell (never undercounts; overcounts
    bounded by the sketch dimensions)."""
    return F.least(
        *[
            F.element_at(
                state,
                (F.lit(j * width) + _cms_bucket(key, j, width) + F.lit(1))
                .cast("int"),
            )
            for j in range(depth)
        ]
    )


def cms_state_total(state: Column, width: int = 32) -> Column:
    """Total (non-NULL) row count folded into a flat CMS state — the
    sum of any one sketch row; row 0 is used."""
    return F.aggregate(
        F.slice(state, 1, width), F.lit(0).cast("long"), lambda a, x: a + x
    )


def hll_registers(
    df: DataFrame,
    key_cols: "list[str]",
    p: int = 6,
    salt: str = "hll",
) -> DataFrame:
    """Engine-portable HyperLogLog registers → ``(bucket, max_rho)``.

    The KMV docstring above rules out Spark's built-in HLL++ (opaque
    JVM state, rows-only checkable); THIS is the portable
    alternative: hash to the repo's canonical 60-bit md5 integer,
    low ``p`` bits pick one of ``m = 2^p`` registers, and the
    register keeps the max over ``rho`` = 1 + leading-zero count of
    the remaining ``60 - p`` bits. Every quantity is an exact
    integer (``rho`` derives from the BIT WIDTH of the suffix —
    ``length(bin(w))`` — never from a float log), so registers are
    bit-identical in any engine with md5 and integer shifts, and two
    register sets MERGE by per-bucket max — the property that makes
    HLL the de-facto rollup sketch (per-day registers → monthly
    distinct without re-reading the data).

    Scale shape: one map-side expression chain + one m-group max
    aggregation (partial combine); the shuffle carries at most m rows
    per partition. NULL keys are dropped (COUNT DISTINCT semantics).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16]; got {p}")
    m = 1 << p
    cols = [F.col(c).cast("string") for c in key_cols]
    notnull = None
    for c in key_cols:
        cond = F.col(c).isNotNull()
        notnull = cond if notnull is None else (notnull & cond)
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), *cols)), 1, 15),
        16,
        10,
    ).cast("bigint")
    w = F.shiftright(h, p)
    suffix_bits = 60 - p
    rho = F.when(
        w > 0, F.lit(suffix_bits + 1) - F.length(F.bin(w))
    ).otherwise(F.lit(suffix_bits + 1))
    return (
        df.where(notnull)
        .select(
            h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


#: alpha_m bias constants of Flajolet et al. 2007 (m >= 128 uses the
#: closed form); keys are p = log2(m).
_HLL_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}


def hll_raw_estimate(registers: DataFrame, p: int = 6) -> DataFrame:
    """Raw HLL estimate from a register set → one row
    ``(raw_estimate, n_zero_registers, m)``.

    ``raw_estimate = alpha_m * m^2 / sum_j 2^(-M_j)`` over ALL m
    registers (never-hit buckets contribute 2^0 = 1 — the zero-filled
    grid matters exactly like chi-squared's zero cells). Each term is
    an exact power of two (``1.0 / (1L << M_j)``) and the sum folds in
    bucket order, so the estimate replays bit-for-bit; the standard
    small-range linear-counting correction needs ``ln`` (ulp-unstable
    across engines) and is left to the caller — ``n_zero_registers``
    is exactly what it needs.
    """
    m = 1 << p
    alpha = _HLL_ALPHA.get(p, 0.7213 / (1.0 + 1.079 / m))
    spark = registers.sparkSession
    grid = spark.range(m).select(F.col("id").cast("bigint").alias("bucket"))
    filled = grid.join(registers, "bucket", "left").select(
        "bucket", F.coalesce("max_rho", F.lit(0)).alias("rho")
    )
    # F.shiftleft only takes a literal bit count; the SQL form shifts
    # by a column. 1L << rho is an exact power of two in a BIGINT
    # (rho <= 61), and the division is exact in a double.
    term = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), rho) AS DOUBLE)"
    )
    folded = _sorted_fold(F.col("bucket"), term)
    return filled.agg(
        (F.lit(alpha) * F.lit(float(m * m)) / folded).alias("raw_estimate"),
        F.sum((F.col("rho") == 0).cast("long")).alias("n_zero_registers"),
        F.lit(m).cast("long").alias("m"),
    )
