"""Exact-arithmetic statistics over quantized numeric columns —
grouped Pearson correlation and OLS slope (north-star surface: the
reference computes no statistics; profiling a 100 TB fact table for
feature relationships is a one-pass aggregation problem and belongs
in the engine, not in a sampled notebook).

Determinism recipe (the BM25/rolling-anomaly one): quantize each
input to an exact integer (``round(value * scale)``), accumulate the
five moment sums as DECIMAL(38,0) — Spark's exact 128-bit decimal
aggregation, matching DuckDB's HUGEINT sums — and only at the very
end combine them in ONE fixed double expression (two casts, two
sqrts, one division). Integer sums are order-independent, so the
result is identical under any partitioning and any engine; there is
no FP accumulation anywhere.

Scale shape: one map-side-partial hash aggregation (six accumulators
per group), nothing else — the textbook one-pass correlation. The
group count bounds the output, not the input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(38,0)"


def _sorted_fold(key: Column, val: Column) -> Column:
    """Partition-order-free SUM aggregate: left fold of the key-sorted
    value list, bit-replayable by DuckDB ``list_reduce`` (0.0 + x == x
    in IEEE doubles, so the missing init on the DuckDB side is exact).
    The fold materializes each group's value list: the oracle-mode
    sum; production paths keep the map-side partial ``F.sum``."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key.alias("k"), val.alias("v")))),
            lambda s: s["v"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def grouped_pearson(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    *,
    x_scale: int = 1,
    y_scale: int = 1,
) -> DataFrame:
    """Per-group Pearson r and OLS slope of y~x →
    ``(*group_cols, n, corr, slope)``.

    ``x_scale``/``y_scale`` quantize the inputs to integers
    (``round(v * scale)``) — pick them so the values ARE integers at
    that scale (quantities at 1, 2-dp money at 100); correlation is
    scale-invariant so r is unchanged, and the returned ``slope`` is
    in QUANTIZED units (slope of y*y_scale on x*x_scale).

    NULL in either column drops the row (pairwise-complete, the
    standard semantics). Zero variance in x or y yields NULL corr and
    slope (decided by an exact integer comparison, never a 0/0).

    Overflow bound: ``n * max|x*scale| * max|y*scale|`` and
    ``n * max(v*scale)^2`` must stay under 10^38 (DECIMAL(38) /
    HUGEINT) — comfortable for any real fact table: 10^12 rows of
    6-figure cent values is ~10^34.
    """
    x = F.round(F.col(x_col) * F.lit(x_scale), 0).cast("long")
    y = F.round(F.col(y_col) * F.lit(y_scale), 0).cast("long")
    base = df.select(
        *group_cols, x.alias("__x"), y.alias("__y")
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    xd, yd = F.col("__x").cast(_DEC), F.col("__y").cast(_DEC)
    a = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    nd = F.col("n").cast(_DEC)
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return a.select(
        *group_cols,
        "n",
        F.when(
            (denx > 0) & (deny > 0),
            num.cast("double")
            / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
        ).alias("corr"),
        F.when(
            denx > 0, num.cast("double") / denx.cast("double")
        ).alias("slope"),
    )


def chi_squared(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-squared test of independence between two categorical
    columns → one row ``(chi2, dof, n)``.

    Observed counts are exact integers from one hash aggregation over
    the fact table; every later relation (cells, row totals, column
    totals) is CONTINGENCY-TABLE-sized, not data-sized. Expected
    counts ``e = r*c/n`` and the per-cell terms ``(o-e)^2/e`` are
    fixed double expressions over those exact integers, and the chi2
    total is a left fold over the (a, b)-sorted cell list — bounded
    by the table's cardinality product, deterministic under any
    partitioning, and bit-replayable by a DuckDB ``list_reduce``.

    NULL categories drop the row (a NULL level would silently absorb
    mass from every real level). ``dof = (R-1)(C-1)``.
    """
    base = df.select(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())
    observed = base.groupBy("a", "b").agg(F.count(F.lit(1)).alias("obs"))
    # The statistic needs EVERY cell of the R x C grid — a level pair
    # that never co-occurs still contributes (0-e)^2/e. Rebuild the
    # full grid (contingency-sized cross join) and zero-fill.
    cells = (
        observed.select("a").distinct()
        .crossJoin(observed.select("b").distinct())
        .join(observed, ["a", "b"], "left")
        .select("a", "b", F.coalesce("obs", F.lit(0)).alias("o"))
    )
    rows_t = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    cols_t = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("a").alias("nr"),
        F.count_distinct("b").alias("nc"),
    )
    e = (
        F.col("ra").cast("double")
        * F.col("cb").cast("double")
        / F.col("n").cast("double")
    )
    od = F.col("o").cast("double")
    term = (od - e) * (od - e) / e
    scored = (
        cells.join(rows_t, "a")
        .join(cols_t, "b")
        .crossJoin(F.broadcast(tot))  # bounded: exactly 1 row
        .select("a", "b", "n", "nr", "nc", term.alias("t"))
    )
    return scored.groupBy("n", "nr", "nc").agg(
        _sorted_fold(F.struct("a", "b"), F.col("t")).alias("chi2")
    ).select(
        "chi2",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.col("n").cast("long").alias("n"),
    )


def mad_outliers(
    df: DataFrame,
    group_cols: "list[str]",
    value_col: str,
    *,
    scale: int = 1,
    k: int = 3,
) -> DataFrame:
    """Robust per-group outlier flags via median absolute deviation →
    input rows plus ``(med, mad, mad_ratio, is_outlier)``.

    The z-score's mean/stdev are themselves dragged by the outliers
    they're meant to find; median/MAD have a 50% breakdown point — the
    standard robust screen for fat-tailed telemetry and quality
    scores. Same exactness recipe as the module header: values
    quantize to integers (``round(v * scale)``), both medians run over
    integers (exact interpolated median — a DOUBLE that is always a
    multiple of 0.5, identical on any engine), and the flag
    ``|v - med| > k * MAD`` is decided as the pure integer comparison
    ``2 * d2 > k * m4`` where ``d2 = |2v_q - 2*med|`` and
    ``m4 = 2*median(d2)`` — no FP in the decision. ``mad_ratio``
    (``|v-med|/MAD``, the robust z analogue up to the 1.4826
    consistency constant) is one exact division; a zero-MAD group
    (over half the values identical) yields NULL ratio and no flags,
    the rolling-anomaly convention.

    NULL handling: rows whose quantized value is NULL do not enter the
    medians, but they ARE passed through — group ``med``/``mad``
    attach (NULL if the whole group had no measurable values),
    ``mad_ratio`` is NULL, and ``is_outlier`` is False. Every input
    row appears exactly once in the output.

    Scale shape: two grouped exact-median aggregations (Spark's
    median holds per-group value counts — memory is O(distinct
    quantized values per group), which ``scale`` bounds) and two
    group-keyed left joins back onto the rows; nothing data-squared,
    no windows, no collects.
    """
    vq = F.round(F.col(value_col) * F.lit(scale), 0).cast("long")
    src = df.withColumn("__vq", vq)
    base = src.where(F.col("__vq").isNotNull())
    med = base.groupBy(*group_cols).agg(
        (F.lit(2) * F.median("__vq")).cast("long").alias("__m2")
    )
    mad = (
        base.join(med, group_cols)
        .withColumn("__d2", F.abs(F.lit(2) * F.col("__vq") - F.col("__m2")))
        .groupBy(*group_cols)
        .agg((F.lit(2) * F.median("__d2")).cast("long").alias("__m4"))
    )
    out = (
        src.join(med, group_cols, "left")
        .join(mad, group_cols, "left")
        .withColumn("__d2", F.abs(F.lit(2) * F.col("__vq") - F.col("__m2")))
    )
    return out.select(
        *[c for c in df.columns],
        (F.col("__m2").cast("double") / F.lit(2.0 * scale)).alias("med"),
        (F.col("__m4").cast("double") / F.lit(4.0 * scale)).alias("mad"),
        F.when(
            F.col("__vq").isNotNull() & (F.col("__m4") > 0),
            (F.lit(2) * F.col("__d2")).cast("double")
            / F.col("__m4").cast("double"),
        ).alias("mad_ratio"),
        F.coalesce(
            F.col("__vq").isNotNull()
            & (F.col("__m4") > 0)
            & (F.lit(2) * F.col("__d2") > F.lit(int(k)) * F.col("__m4")),
            F.lit(False),
        ).alias("is_outlier"),
    )


def ks_statistic(
    df: DataFrame,
    sample_col: str,
    value_col: str,
    sample_a,
    sample_b,
    *,
    scale: int = 1,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic → one row
    ``(n_a, n_b, d_num, ks, at_value)`` — the distribution-drift test
    (train-vs-serve feature drift, this week's metric vs last
    week's). ``ks = max_x |F_a(x) - F_b(x)|``; ``at_value`` is the
    smallest value attaining the max (deterministic tie-break).

    Exactness: at every distinct value the ECDF gap is the integer
    ``|c_a * n_b - c_b * n_a|`` (cross-multiplied to dodge division);
    the max and argmax are integer/ordering decisions, and ``ks``
    is ONE final division — nothing accumulates in FP.

    Scale shape: one map-side-partial hash aggregation collapses the
    data to its distinct quantized values; the cumulative counts then
    run as a single-partition window over that DISTINCT-VALUE-sized
    relation — the one genuinely sequential piece of an exact KS.
    ``scale`` is the knob that bounds it: quantize so the distinct
    count stays small (1e5-1e6 rows through one task is trivial);
    for an un-quantizable metric use the histogram sketch's
    approximate CDF instead.
    """
    vq = F.round(F.col(value_col) * F.lit(scale), 0).cast("long")
    tagged = df.select(
        F.col(sample_col).alias("__s"), vq.alias("__vq")
    ).where(F.col("__vq").isNotNull())
    per_v = tagged.groupBy("__vq").agg(
        F.sum((F.col("__s") == F.lit(sample_a)).cast("long"))
        .cast(_DEC)
        .alias("__ca"),
        F.sum((F.col("__s") == F.lit(sample_b)).cast("long"))
        .cast(_DEC)
        .alias("__cb"),
    )
    w = Window.orderBy("__vq").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy("__vq").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # cumulative counts and the cross-multiplied gap stay DECIMAL(38,0)
    # (= oracle HUGEINT): c * n products exceed int64 past ~3e9 rows
    # per sample. The totals ride the SAME single window pass as the
    # cumsums (full-frame sums) — one scan, no separate totals job,
    # no join.
    gaps = per_v.select(
        "__vq",
        F.sum("__ca").over(w).alias("__cca"),
        F.sum("__cb").over(w).alias("__ccb"),
        F.sum("__ca").over(wall).alias("n_a"),
        F.sum("__cb").over(wall).alias("n_b"),
    )
    d = F.abs(
        F.col("__cca") * F.col("n_b") - F.col("__ccb") * F.col("n_a")
    )
    scored = gaps.select("n_a", "n_b", d.alias("__d"), "__vq")
    return scored.groupBy("n_a", "n_b").agg(
        F.max("__d").alias("d_num"),
        F.min_by("__vq", F.struct(
            (-F.col("__d")).alias("d"), F.col("__vq").alias("v")
        )).alias("__atq"),
    ).select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("d_num").cast("long").alias("d_num"),
        (
            F.col("d_num").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("ks"),
        (F.col("__atq").cast("double") / F.lit(float(scale))).alias(
            "at_value"
        ),
    )


def cohens_kappa(df: DataFrame, rater_a: str, rater_b: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two categorical
    columns → one row ``(n, n_agree, kappa)`` — the labeled-data QA
    gate (two annotators, or a model vs gold labels: raw accuracy
    minus what label-frequency chance would produce).

    ``kappa = (po - pe) / (1 - pe)`` computed as the single exact
    division ``(n*agree - S) / (n^2 - S)`` where
    ``S = Σ_c count_a(c) * count_b(c)`` — every term an exact
    DECIMAL(38,0) integer (HUGEINT in the oracle), so the whole
    statistic is one IEEE division. NULL in either column drops the
    row; a degenerate ``pe = 1`` (both raters constant) yields NULL.

    Scale shape: one pass for the agree/total counts, one hash
    aggregation per rater over category marginals, and a
    category-sized join — the fact table is read once, everything
    downstream is |categories|-sized.
    """
    base = df.select(
        F.col(rater_a).alias("__a"), F.col(rater_b).alias("__b")
    ).where(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    base = base.localCheckpoint(eager=False)  # 3 bounded consumers
    tot = base.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum((F.col("__a") == F.col("__b")).cast("long"))
        .cast(_DEC)
        .alias("agree"),
    )
    ma = base.groupBy(F.col("__a").alias("c")).agg(
        F.count(F.lit(1)).cast(_DEC).alias("na")
    )
    mb = base.groupBy(F.col("__b").alias("c")).agg(
        F.count(F.lit(1)).cast(_DEC).alias("nb")
    )
    s = (
        ma.join(mb, "c")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("s"))
        .select(F.coalesce("s", F.lit(0).cast(_DEC)).alias("s"))
    )
    j = tot.crossJoin(F.broadcast(s))  # both sides exactly 1 row
    num = F.col("n") * F.col("agree") - F.col("s")
    den = F.col("n") * F.col("n") - F.col("s")
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("agree").cast("long").alias("n_agree"),
        F.when(
            den != 0, num.cast("double") / den.cast("double")
        ).alias("kappa"),
    )


def welch_t(
    df: DataFrame,
    sample_col: str,
    value_col: str,
    sample_a,
    sample_b,
    *,
    scale: int = 1,
) -> DataFrame:
    """Welch's two-sample t statistic → one row
    ``(n_a, n_b, mean_a, mean_b, t_stat, dof)`` — the A/B-testing
    primitive (did the treatment move the metric?), in the unequal-
    variance form that doesn't assume the two groups share a spread.

    Same exactness recipe as :func:`grouped_pearson`: values quantize
    to integers, each group's count/sum/sum-of-squares accumulate as
    DECIMAL(38,0) in ONE partial-aggregated pass over the fact table,
    and the statistic

        t = (x̄_a - x̄_b) / sqrt(s²_a/n_a + s²_b/n_b)

    (sample variances, n-1 denominators) plus the Welch–Satterthwaite
    ``dof`` are fixed double expressions over those exact integers.
    Degenerate inputs (a group with < 2 rows, or both variances zero)
    yield NULL t/dof by exact integer comparison — never a 0/0.

    The reported means are in ORIGINAL units (the quantized means
    divided by ``scale``); t and dof are scale-invariant.
    """
    vq = F.round(F.col(value_col) * F.lit(scale), 0).cast("long")
    tagged = df.select(
        F.col(sample_col).alias("__s"), vq.alias("__vq")
    ).where(F.col("__vq").isNotNull())
    vd = F.col("__vq").cast(_DEC)
    agg = tagged.agg(
        F.sum(F.when(F.col("__s") == F.lit(sample_a), 1).otherwise(0))
        .cast(_DEC).alias("na"),
        F.sum(F.when(F.col("__s") == F.lit(sample_b), 1).otherwise(0))
        .cast(_DEC).alias("nb"),
        F.sum(F.when(F.col("__s") == F.lit(sample_a), vd).otherwise(
            F.lit(0).cast(_DEC))).alias("sa"),
        F.sum(F.when(F.col("__s") == F.lit(sample_b), vd).otherwise(
            F.lit(0).cast(_DEC))).alias("sb"),
        F.sum(F.when(F.col("__s") == F.lit(sample_a), vd * vd).otherwise(
            F.lit(0).cast(_DEC))).alias("ssa"),
        F.sum(F.when(F.col("__s") == F.lit(sample_b), vd * vd).otherwise(
            F.lit(0).cast(_DEC))).alias("ssb"),
    )
    na, nb = F.col("na"), F.col("nb")
    # exact integer numerators: n*SS - S^2 = n*(n-1)*s² (quantized)
    va_num = na * F.col("ssa") - F.col("sa") * F.col("sa")
    vb_num = nb * F.col("ssb") - F.col("sb") * F.col("sb")
    nad, nbd = na.cast("double"), nb.cast("double")
    # s²/n in quantized units, as one fixed expression each
    qa = va_num.cast("double") / (nad * (nad - 1.0) * nad)
    qb = vb_num.cast("double") / (nbd * (nbd - 1.0) * nbd)
    mean_diff_q = (
        F.col("sa").cast("double") / nad
        - F.col("sb").cast("double") / nbd
    )
    ok = (na >= 2) & (nb >= 2) & ((va_num > 0) | (vb_num > 0))
    t_stat = F.when(ok, mean_diff_q / F.sqrt(qa + qb))
    dof = F.when(
        ok,
        (qa + qb) * (qa + qb)
        / (qa * qa / (nad - 1.0) + qb * qb / (nbd - 1.0)),
    )
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        (F.col("sa").cast("double") / nad / F.lit(float(scale))).alias(
            "mean_a"
        ),
        (F.col("sb").cast("double") / nbd / F.lit(float(scale))).alias(
            "mean_b"
        ),
        t_stat.alias("t_stat"),
        dof.alias("dof"),
    )


def mann_whitney_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    positive,
    negative,
    *,
    scale: int = 1,
) -> DataFrame:
    """Mann-Whitney U / exact ROC-AUC → one row
    ``(n_pos, n_neg, u_pos, auc)`` — the scale-safe way to score a
    ranking signal against a binary label (AUC IS the normalized
    Mann-Whitney U: the probability a random positive outscores a
    random negative, ties counting half) — the evaluation rung for
    the quality classifier and any retrieval score.

    Exactness: scores quantize to integers and collapse to their
    distinct values with per-class counts (ONE partial-aggregated
    pass); tie-aware midranks come from a cumulative window over that
    DISTINCT-VALUE relation (the :func:`ks_statistic` shape — scale
    bounds the sequential piece), and doubled rank sums stay exact
    DECIMAL(38,0) integers. ``u_pos`` and ``auc`` are one subtraction
    and one division over those integers — a half-integer U is exact
    in doubles. Degenerate inputs (either class empty) yield NULL auc.
    """
    vq = F.round(F.col(score_col) * F.lit(scale), 0).cast("long")
    tagged = df.select(
        F.col(label_col).alias("__s"), vq.alias("__vq")
    ).where(F.col("__vq").isNotNull())
    per_v = tagged.groupBy("__vq").agg(
        F.sum((F.col("__s") == F.lit(positive)).cast("long"))
        .cast(_DEC)
        .alias("__cp"),
        F.sum((F.col("__s") == F.lit(negative)).cast("long"))
        .cast(_DEC)
        .alias("__cn"),
    ).where((F.col("__cp") > 0) | (F.col("__cn") > 0))
    w = Window.orderBy("__vq").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("__vq").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = F.col("__cp") + F.col("__cn")
    ranked = per_v.select(
        "__cp",
        "__cn",
        # 2*midrank = 2*(ranks before this value) + (ties here + 1):
        # exact integers throughout
        (
            F.lit(2).cast(_DEC) * (F.sum(tot).over(w) - tot)
            + tot
            + F.lit(1).cast(_DEC)
        ).alias("__r2"),
        F.sum("__cp").over(wall).alias("n_pos"),
        F.sum("__cn").over(wall).alias("n_neg"),
    )
    agg = ranked.groupBy("n_pos", "n_neg").agg(
        F.sum(F.col("__cp") * F.col("__r2")).alias("__r2p")  # 2*R_pos
    )
    np_, nn = F.col("n_pos"), F.col("n_neg")
    # U_pos = R_pos - n_pos(n_pos+1)/2  ==  (2R_pos - n_pos(n_pos+1))/2
    u2 = F.col("__r2p") - np_ * (np_ + F.lit(1).cast(_DEC))
    ok = (np_ > 0) & (nn > 0)
    return agg.select(
        np_.cast("long").alias("n_pos"),
        nn.cast("long").alias("n_neg"),
        (u2.cast("double") / F.lit(2.0)).alias("u_pos"),
        F.when(
            ok,
            u2.cast("double")
            / (F.lit(2.0) * (np_ * nn).cast("double")),
        ).alias("auc"),
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    x_scale: int = 1,
    y_scale: int = 1,
) -> DataFrame:
    """Spearman rank correlation → one row ``(n, rho)`` — Pearson's
    monotone, outlier-robust sibling (the screening question is "do
    these move together AT ALL", which a single fat-tailed point can
    hide from r; rho sees through it). Tie-aware average ranks, the
    scipy semantics.

    Exactness: both columns quantize to integers and collapse to
    their distinct values; midranks come from a cumulative window
    over each DISTINCT-VALUE relation (doubled, so every rank is an
    exact integer — Pearson is invariant to the common factor); the
    rank pairs then feed the :func:`grouped_pearson` moment-sum
    recipe (exact DECIMAL(38,0), one fixed double expression at the
    end). Zero rank variance (a constant column) yields NULL.

    Scale shape: one pass collapses each column (partial-aggregated),
    two distinct-value-sized rank relations join back onto the pairs
    (AQE broadcasts them when small), one moment aggregation. The two
    single-partition rank windows run over DISTINCT values only —
    ``x_scale``/``y_scale`` bound them, the KS-shape contract.
    """

    def _ranks(col_alias: str):
        per_v = (
            base.groupBy(col_alias)
            .agg(F.count(F.lit(1)).cast(_DEC).alias("__c"))
        )
        w = Window.orderBy(col_alias).rowsBetween(
            Window.unboundedPreceding, 0
        )
        return per_v.select(
            col_alias,
            (
                F.lit(2).cast(_DEC)
                * (F.sum("__c").over(w) - F.col("__c"))
                + F.col("__c")
                + F.lit(1).cast(_DEC)
            ).alias(f"__r_{col_alias}"),
        )

    xq = F.round(F.col(x_col) * F.lit(x_scale), 0).cast("long")
    yq = F.round(F.col(y_col) * F.lit(y_scale), 0).cast("long")
    base = df.select(xq.alias("__xq"), yq.alias("__yq")).where(
        F.col("__xq").isNotNull() & F.col("__yq").isNotNull()
    )
    ranked = base.join(_ranks("__xq"), "__xq").join(_ranks("__yq"), "__yq")
    rx, ry = F.col("__r___xq"), F.col("__r___yq")
    a = ranked.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(rx).alias("sx"),
        F.sum(ry).alias("sy"),
        F.sum(rx * rx).alias("sxx"),
        F.sum(ry * ry).alias("syy"),
        F.sum(rx * ry).alias("sxy"),
    )
    nd = F.col("n")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return a.select(
        F.col("n").cast("long").alias("n"),
        F.when(
            (denx > 0) & (deny > 0),
            num.cast("double")
            / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
        ).alias("rho"),
    )


def adjusted_rand(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Adjusted Rand index between two labelings of the same rows →
    one row ``(ari, sum_comb, sum_comb_a, sum_comb_b, n_pairs, n)`` —
    THE chance-corrected clustering-agreement score (Hubert & Arabie
    1985): compare an unsupervised partition (LPA communities, k-means
    cells, dedup clusters) against a reference labeling, 1.0 = perfect
    agreement, ~0 = what random assignment scores. Rows with NULL in
    either column drop (both labelings must speak).

    Exactness: every ingredient is a pair count —
    ``sum_comb = Σ_ij C(n_ij, 2)`` over the contingency table and the
    per-side sums over its margins — accumulated in DECIMAL(38,0).
    The classic formula divides expected-index terms, but multiplying
    through by ``2 * n_pairs`` clears every inner division:

        ari = (2*sc*np - 2*sa*sb) / ((sa+sb)*np - 2*sa*sb)

    EXACT integer numerator and denominator, ONE double division at
    the end — bit-identical on any engine, no FP ordering anywhere.
    Degenerate cases (denominator 0: both labelings put everything in
    one cluster, or both are all-singletons) are decided by INTEGER
    comparison and yield NULL.

    Scale shape: one hash aggregation to the contingency table
    (bounded by |labels_a| × |labels_b|, not rows), two margin aggs,
    three 1-row sums. Overflow bound: ``(sa+sb) * np < 10^38`` —
    holds to ~10^9 rows of pairs-of-pairs (n ≲ 3·10^9 rows).
    """
    base = df.select(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).where(F.col("a").isNotNull() & F.col("b").isNotNull())
    cells = base.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast(_DEC).alias("nij")
    )

    def comb2(c):
        return c * (c - F.lit(1).cast(_DEC)) / F.lit(2).cast(_DEC)

    sums = cells.agg(
        F.sum(comb2(F.col("nij"))).cast(_DEC).alias("sc"),
        F.sum(F.col("nij")).cast(_DEC).alias("n"),
    )
    ra = (
        cells.groupBy("a").agg(F.sum("nij").cast(_DEC).alias("ni"))
        .agg(F.sum(comb2(F.col("ni"))).cast(_DEC).alias("sa"))
    )
    rb = (
        cells.groupBy("b").agg(F.sum("nij").cast(_DEC).alias("nj"))
        .agg(F.sum(comb2(F.col("nj"))).cast(_DEC).alias("sb"))
    )
    j = sums.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(rb))
    np_ = comb2(F.col("n"))
    two = F.lit(2).cast(_DEC)
    num = two * F.col("sc") * np_ - two * F.col("sa") * F.col("sb")
    den = (F.col("sa") + F.col("sb")) * np_ - two * F.col("sa") * F.col("sb")
    return j.select(
        F.when(den != 0, num.cast("double") / den.cast("double"))
        .alias("ari"),
        F.col("sc").cast("long").alias("sum_comb"),
        F.col("sa").cast("long").alias("sum_comb_a"),
        F.col("sb").cast("long").alias("sum_comb_b"),
        np_.cast("long").alias("n_pairs"),
        F.col("n").cast("long").alias("n"),
    )


def bh_fdr(
    df: DataFrame, p_col: str, alpha: float = 0.05
) -> DataFrame:
    """Benjamini-Hochberg FDR control over a battery of p-values →
    input rows plus ``(reject boolean)`` — run one drift/AB test per
    feature or slice (welch_t, ks_statistic, chi_squared...) and this
    decides WHICH rejections survive multiple testing at false-
    discovery rate ``alpha``, the standard fix for "test 500 features
    at p<0.05, get 25 false alarms per run".

    Procedure: sort the m p-values ascending; find the largest rank k
    with ``p_(k) <= alpha * k / m``; reject everything at or below
    ``p_(k)``. Implemented without a global row sort: p-values
    collapse to DISTINCT values first (the exact-KS shape) — for tied
    p-values the LARGEST ordinal rank is the binding one (the BH
    threshold grows with rank), so the distinct-value cumulative
    count is exactly the right rank. The sequential window runs over
    the distinct relation only; rows with NULL p pass through with
    ``reject = false``.

    The pass test is evaluated as ``p * m <= alpha * k`` — two IEEE
    multiplications of identical operands on any engine, no division,
    no accumulation — so the decision is engine-portable without
    quantization.

    Scale shape: one distinct-collapse aggregation, one window over
    the distinct p relation (bounded by distinct p count — test
    batteries are thousands, not billions), one 1-row threshold
    aggregate broadcast back. The input is never globally sorted.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1); got {alpha}")
    pv = df.select(F.col(p_col).alias("__p")).where(
        F.col("__p").isNotNull()
    )
    m = pv.agg(F.count(F.lit(1)).alias("__m"))
    dist = pv.groupBy("__p").agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.orderBy("__p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = dist.select(
        "__p", F.sum("__c").over(w).alias("__k")
    ).crossJoin(F.broadcast(m))
    thr = ranked.where(
        F.col("__p") * F.col("__m") <= F.lit(alpha) * F.col("__k")
    ).agg(F.max("__p").alias("__thr"))
    return (
        df.crossJoin(F.broadcast(thr))
        .withColumn(
            "reject",
            F.coalesce(
                F.col(p_col) <= F.col("__thr"), F.lit(False)
            ),
        )
        .drop("__thr")
    )


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_support: int = 2,
    max_items_per_basket: int = 1000,
) -> DataFrame:
    """Frequent co-occurring item pairs with support and lift →
    ``(item_a, item_b, n_pair, n_a, n_b, n_baskets, lift)`` for every
    unordered pair appearing together in at least ``min_support``
    baskets — the A-Priori 2-itemset pass (market-basket / feature
    co-occurrence mining: which event types fire together per user,
    which tags co-occur per document). ``lift = n*c_ab/(c_a*c_b)`` is
    ONE exact-integer construction and ONE double division (>1 means
    the pair co-occurs more than independence predicts).

    Scale shape: distinct (basket, item) collapse, per-basket pair
    enumeration via a self-equi-join on basket with ``item_a <
    item_b`` (work Σ_b k_b² — ``max_items_per_basket`` guards the
    degenerate basket that would quadratically explode; baskets over
    the cap RAISE, pointing at a pre-filter), then one hash
    aggregation per pair. Map-side partial everywhere; output bounded
    by pairs above support, never rows.
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1; got {min_support}")
    base = (
        df.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .where(F.col("basket").isNotNull() & F.col("item").isNotNull())
        .distinct()
    )
    sizes = base.groupBy("basket").agg(F.count(F.lit(1)).alias("__k"))
    # The guard wraps the ITEM column itself (not a side column a
    # projection could prune away): any row of an oversized basket
    # raises the instant the join evaluates it.
    guard = F.when(
        F.col("__k") <= F.lit(max_items_per_basket), F.col("item")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "frequent_pairs: basket exceeds max_items_per_basket="
                    f"{max_items_per_basket} (k="
                ),
                F.col("__k").cast("string"),
                F.lit(
                    "); pair enumeration is O(k^2) per basket - cap or "
                    "pre-filter ubiquitous items, or raise the bound "
                    "deliberately"
                ),
            )
        )
    )
    checked = base.join(sizes, "basket").select(
        "basket", guard.alias("item")
    )
    n_baskets = base.select("basket").distinct().count()
    item_counts = base.groupBy("item").agg(
        F.count(F.lit(1)).alias("c")
    )
    a = checked.select("basket", F.col("item").alias("item_a"))
    b = checked.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "basket")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= F.lit(min_support))
    )
    out = (
        pairs.join(
            item_counts.select(
                F.col("item").alias("item_a"), F.col("c").alias("n_a")
            ),
            "item_a",
        )
        .join(
            item_counts.select(
                F.col("item").alias("item_b"), F.col("c").alias("n_b")
            ),
            "item_b",
        )
    )
    lift = (
        (F.lit(n_baskets).cast(_DEC) * F.col("n_pair").cast(_DEC))
        .cast("double")
        / (F.col("n_a").cast(_DEC) * F.col("n_b").cast(_DEC))
        .cast("double")
    )
    return out.select(
        "item_a", "item_b", "n_pair", "n_a", "n_b",
        F.lit(n_baskets).alias("n_baskets"),
        lift.alias("lift"),
    )


def theil_sen(
    df: DataFrame,
    group_cols: "list[str]",
    x_col: str,
    y_col: str,
    *,
    x_scale: int = 1,
    y_scale: int = 1,
    max_points_per_group: int = 10_000,
) -> DataFrame:
    """Per-group Theil-Sen robust trend → ``(*group_cols, n_pairs,
    slope)`` — the median of all pairwise slopes (Theil 1950, Sen
    1968): up to ~29% of the points can be arbitrary outliers before
    the estimate moves, where one bad point drags OLS (q_grouped_corr)
    anywhere. The drift detector for metrics whose tails lie.

    Exactness recipe: x and y quantize to integers; each pair's slope
    ``(yb - ya) / (xb - xa)`` is ONE IEEE division of exact integers
    (identical on any engine); the median is computed EXPLICITLY over
    the distinct-slope collapse — value-at-rank via cumulative counts,
    even-count middles averaged as ``(lo + hi) / 2`` — because engine
    built-in medians interpolate doubles with different expression
    trees (``(a+b)/2`` vs ``a+(b-a)*0.5`` differ in IEEE). Pairs with
    equal quantized x are excluded (undefined slope — the standard
    convention); groups with no valid pair yield NULL slope.

    Scale shape: the pair join is group-keyed but O(n²) per group —
    this is the estimator's definition, not an implementation choice —
    so ``max_points_per_group`` fails loudly past the bound (use
    per-group sampling or the OLS slope upstream for big groups). The
    median window runs over the distinct-slope relation per group, the
    KS/BH shape, never over raw pairs.
    """
    xq = F.round(F.col(x_col) * F.lit(x_scale), 0).cast("long")
    yq = F.round(F.col(y_col) * F.lit(y_scale), 0).cast("long")
    base = df.select(
        *group_cols, xq.alias("__x"), yq.alias("__y")
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    sizes = base.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__n"))
    guard = F.when(
        F.col("__n") <= F.lit(max_points_per_group), F.col("__x")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "theil_sen: group exceeds max_points_per_group="
                    f"{max_points_per_group} (n="
                ),
                F.col("__n").cast("string"),
                F.lit(
                    "); the pairwise-slope set is O(n^2) per group by "
                    "definition - sample per group upstream or use the "
                    "grouped_pearson OLS slope, or raise the bound "
                    "deliberately"
                ),
            )
        )
    )
    # guard wraps __x (load-bearing: it feeds the pair join) — the
    # frequent_pairs column-pruning lesson.
    checked = base.join(sizes, group_cols).select(
        *group_cols, guard.alias("__x"), "__y"
    )
    a = checked.select(
        *group_cols, F.col("__x").alias("__xa"), F.col("__y").alias("__ya")
    )
    b = checked.select(
        *group_cols, F.col("__x").alias("__xb"), F.col("__y").alias("__yb")
    )
    slope = (
        (F.col("__yb") - F.col("__ya")).cast("double")
        / (F.col("__xb") - F.col("__xa")).cast("double")
    )
    pairs = (
        a.join(b, group_cols)
        .where(F.col("__xa") < F.col("__xb"))
        .select(*group_cols, slope.alias("__s"))
    )
    dist = pairs.groupBy(*group_cols, "__s").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The per-group pair total is the sum of the distinct-slope counts
    # — computing it as a whole-partition window over ``dist`` (same
    # partition key as the cumulative window, so the exchange is
    # shared) instead of a second aggregate over ``pairs`` means the
    # O(n²) pair join is built and shuffled exactly once.
    wt = Window.partitionBy(*group_cols)
    j = dist.select(
        *group_cols,
        "__s",
        F.sum("__c").over(w).alias("__cum"),
        F.sum("__c").over(wt).alias("__m"),
    )
    # value-at-rank by pure integer comparison: the lower middle is the
    # first cum with 2*cum >= m (rank ceil(m/2)), the upper middle the
    # first with 2*cum > m (rank floor(m/2)+1); odd m makes them equal.
    med = j.groupBy(*group_cols, "__m").agg(
        F.min(
            F.when(
                F.lit(2) * F.col("__cum") >= F.col("__m"), F.col("__s")
            )
        ).alias("__lo"),
        F.min(
            F.when(
                F.lit(2) * F.col("__cum") > F.col("__m"), F.col("__s")
            )
        ).alias("__hi"),
    )
    out = sizes.join(med, group_cols, "left")
    return out.select(
        *group_cols,
        F.coalesce(F.col("__m"), F.lit(0)).cast("long").alias("n_pairs"),
        ((F.col("__lo") + F.col("__hi")) / F.lit(2.0)).alias("slope"),
    )
