"""Principal component extraction by distributed power iteration —
the dominant PCA direction of an embedding column, plus per-row
projections (north-star surface: the reference has no linear-algebra
operator; corpus pipelines use the top component for embedding
whitening sanity checks, drift monitoring, and cheap 1-D ordering of
a vector table).

Design for 100 TB:
- **The data is touched exactly three times**, each a map-side pass
  with a BOUNDED aggregate: (1) the per-dimension mean (d groups),
  (2) the centered scatter matrix (d^2 groups — partial aggregation
  combines map-side, so the shuffle carries d^2 rows per partition,
  not per input row), (3) the projection map. The power iteration
  itself runs driver-side on the collected d x d matrix — O(d^2)
  doubles, the same bounded-collect policy as kmeans centroids; a
  64-dim scatter matrix is 32 KB, there is nothing to distribute.
- **No Python in the distributed path**: explode + groupBy + fold /
  sum, and the projection is a JVM ``zip_with``/``aggregate`` over
  literal mean/component arrays.
- **Determinism**: FP sum order varies with partitioning, so
  ``deterministic=True`` folds every per-group sum over the
  row-id-sorted contribution list (``stats._sorted_fold``) and the
  driver-side iteration sums in ascending index order — every
  intermediate is then bit-replayable by a DuckDB ``list_reduce``
  chain (see ``plans/northstar.py`` ``q_pca_project``). The fold materializes n-element lists per
  group, fine at oracle scale; production runs keep the default
  plain ``F.sum`` (map-side partial, no lists) and tests pin the two
  modes agree to float tolerance.

Semantics: classic power iteration on the CENTERED scatter matrix
``S = sum (x - mu)(x - mu)^T`` (unnormalized covariance — the 1/n
factor only rescales eigenvalues, not the direction), fixed
``n_iters`` from the deterministic seed ``e_1``, L2-normalized every
round with the norm floored at 1e-12 (an exactly-zero matrix yields
the seed back instead of NaN). Sign is NOT canonicalized: the
returned direction is whatever the seeded iteration converges to,
deterministically.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.stats import _sorted_fold


def _as_double(vec_col: str):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def pca_power_iteration(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_iters: int = 8,
    deterministic: bool = False,
) -> tuple[list[float], list[float], DataFrame]:
    """Top principal component of ``vec_col`` →
    ``(mean, component, projections)`` where ``mean`` and
    ``component`` are driver-side ``list[float]`` of the input
    dimension and ``projections`` is ``(id, proj)`` — each row's
    centered dot product with the component, rounded to 6 dp (the
    FP-portability rule: one rounding at the very end, nothing
    upstream).

    All vectors must share one dimension (enforced); rows with a NULL
    vector are rejected loudly — silently dropping them would shift
    the mean.
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1; got {n_iters}")
    base = df.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vv")
    )
    if base.where(F.col("vv").isNull()).limit(1).count():
        raise ValueError(
            "pca_power_iteration input contains NULL vectors — drop or "
            "impute them explicitly; silently dropping rows would bias "
            "the mean"
        )
    dims = [r.d for r in base.select(F.size("vv").alias("d")).distinct().collect()]
    if len(dims) != 1:
        raise ValueError(f"mixed vector dimensions {sorted(dims)}")
    d = dims[0]
    n = base.count()
    if n == 0:
        raise ValueError("pca_power_iteration needs at least one row")

    # Pass 1: per-dimension mean (d groups, bounded collect).
    per_dim = base.select(
        "id", F.posexplode("vv").alias("i", "x")
    )
    total = (
        _sorted_fold(F.col("id"), F.col("x")) if deterministic
        else F.sum("x")
    )
    mu_rows = per_dim.groupBy("i").agg(
        (total / F.count(F.lit(1))).alias("m")
    ).collect()
    mu = [0.0] * d
    for r in mu_rows:
        mu[r.i] = float(r.m)

    # Pass 2: centered scatter matrix (d^2 groups, bounded collect).
    mu_lit = F.array(*[F.lit(v) for v in mu])
    cent = F.zip_with(F.col("vv"), mu_lit, lambda x, m: x - m)
    flat = base.select(
        "id",
        F.posexplode(
            F.flatten(
                F.transform(
                    cent,
                    lambda xi: F.transform(cent, lambda xj: xi * xj),
                )
            )
        ).alias("f", "c"),
    )
    if deterministic:
        cov_rows = flat.groupBy("f").agg(
            _sorted_fold(F.col("id"), F.col("c")).alias("s")
        ).collect()
    else:
        cov_rows = flat.groupBy("f").agg(F.sum("c").alias("s")).collect()
    S = [[0.0] * d for _ in range(d)]
    for r in cov_rows:
        S[r.f // d][r.f % d] = float(r.s)

    # Driver-side power iteration: ascending-index sums so the DuckDB
    # replay's index-ordered list_reduce matches bit-for-bit.
    v = [1.0] + [0.0] * (d - 1)
    for _ in range(n_iters):
        w = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc = acc + S[i][j] * v[j]
            w.append(acc)
        acc = 0.0
        for i in range(d):
            acc = acc + w[i] * w[i]
        # math.sqrt is the IEEE correctly-rounded sqrt, identical to
        # Spark's and DuckDB's (x ** 0.5 routes through pow and is NOT
        # guaranteed bit-identical).
        nrm = max(math.sqrt(acc), 1e-12)
        v = [w[i] / nrm for i in range(d)]

    # Pass 3: projections (map-only; literal mean/component arrays).
    v_lit = F.array(*[F.lit(x) for x in v])
    proj = F.round(
        F.aggregate(
            F.zip_with(cent, v_lit, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    return mu, v, base.select("id", proj.alias("proj"))


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection → ``(id, j, proj)``
    rows, one per output dimension: ``proj_j = (Σ_i x_i · s(i,j)) /
    sqrt(out_dim)`` with a Rademacher ±1 matrix (Achlioptas 2003 —
    the database-friendly JL variant: sign matrices preserve pairwise
    distances within (1±ε) like Gaussians do, with integer-cheap
    generation). The standard pre-step before ANN/clustering when
    64-dim embeddings are still too wide for a pair stage at corpus
    scale.

    Scale shape: the sign matrix is GENERATED, not stored — a
    ``spark.range(out_dim)`` of md5-derived sign arrays (the
    hyperplane-LSH recipe, engine-portable) broadcast-cross-joined
    onto the corpus; the corpus never shuffles, one map pass emits
    ``out_dim`` rows per vector, and the fold order is the element
    order, so a DuckDB ``list_reduce`` replays every double exactly
    (``q_random_projection``). No driver state, no Python in the
    distributed path.
    """
    if out_dim < 1 or in_dim < 1:
        raise ValueError(
            f"in_dim/out_dim must be >= 1; got {in_dim}/{out_dim}"
        )
    spark = df.sparkSession
    prefix = f"rp:{seed}:"
    signs = spark.range(out_dim).select(
        F.col("id").alias("__j"),
        F.transform(
            F.sequence(F.lit(0), F.lit(in_dim - 1)),
            lambda i: F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(prefix),
                            F.col("id").cast("string"),
                            F.lit(":"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    1,
                )
                < "8",
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        ).alias("__s"),
    )
    scale = math.sqrt(float(out_dim))
    proj = F.round(
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.col("__s"),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(scale),
        6,
    )
    return (
        df.select(F.col(id_col).alias("id"), vec_col)
        .crossJoin(F.broadcast(signs))
        .select("id", F.col("__j").alias("j"), proj.alias("proj"))
    )
