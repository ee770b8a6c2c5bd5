"""Embedding similarity search (SURVEY.md §2.12 north-star).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set against the full corpus — the corpus side never shuffles, the
dot product is a JVM-side array fold (``zip_with`` + ``aggregate``), and
the top-k is a per-query window.

Two scale paths turn search into an equi-join (the 100 TB shapes):
- LSH bucketing (random-hyperplane signs): a short binary signature
  from deterministic pseudo-random planes; recall tunable via number
  of tables / prefix length (``lsh_topk``).
- IVF (inverted file): nearest-centroid bucket ids with query-side
  multi-probe; recall tunable via nprobe (``ivf_topk``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.scale import cut, iterate
from nextbus2pg_spark.operators.stats import _sorted_fold


def _dot(a: Column, b: Column) -> Column:
    """Sequential in-order double fold — deterministic, engine-portable."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str, out_col: str = "norm") -> DataFrame:
    """Attach the L2 norm (computed once per vector, reused per pair)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(out_col, F.sqrt(_dot(v, v)))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine similarity with a zero-norm floor.

    The denominator is floored at 1e-12: an all-zero embedding (padding
    rows are common in real corpora) otherwise yields 0.0/0.0 = NaN,
    and Spark sorts NaN ABOVE every double — one zero vector would rank
    first in every descending top-k. With the floor a zero vector
    scores 0.0 against everything and never enters a top-k. Mirrors
    the ``_unit`` guard used by the PQ paths.
    """
    d = _dot(
        F.transform(a, lambda x: x.cast("double")),
        F.transform(b, lambda x: x.cast("double")),
    )
    return d / F.greatest(norm_a * norm_b, F.lit(1e-12))


def _topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    """The per-query top-k every search operator returns through →
    (query_id, match_id, sim, rank): ``rank`` 1..k per query by sim
    DESC (Spark's default order: NaN first, NULL last), ties to the
    smaller match_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("match_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", "sim", "rank")
    )


def _nearest(
    cands: Column, score, k: int = 1, descending: bool = False
) -> Column:
    """The in-row nearest pick over an array of candidate structs that
    carry an ``id`` field. Order contract:

    - rank by ``score(candidate)`` in the caller's direction under
      Spark's default order: NULL scores first when ascending, last
      when descending; NaN is the greatest double (NaN == NaN, and
      -0.0 == 0.0);
    - break ties by candidate id, ascending (an id of any orderable
      type — it is never negated).

    ``k == 1`` returns the picked id — one linear ``array_min`` over
    (score key, id) structs — or NULL for an empty array. ``k > 1``
    returns the array of up to ``k`` ids in rank order (``sort_array``
    plus ``slice``; ``[]`` for an empty array). Neither raises under
    ANSI. A descending key is the flat struct ``(score IS NULL, NOT
    isnan(score), -score, id)``, whose ascending order is the
    descending score order. It is built from an already-scored array
    because Spark shares no subexpression inside a lambda (the score
    would be evaluated three times), and kept flat because Spark sorts
    nested structs about twice as slowly. Pinned against reference
    window and join formulations by
    tests/test_operators.py::test_ivf_assign_matches_window_formulation
    and ::test_pq_encode_matches_join_formulation, and against a
    model of this contract by ::test_nearest_pick_order_contract.
    """
    keys = F.transform(
        cands, lambda c: F.struct(score(c).alias("s"), c["id"].alias("id"))
    )
    if descending:
        keys = F.transform(
            keys,
            lambda x: F.struct(
                x["s"].isNull(), ~F.isnan(x["s"]), -x["s"], x["id"].alias("id")
            ),
        )
    if k == 1:
        return F.array_min(keys)["id"]
    return F.slice(F.sort_array(keys), 1, k)["id"]


def _collect_row(df: DataFrame, name: str) -> DataFrame:
    """Collapse a small candidate table (centroids, a codebook) into
    ONE row holding the array ``name`` of its rows as structs — the
    single-row broadcast every in-row :func:`_nearest` pick reads. One
    task collects it (``coalesce(1)``: no shuffle). The collected
    order is irrelevant: the pick is a total order."""
    return df.coalesce(1).agg(
        F.collect_list(F.struct(*df.columns)).alias(name)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    round_digits: int | None = 6,
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Exact cosine top-k per query (broadcast brute force).

    Output: (query_id, match_id, sim) with deterministic ordering:
    rounded sim DESC, match_id ASC. Self-matches excluded.

    ``max_queries`` enforces the "query sets are small by definition"
    contract the broadcast relies on: a corpus-sized query frame fails
    loudly instead of silently exploding the cross join to corpus ×
    corpus. The guard is LAZY — a map-side partial count of the query
    frame cross-joined back as one broadcast row, with the raise
    fused into the plan-consumed ``query_id`` column (the Catalyst
    column-pruning lesson) — so constructing this operator runs no
    Spark job; the count branch re-reads the query lineage but fully
    column-pruned, inside the same job. Round 8 shipped this as an eager
    ``limit(n+1).count()`` at construction time, which re-executed the
    query lineage and added a whole job per call (measured: the
    q_retrieval_eval bench outlier). ``max_queries=None`` skips the
    guard entirely. For genuinely large query sets use
    ``lsh_topk``/``ivf_topk`` (all-distributed), or raise
    ``max_queries`` explicitly.
    """
    if max_queries is not None:
        qcnt = queries.groupBy().agg(
            F.count(F.lit(1)).alias("__n_queries")
        )
        guarded_id = F.when(
            F.col("__n_queries") <= F.lit(max_queries), F.col(id_col)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("query set exceeds max_queries="),
                    F.lit(str(max_queries)),
                    F.lit(" (n="),
                    F.col("__n_queries").cast("string"),
                    F.lit(
                        "); the broadcast brute-force path cross-joins "
                        "the corpus against the query set - use "
                        "lsh_topk/ivf_topk for corpus-scale query sets "
                        "or raise max_queries explicitly"
                    ),
                )
            )
        )
        queries = (
            queries.crossJoin(F.broadcast(qcnt))
            .withColumn(id_col, guarded_id)
            .drop("__n_queries")
        )
    c = with_norm(corpus, vec_col, "t_norm").select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("t_vec"),
        "t_norm",
    )
    q = with_norm(queries, vec_col, "q_norm").select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "q_norm",
    )
    sim = cosine(F.col("q_vec"), F.col("t_vec"), F.col("q_norm"), F.col("t_norm"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    pairs = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id", sim.alias("sim"))
    )
    return _topk_per_query(pairs, k)


def _plane_component(table: int, bit: Column, dim: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5).

    Derived from an md5 digest so it is reproducible across runs and
    engines without a seed exchange: take 6 hex digits → 24-bit int →
    scale. (conv() stays exact: 24 bits << 2^53.)
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(table), bit, dim)), 1, 6
        ),
        16,
        10,
    ).cast("long")
    return h / F.lit(float(1 << 24)) - F.lit(0.5)


def lsh_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int = 8,
    table: int = 0,
) -> DataFrame:
    """Random-hyperplane LSH signature per vector → (id, sig string).

    sign(v · plane_b) per bit b, packed into a bit string. Vectors close
    in cosine angle collide with high probability; the signature is an
    equi-joinable bucket key.
    """
    # NOTE: the per-bit plane must come from a factory function, not a
    # default-arg lambda (``lambda d, b=b``): pyspark passes (element,
    # index) to TWO-parameter lambdas, so the default would be silently
    # overwritten with the array index — every bit then hashes against
    # the same effective plane and the signature degenerates to one bit
    # repeated n times (two giant buckets: candidate sets half the
    # corpus, the 100 TB blow-up this operator exists to avoid).
    def _plane(b: int):
        return F.transform(
            F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1),
            lambda d: _plane_component(table, F.lit(b), d),
        )

    bits = []
    for b in range(n_bits):
        plane = _plane(b)
        dot = F.aggregate(
            F.zip_with(
                F.transform(F.col(vec_col), lambda x: x.cast("double")),
                plane,
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select(
        F.col(id_col).alias("id"), F.concat(*bits).alias("bucket")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 1,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine, restricted to same-bucket pairs.

    One equi-join per LSH table replaces the cross join — this is the
    100 TB shape. Recall compounds across independent tables
    (``1 - (1-p)^n_tables``): each table uses a different deterministic
    hyperplane seed, candidate pairs union + dedup before the (exact)
    verify, so cost grows linearly in tables while misses decay
    geometrically. ``multiprobe=1`` additionally probes, per table,
    every bucket at Hamming distance 1 from the query's signature
    (flip each bit) — near neighbors that land one plane-sign away are
    recovered at the cost of ``n_bits`` extra QUERY-side rows per
    table, never extra corpus rows: the standard multi-probe trade
    that buys table-count-like recall without re-hashing the corpus.
    Measured on the sf0.01 embeddings fixture at ``n_bits=4``,
    multiprobe=1: recall@5 0.50 (1 table) → 0.62 (2) → 0.84 (4)
    (tests/test_ann_recall.py pins the floor).
    """
    cands = None
    for t in range(n_tables):
        c_sig = lsh_signatures(
            corpus, id_col, vec_col, n_bits, table=t
        ).withColumnRenamed("id", "match_id")
        q_sig = lsh_signatures(
            queries, id_col, vec_col, n_bits, table=t
        ).withColumnRenamed("id", "query_id")
        if multiprobe >= 1:
            flips = [
                F.concat(
                    F.substring("bucket", 1, i),
                    F.when(
                        F.substring("bucket", i + 1, 1) == "1", F.lit("0")
                    ).otherwise(F.lit("1")),
                    F.substring("bucket", i + 2, n_bits - i - 1),
                )
                for i in range(n_bits)
            ]
            q_sig = q_sig.select(
                "query_id",
                F.explode(
                    F.array(F.col("bucket"), *flips)
                ).alias("bucket"),
            )
        p = c_sig.join(q_sig, "bucket").select("query_id", "match_id")
        cands = p if cands is None else cands.unionByName(p)
    cands = cands.where(F.col("query_id") != F.col("match_id")).distinct()
    c = with_norm(corpus, vec_col, "t_norm").select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("t_vec"), "t_norm"
    )
    q = with_norm(queries, vec_col, "q_norm").select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "q_norm"
    )
    sim = F.round(
        cosine(F.col("q_vec"), F.col("t_vec"), F.col("q_norm"), F.col("t_norm")), 6
    )
    pairs = (
        cands.join(c, "match_id")
        .join(q, "query_id")
        .select("query_id", "match_id", sim.alias("sim"))
    )
    return _topk_per_query(pairs, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-bucketed scale path
# ---------------------------------------------------------------------------

def ivf_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int = 16
) -> DataFrame:
    """Deterministic centroid set: the first ``n_centroids`` corpus
    vectors by id. A KMeans fit would tighten the partition quality; the
    IVF *join shape* — the thing that matters at scale — is identical,
    and seeded selection keeps the operator fully deterministic and
    dependency-free.
    """
    return (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("c_vec"),
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    n_iters: int = 3,
    deterministic: bool = False,
) -> DataFrame:
    """Deterministic Lloyd-refined centroids → (centroid_id, c_vec).

    Seeds from ``ivf_centroids`` (first-N by id — deterministic), then
    runs ``n_iters`` distributed Lloyd steps: assign every vector to its
    nearest centroid (broadcast centroids, corpus never shuffles for
    assignment), recompute each centroid as the element-wise mean of its
    members (posexplode → per-(centroid, dim) avg → re-pack). Each step
    is two shuffles over (centroid, dim) pairs — tiny relative to the
    corpus — and the centroid frame is checkpointed per iteration so the
    lineage stays flat. A centroid that loses all members keeps its
    previous vector (left-join + coalesce), so the centroid count is
    stable. Measured on the sf0.01 embeddings fixture: bucket sizes
    tighten to 23–38 (vs first-N seeding) and recall@5 at nprobe=8
    rises 0.70 → 0.84.

    ``deterministic=True`` computes each per-(centroid, dim) mean as a
    left fold over the member-id-sorted value list instead of ``F.avg``
    — partition-order-free, so the whole training replays bit-for-bit
    in a DuckDB oracle (the q_ivf_topk unrolled-CTE recipe). Scale
    note: the fold collects each centroid's member column; production
    keeps the default partial-aggregated ``F.avg``.
    """
    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids).select(
        "centroid_id",
        F.transform("c_vec", lambda x: x.cast("double")).alias("c_vec"),
    )
    # Assignment is map-only, so the member vectors ride in-row.
    vsrc = with_norm(
        corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("__vec")
        ),
        "__vec",
        "__n",
    )
    def lloyd(cents: DataFrame) -> DataFrame:
        members = _assign_centroids(
            vsrc, cents, nprobe=1, vec_col="__vec", norm_col="__n"
        )
        return _lloyd_update(
            cents, members, ["centroid_id"], "__vec", deterministic
        )

    cents, _ = iterate(
        cents, lloyd, n_iters, name="kmeans_centroids", fans_out=True
    )
    return cents


def _lloyd_update(
    cents: DataFrame,
    members: DataFrame,
    key: "list[str]",
    vec_col: str,
    deterministic: bool,
) -> DataFrame:
    """One Lloyd mean step, shared by :func:`kmeans_centroids` (keyed
    by ``centroid_id``) and :func:`pq_train` (keyed by ``(sub,
    code_id)``): each centroid of ``cents`` (``*key, c_vec``) becomes
    the element-wise mean of its ``members``' ``vec_col`` (``members``
    carries ``*key, id, vec_col``) — posexplode, then the per-(key,
    pos) mean (``_fold_mean`` over the member-id-sorted values when
    ``deterministic``, else ``F.avg``), then re-pack by pos. A
    centroid with no members keeps its vector (left join + coalesce),
    so the centroid set's shape is stable. The next round's assignment
    and its update both read the result, so the training loops cut it
    eagerly (``iterate(fans_out=True)``)."""
    val = F.col("val").cast("double")
    mean = (
        _sorted_fold(F.col("id"), val) / F.count(F.lit(1))
        if deterministic else F.avg(val)
    )
    means = (
        members.select(*key, "id", F.posexplode(vec_col).alias("pos", "val"))
        .groupBy(*key, "pos")
        .agg(mean.alias("m"))
        .groupBy(*key)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
        .select(*key, F.transform("s", lambda x: x["m"]).alias("new_vec"))
    )
    return (
        cents.join(means, key, "left")
        .select(*key, F.coalesce("new_vec", "c_vec").alias("c_vec"))
    )


def _assign_centroids(
    v: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    vec_col: str = "__v",
    norm_col: str = "__vn",
) -> DataFrame:
    """Map-only centroid assignment: ``v`` with a ``centroid_id``
    column appended — one row per each of the vector's ``nprobe``
    nearest centroids by cosine (:func:`_nearest`, descending, ties to
    the smaller centroid id) — while every input column passes
    through. The centroid table is collapsed into one broadcast row
    (:func:`_collect_row`), so the corpus side never shuffles. An
    empty centroid table assigns nothing (no rows)."""
    carr = _collect_row(
        with_norm(centroids, "c_vec", "cn").select(
            F.col("centroid_id").alias("id"), "c_vec", "cn"
        ),
        "__cents",
    )
    pick = _nearest(
        F.col("__cents"),
        lambda c: cosine(
            F.col(vec_col), c["c_vec"], F.col(norm_col), c["cn"]
        ),
        k=nprobe,
        descending=True,
    )
    out_cols = list(v.columns)
    both = v.crossJoin(F.broadcast(carr))
    if nprobe == 1:
        return both.where(F.size("__cents") > 0).select(
            *out_cols, pick.alias("centroid_id")
        )
    return both.select(*out_cols, F.explode(pick).alias("centroid_id"))


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids → (id,
    centroid_id) rows. Centroids broadcast (as ONE collected array
    row); the corpus never shuffles for assignment — the per-id
    ranking is an in-row pick, so assignment is a pure map stage (see
    :func:`_assign_centroids`). nprobe=1 for indexing, >1 for
    query-side probing.
    """
    v = with_norm(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v")),
        "__v",
        "__vn",
    )
    return _assign_centroids(v, centroids, nprobe).select(
        "id", "centroid_id"
    )


def two_level_router(
    centroids: DataFrame,
    n_coarse: "int | None" = None,
    coarse_iters: int = 2,
    deterministic: bool = False,
) -> "tuple[DataFrame, DataFrame]":
    """Build the coarse level for :func:`ivf_assign_two_level` ONCE at
    index time → ``(coarse, routing)``: the ``n_coarse`` (default ≈
    √k) Lloyd-refined group centroids over the k-row centroid table,
    and each centroid's single group membership. Both frames are
    k-bounded and eagerly checkpointed — reusing them across assign
    calls costs nothing."""
    cents = centroids.localCheckpoint(eager=True)
    if n_coarse is None:
        import math

        n_coarse = max(2, math.isqrt(cents.count()))
    coarse = kmeans_centroids(
        cents, "centroid_id", "c_vec", n_coarse, n_iters=coarse_iters,
        deterministic=deterministic,
    ).select(
        F.col("centroid_id").alias("coarse_id"),
        F.col("c_vec").alias("g_vec"),
    ).localCheckpoint(eager=True)
    # centroid -> its ONE coarse group (k rows, trivially broadcast)
    routing = (
        ivf_assign(
            cents.select(
                F.col("centroid_id").alias("cid"),
                F.col("c_vec").alias("vec"),
            ),
            "cid",
            "vec",
            coarse.select(
                F.col("coarse_id").alias("centroid_id"),
                F.col("g_vec").alias("c_vec"),
            ),
            nprobe=1,
        )
        .select(F.col("id").alias("centroid_id"),
                F.col("centroid_id").alias("coarse_id"))
        .localCheckpoint(eager=True)
    )
    return coarse, routing


def ivf_assign_two_level(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    nprobe: int = 1,
    n_coarse: "int | None" = None,
    coarse_probe: int = 2,
    coarse_iters: int = 2,
    deterministic: bool = False,
    router: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """IMI-style two-level assignment → (id, centroid_id): cluster the
    k centroids themselves into ``n_coarse`` groups (default ≈ √k —
    a TINY k-row k-means), route each vector to its ``coarse_probe``
    nearest groups, then rank only the centroids inside the probed
    groups. Pass a prebuilt ``router`` (from
    :func:`two_level_router`, checkpointed once at INDEX time) when
    assigning repeatedly — rebuilding the coarse level per call costs
    a few fixed Spark jobs that dwarf the saving at small n.

    This is the scale fix for brute-force :func:`ivf_assign`'s O(n·k)
    cost, which under the k ≈ √n index sizing rule makes assignment
    O(n^1.5) (measured: 1.2s→10.1s for 3.3× data in PERF.md
    round-10). Two-level cost is O(n·(√k + coarse_probe·√k)) =
    O(n·√k); approximate — a vector whose true nearest centroid sits
    in an unprobed coarse group gets its best PROBED centroid —
    with ``coarse_probe`` the recall lever, and it degenerates to the
    exact result (tie-breaks included) when ``coarse_probe >=
    n_coarse`` (pinned by test). Same output contract as
    :func:`ivf_assign`."""
    if nprobe < 1 or coarse_probe < 1:
        raise ValueError(
            f"nprobe/coarse_probe must be >= 1; got {nprobe}/{coarse_probe}"
        )
    cents = centroids.localCheckpoint(eager=True)
    if router is None:
        router = two_level_router(
            cents, n_coarse=n_coarse, coarse_iters=coarse_iters,
            deterministic=deterministic,
        )
    coarse, routing = router
    # vector -> coarse_probe nearest groups (n x n_coarse, not n x k)
    v_groups = ivf_assign(
        df, id_col, vec_col,
        coarse.select(
            F.col("coarse_id").alias("centroid_id"),
            F.col("g_vec").alias("c_vec"),
        ),
        nprobe=coarse_probe,
    ).select("id", F.col("centroid_id").alias("coarse_id"))
    # rank only the centroids inside the probed groups
    cand = with_norm(
        cents.join(F.broadcast(routing), "centroid_id")
        .withColumnRenamed("c_vec", "__cv"),
        "__cv", "__cn",
    )
    v = with_norm(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v")),
        "__v", "__vn",
    ).join(v_groups, "id")
    sim = cosine(F.col("__v"), F.col("__cv"), F.col("__vn"), F.col("__cn"))
    scored = v.join(F.broadcast(cand), "coarse_id").select(
        "id", "centroid_id", sim.alias("__sim")
    )
    w = Window.partitionBy("id").orderBy(
        F.col("__sim").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= nprobe)
        .select("id", "centroid_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 0,
    deterministic_train: bool = False,
) -> DataFrame:
    """IVF approximate top-k: exact cosine restricted to vectors whose
    centroid is among the query's ``nprobe`` nearest centroids.

    Scale shape: one equi-join on centroid_id replaces the cross join —
    each query touches ~nprobe/n_centroids of the corpus. Recall is
    tunable via nprobe (nprobe == n_centroids degenerates to exact) and
    via ``kmeans_iters`` Lloyd refinements of the centroid set
    (``kmeans_centroids``; 0 keeps the raw first-N seed). At cluster
    scale the centroid build runs once at index time and is reused
    across queries.
    """
    if kmeans_iters > 0:
        cents = kmeans_centroids(
            corpus, id_col, vec_col, n_centroids, n_iters=kmeans_iters,
            deterministic=deterministic_train,
        )
    else:
        cents = ivf_centroids(corpus, id_col, vec_col, n_centroids)
    # Map-only assignment keeps the vectors in-row on both sides.
    c = _assign_centroids(
        with_norm(corpus, vec_col, "t_norm").select(
            F.col(id_col).alias("match_id"),
            F.col(vec_col).alias("t_vec"),
            "t_norm",
        ),
        cents, nprobe=1, vec_col="t_vec", norm_col="t_norm",
    )
    return _ivf_scored(
        c, _ivf_probes(queries, id_col, vec_col, cents, nprobe), k
    )


def _ivf_probes(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cents: DataFrame,
    nprobe: int,
) -> DataFrame:
    """The query side of an IVF search → (query_id, q_vec, q_norm,
    centroid_id): one row per query and each of its ``nprobe`` nearest
    cells, the query vector riding in-row (:func:`_assign_centroids`)."""
    return _assign_centroids(
        with_norm(queries, vec_col, "q_norm").select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            "q_norm",
        ),
        cents, nprobe=nprobe, vec_col="q_vec", norm_col="q_norm",
    )


def _ivf_scored(cells: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k within the probed cells: the stored ``cells``
    (match_id, centroid_id, t_vec, t_norm) meet the ``probes`` of
    :func:`_ivf_probes` on centroid_id, self-pairs excluded. Shared by
    :func:`ivf_topk` and ``IvfIndex.search``."""
    sim = F.round(
        cosine(F.col("q_vec"), F.col("t_vec"), F.col("q_norm"), F.col("t_norm")), 6
    )
    pairs = (
        cells.join(probes, "centroid_id")
        .where(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id", sim.alias("sim"))
        .distinct()  # a pair can meet via several probed centroids
    )
    return _topk_per_query(pairs, k)


def recall_at_k(exact: DataFrame, approx: DataFrame) -> float:
    """Fraction of the exact top-k pairs the approximate index found.

    Both inputs carry (query_id, match_id) — the output contract of
    ``cosine_topk``/``lsh_topk``/``ivf_topk``. This is the tuning
    metric for ``n_bits``/``n_tables``/``nprobe``: a user turning those
    knobs measures the recall cost of the speedup directly
    (tests/test_ann_recall.py pins floors for the shipped defaults).
    """
    truth = exact.select("query_id", "match_id")
    n = truth.count()
    if n == 0:
        return 1.0
    hit = truth.join(
        approx.select("query_id", "match_id"),
        ["query_id", "match_id"],
        "left_semi",
    ).count()
    return hit / n


# ---------------------------------------------------------------------------
# Vectorized (Arrow/numpy) brute-force path
# ---------------------------------------------------------------------------

def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    round_digits: int = 6,
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k via an Arrow-batched numpy matmul.

    Same contract as ``cosine_topk`` (this is the "UDFs are the slow
    path — but when you must, vectorize" case: one BLAS matmul per
    Arrow batch replaces millions of interpreted expression evals).

    Scale design: the query matrix is collected once (query sets are
    small by definition) and shipped inside the closure; each corpus
    partition emits only its LOCAL top-k per query (partial top-k), so
    the final shuffle carries ≤ partitions × queries × k rows — not the
    full pair matrix. A final window takes the global top-k.

    ``max_queries`` enforces the "small by definition" contract: the
    collect is bounded by LIMIT (never the full frame), and passing a
    corpus-sized query set raises instead of silently OOMing the
    driver. For genuinely large query sets use ``lsh_topk``/``ivf_topk``
    (all-distributed) instead.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"query set exceeds max_queries={max_queries}; the broadcast "
            "brute-force path collects queries to the driver — use "
            "lsh_topk/ivf_topk for corpus-scale query sets or raise "
            "max_queries explicitly"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    # Zero-norm floor: a padding (all-zero) query must score 0 against
    # everything, not NaN (NaN sorts above every double in Spark).
    q_mat = q_mat / np.maximum(
        np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12
    )

    out_schema = "query_id long, match_id long, sim double"

    def topk_partition(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack(pdf[vec_col].map(np.asarray).to_list()).astype(
                np.float64
            )
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            sims = mat @ q_mat.T  # (batch, queries)
            for qi, qid in enumerate(q_ids):
                col = sims[:, qi]
                mask = ids != qid  # exclude self-match
                cand_ids = ids[mask]
                cand_sims = col[mask]
                if cand_ids.size == 0:
                    continue
                take = min(k, cand_ids.size)
                part = np.argpartition(-cand_sims, take - 1)[:take]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "match_id": cand_ids[part],
                        "sim": np.round(cand_sims[part], round_digits),
                    }
                )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        topk_partition, schema=out_schema
    )
    return _topk_per_query(partial, k)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression leg)
# ---------------------------------------------------------------------------

def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two equal-length arrays (JVM fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _unit(df: DataFrame, vec_col: str) -> DataFrame:
    """Replace ``vec_col`` with its unit-normalized double form (so a
    subvector dot-product sum reconstructs COSINE similarity).

    The norm is floored at a tiny epsilon: an all-zero embedding keeps
    its zero components instead of becoming NaN subvectors that would
    poison ``pq_train`` centroid means and make ADC top-k ordering
    unpredictable (mirrors the explicit scale==0 guard in
    :func:`quantize_embeddings`).
    """
    withn = with_norm(
        df.withColumn(
            vec_col, F.transform(vec_col, lambda x: x.cast("double"))
        ),
        vec_col,
        "__n",
    )
    safe_n = F.greatest(F.col("__n"), F.lit(1e-12))
    return withn.withColumn(
        vec_col,
        F.transform(vec_col, lambda x: x / safe_n),
    ).drop("__n")


def _sub_slices(vec_col: str, m: int, subdim: int):
    """Array of (sub, slice) structs — one per subspace."""
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col(vec_col), s * subdim + 1, subdim).alias("sv"),
            )
            for s in range(m)
        ]
    )


def _book_row(codebook: DataFrame) -> DataFrame:
    """The (sub, code_id, c_vec) codebook as one broadcastable
    ``__book`` array row (:func:`_collect_row`)."""
    return _collect_row(
        codebook.select("sub", F.col("code_id").alias("id"), "c_vec"),
        "__book",
    )


def _code_of(sub: Column, sv: Column) -> Column:
    """The code id of subvector ``sv`` in subspace ``sub`` against the
    broadcast ``__book``: :func:`_nearest` ascending by squared L2
    distance, ties to the smaller code id. A NULL distance (a NULL
    vector, or one too short for this subspace — ``zip_with`` pads
    with NULL) sorts first, so such a subvector gets the smallest code
    id. A subspace missing from the codebook yields a NULL code."""
    return _nearest(
        F.filter(F.col("__book"), lambda b: b["sub"] == sub),
        lambda b: _l2sq(sv, b["c_vec"]),
    )


def _book_shape(codebook: DataFrame) -> "tuple[int, int]":
    """(m, subdim) of a (sub, code_id, c_vec) codebook, read in one
    Spark job (``coalesce(1)``: the aggregate needs no shuffle)."""
    m, subdim = codebook.coalesce(1).agg(
        F.max("sub") + 1, F.max(F.size("c_vec"))
    ).first()
    return m, subdim


def pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    n_codes: int = 16,
    n_iters: int = 2,
    train_fraction: float = 1.0,
    deterministic: bool = False,
) -> DataFrame:
    """Train a product-quantization codebook → (sub, code_id, c_vec).

    Vectors are unit-normalized, split into ``m`` contiguous
    subvectors, and each subspace gets its own ``n_codes``-centroid
    L2 k-means (deterministic first-N seeding + Lloyd refinement, in
    the metric PQ reconstruction needs). ALL subspaces train in one
    fused loop — centroids are keyed by (sub, code_id), assignment is
    one broadcast join, means one grouped aggregation — so the job
    count is O(n_iters), not O(m × n_iters), and the corpus-side work
    per iteration is a single pass over the exploded (id, sub,
    subvector) relation. The codebook is tiny (m × n_codes × subdim
    doubles) and broadcasts everywhere downstream. Dimension is probed
    from one row (driver action, training-time only).

    ``train_fraction`` < 1 trains on a deterministic hash-sampled
    subset (``pmod(xxhash64(id), 10^6) < frac·10^6`` — reproducible,
    no RNG state): codebook training then scans frac·|corpus| per
    Lloyd iteration while ``pq_encode`` still encodes the FULL corpus
    in its single pass. This is the 100 TB training path — k-means
    quality depends on sample coverage of the distribution, not corpus
    size, so a fixed-size sample trains a codebook of the same recall
    (pinned in tests/test_ann_recall.py) without n_iters full scans.

    ``deterministic=True``: per-(sub, code, dim) means fold over the
    member-id-sorted value list instead of ``F.avg`` — partition-
    order-free for DuckDB oracle replay (see ``kmeans_centroids``).
    """
    dim = len(corpus.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if not 0.0 < train_fraction <= 1.0:
        raise ValueError(f"train_fraction must be in (0, 1]: {train_fraction}")
    subdim = dim // m
    if train_fraction < 1.0:
        corpus = corpus.where(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(1_000_000))
            < int(train_fraction * 1_000_000)
        )
    unit = _unit(corpus.select(id_col, vec_col), vec_col)
    sub_rows = unit.select(
        F.col(id_col).alias("id"),
        F.explode(_sub_slices(vec_col, m, subdim)).alias("__s"),
    ).select("id", F.col("__s.sub").alias("sub"), F.col("__s.sv").alias("sv"))

    # Seed: first n_codes vectors by id, per subspace (deterministic).
    # Cut lazily: the first read is pq_encode's shape read or the first
    # round's broadcast, before the other consumer.
    w_seed = Window.partitionBy("sub").orderBy(F.col("id").asc())
    cents = cut(
        sub_rows.withColumn("__rn", F.row_number().over(w_seed))
        .where(F.col("__rn") <= n_codes)
        .select(
            "sub", F.col("__rn").alias("code_id"), F.col("sv").alias("c_vec")
        )
    )
    def lloyd(cents: DataFrame) -> DataFrame:
        # In-row assignment: sv rides in-row, so only the means
        # aggregate shuffles.
        assigned = sub_rows.crossJoin(F.broadcast(_book_row(cents))).select(
            "id", "sub", "sv",
            _code_of(F.col("sub"), F.col("sv")).alias("code_id"),
        )
        return _lloyd_update(
            cents, assigned, ["sub", "code_id"], "sv", deterministic
        )

    cents, _ = iterate(cents, lloyd, n_iters, name="pq_train", fans_out=True)
    return cents


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    keep: "tuple[str, ...]" = (),
) -> DataFrame:
    """Encode each vector as ``m`` code ids → (id, codes array<int>,
    *keep) — ``keep`` columns ride through the map stage unchanged
    (encoding is in-row, so passthrough costs nothing; the PQ index's
    encode path composes assignment + encoding without a join).

    The 100 TB point of PQ: after this one pass the corpus's search
    representation is m small ints per row (64-dim float64 → 8 bytes at
    the defaults, 64× smaller), so the ANN scan reads codes, never
    vectors. The codebook collapses into ONE collected row broadcast
    to every task, and each vector's m codes are an in-row
    ``transform`` over its subvector slices (:func:`_code_of`), so
    encoding is a pure map stage. The codebook's shape is read in one
    job (:func:`_book_shape`).
    """
    m, subdim = _book_shape(codebook)
    unit = _unit(corpus.select(id_col, vec_col, *keep), vec_col)
    slices = _sub_slices(vec_col, m, subdim)
    codes = F.transform(slices, lambda s: _code_of(s["sub"], s["sv"]))
    return unit.crossJoin(F.broadcast(_book_row(codebook))).select(
        F.col(id_col).alias("id"), codes.alias("codes"), *keep
    )


def _adc_lut(
    queries: DataFrame, codebook: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-query ADC lookup table → (query_id, sub, code_id, part)
    where part = dot(query subvector, code centroid). Bounded:
    queries × m × n_codes rows."""
    m, subdim = _book_shape(codebook)
    q = _unit(
        queries.select(F.col(id_col).alias("query_id"), vec_col), vec_col
    )
    q_subs = q.select(
        "query_id", F.explode(_sub_slices(vec_col, m, subdim)).alias("__s")
    ).select(
        "query_id", F.col("__s.sub").alias("sub"), F.col("__s.sv").alias("qv")
    )
    return q_subs.join(F.broadcast(codebook), "sub").select(
        "query_id",
        "sub",
        "code_id",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("c_vec"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("part"),
    )


def pq_topk(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: approximate cosine from codes.

    Unit-normalized vectors make cosine decompose over subvectors:
    ``cos(q, x) = Σ_s dot(q_s, x_s) ≈ Σ_s LUT[s, code(x, s)]`` where
    ``LUT[s, c] = dot(q_s, codebook[s, c])``. The LUT relation is
    queries × m × n_codes rows — bounded, broadcast — so the scan side
    touches ONLY the (id, sub, code) explosion of the code table:
    per-candidate cost is m lookup-adds, no vector math, no corpus
    vectors read. Compose with ``ivf_assign`` bucketing to prune the
    candidate set at real scale (IVF-PQ).

    Output: (query_id, match_id, sim, rank) — same contract as
    ``cosine_topk`` but sim is the ADC approximation.
    """
    lut = _adc_lut(queries, codebook, id_col, vec_col)
    cand = codes.select(
        F.col("id").alias("match_id"),
        F.posexplode("codes").alias("sub", "code_id"),
    )
    scored = (
        cand.join(F.broadcast(lut), ["sub", "code_id"])
        .groupBy("query_id", "match_id")
        .agg(F.round(F.sum("part"), 6).alias("sim"))
        .where(F.col("query_id") != F.col("match_id"))
    )
    return _topk_per_query(scored, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 32,
    n_codes: int = 32,
    kmeans_iters: int = 3,
    pq_iters: int = 2,
    deterministic_train: bool = False,
) -> DataFrame:
    """IVF-PQ: the composed 100 TB ANN shape — coarse centroids prune
    the candidate set (each query scans only its ``nprobe`` buckets)
    and product-quantization codes make the per-candidate cost m
    lookup-adds with NO corpus-vector reads at query time.

    Index side (run once, reuse): coarse Lloyd centroids
    (``kmeans_centroids``), one bucket id per vector (``ivf_assign``
    nprobe=1), PQ codebook + codes (``pq_train``/``pq_encode``).
    Query side: probe ``nprobe`` buckets, equi-join bucket members'
    CODES (never vectors), ADC-score, top-k. Every join is either
    broadcast (centroids, codebook, LUT, probes) or an equi-join on
    the bucket id — no cross join anywhere.

    Output: (query_id, match_id, sim, rank) — ``cosine_topk``'s
    contract with ADC-approximate sim.
    """
    cents = kmeans_centroids(
        corpus, id_col, vec_col, n_centroids=n_centroids,
        n_iters=kmeans_iters, deterministic=deterministic_train,
    )
    buckets = ivf_assign(corpus, id_col, vec_col, cents, nprobe=1)
    book = pq_train(
        corpus, id_col, vec_col, m=m, n_codes=n_codes, n_iters=pq_iters,
        deterministic=deterministic_train,
    )
    codes = pq_encode(corpus, book, id_col, vec_col).join(buckets, "id")

    probes = _ivf_probes(queries, id_col, vec_col, cents, nprobe)
    return _adc_scored(codes, probes, queries, book, id_col, vec_col, k)


def _adc_scored(
    codes: DataFrame,
    probes: DataFrame,
    queries: DataFrame,
    book: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """ADC top-k within the probed cells: the stored ``codes`` (id,
    centroid_id, codes) meet the ``probes`` (query_id, centroid_id) and
    are scored against each query's lookup table over ``book``
    (:func:`_adc_lut`), self-pairs excluded. Shared by
    :func:`ivfpq_topk` and ``IvfPqIndex.search``."""
    lut = _adc_lut(queries, book, id_col, vec_col)
    cand = (
        codes.join(
            F.broadcast(probes.select("query_id", "centroid_id")),
            "centroid_id",
        )
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("match_id"),
            F.posexplode("codes").alias("sub", "code_id"),
        )
    )
    # no pair-dedup needed: each stored id lives in exactly ONE cell
    # (nprobe=1 on the corpus side), so a (query, match) pair meets at
    # most once however many cells the query probes
    scored = (
        cand.join(F.broadcast(lut), ["query_id", "sub", "code_id"])
        .groupBy("query_id", "match_id")
        .agg(F.round(F.sum("part"), 6).alias("sim"))
    )
    return _topk_per_query(scored, k)


# ---------------------------------------------------------------------------
# Embedding storage quantization (int8 with per-vector scale)
# ---------------------------------------------------------------------------

def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Symmetric int8 quantization with a per-vector scale →
    (id, scale, codes array<int>): ``code = round(x / scale)``,
    ``scale = max|x| / 127`` — the standard storage form for large
    embedding lakes (4-8× smaller than float32/64, reconstruction
    error ≤ scale/2 per component).

    Pure per-row array arithmetic: zero shuffle, and — unlike the PQ
    codes — exactly reproducible in ANSI SQL, so this operator gets a
    full value-level oracle check. All-zero vectors quantize to zero
    codes with scale 0 (guarded division).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = amax / F.lit(127.0)
    safe = F.when(scale == 0.0, F.lit(1.0)).otherwise(scale)
    codes = F.transform(v, lambda x: F.round(x / safe, 0).cast("int"))
    return df.select(
        F.col(id_col).alias("id"),
        F.round(scale, 12).alias("scale"),
        codes.alias("codes"),
    )


def dequantize_embeddings(
    codes_df: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` → (id, vec array<double>)
    with per-component error ≤ scale/2."""
    return codes_df.select(
        F.col(id_col),
        F.transform(
            F.col("codes"), lambda c: c.cast("double") * F.col("scale")
        ).alias("vec"),
    )


def _split_hot_cells(
    v: DataFrame, max_cell_size: int, nprobe: int
) -> DataFrame:
    """Second clustering level for :func:`semantic_dedup`'s hot cells:
    → (centroid_id, sub_id, id, vec, nrm) where cells at or under
    ``max_cell_size`` keep ``sub_id = 0`` and larger cells split into
    ``ceil(|cell| / max_cell_size)`` nearest-seed sub-cells.

    Every stage is bounded or embarrassingly parallel: per-cell counts
    are one map-side-partial aggregate; seeds are argmin-id members
    per (cell, hash-bucket) — another aggregate, so no sort or window
    ever touches a hot cell as one partition; seed assignment
    broadcasts the (Σ ceil(|cell|/bound))-row seed table and ranks per
    VECTOR (a high-cardinality window key — thousands of tiny sorted
    groups per task, never one task per cell). Multi-probe (``nprobe``
    nearest seeds) recovers sub-boundary pairs exactly like the
    top-level cell-boundary recovery.
    """
    if max_cell_size < 2:
        raise ValueError(
            f"max_cell_size must be >= 2; got {max_cell_size}"
        )
    ksub = (
        v.groupBy("centroid_id")
        .agg(F.count("*").alias("__n"))
        .select(
            "centroid_id",
            F.ceil(F.col("__n") / F.lit(float(max_cell_size)))
            .cast("int")
            .alias("__k"),
        )
    )
    vk = v.join(F.broadcast(ksub), "centroid_id")
    cool = vk.where(F.col("__k") <= 1).select(
        "centroid_id", F.lit(0).alias("sub_id"), "id", "vec", "nrm"
    )
    hot = vk.where(F.col("__k") > 1)
    seeds = with_norm(
        hot.select(
            "centroid_id",
            F.pmod(F.hash("id"), F.col("__k")).alias("__b"),
            "id",
            "vec",
        )
        .groupBy("centroid_id", "__b")
        .agg(F.min_by("vec", "id").alias("__svec")),
        "__svec",
        "__sn",
    )
    scored = hot.join(F.broadcast(seeds), "centroid_id").select(
        "centroid_id", "id", "vec", "nrm", "__b",
        cosine(
            F.col("vec"), F.col("__svec"), F.col("nrm"), F.col("__sn")
        ).alias("__sim"),
    )
    w = Window.partitionBy("centroid_id", "id").orderBy(
        F.col("__sim").desc(), F.col("__b").asc()
    )
    assigned = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= nprobe)
        .select(
            "centroid_id", F.col("__b").alias("sub_id"),
            "id", "vec", "nrm",
        )
    )
    return cool.unionByName(assigned)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_centroids: int = 16,
    kmeans_iters: int = 3,
    sim_threshold: float = 0.95,
    deterministic_train: bool = False,
    assign_nprobe: int = 1,
    max_cell_size: "int | None" = None,
    train_modulus: int = 1,
    assign_two_level: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space semantic
    deduplication → ``(id, centroid_id, keep)`` — cluster the corpus
    into k-means cells, compare pairs ONLY within each cell, and keep
    one representative (min id) per near-duplicate component. The
    modern LLM-curation companion to MinHash: catches paraphrases and
    re-encodings that share no n-grams.

    Scale design is the paper's own: the cell assignment makes the
    quadratic comparison local — work is Σ_cells |cell|², never
    |corpus|², and each cell's pair join is an equi-join on
    centroid_id. Cells are balanced by Lloyd refinement
    (``kmeans_centroids``); a pathologically hot cell is the k-means
    analogue of join skew and is AQE's to split. Cross-cell near-dups
    are missed by construction — the paper's documented approximation;
    raise ``n_centroids`` for finer cells (cheaper pairs, more misses)
    or lower it toward 1 (exact, quadratic).

    ``assign_nprobe > 1`` multi-assigns each vector to its nprobe
    nearest centroids for PAIR GENERATION (the reported
    ``centroid_id`` stays the primary cell): a near-dup pair split by
    a cell boundary still meets in any shared probe cell, recovering
    most boundary misses at ~nprobe× the pair work — the measured
    recall/cost trade lives in ``tests/test_semdedup_recall.py`` and
    FIXTURES.md §"SemDeDup recall (measured)". A pair sharing several
    probe cells yields duplicate edges; ``connected_components`` is
    multi-edge-tolerant, so duplicates cost a little sim arithmetic,
    never correctness.

    ``sim_threshold`` gates on the 6-dp-rounded cosine (engine-exact);
    components within a cell collapse transitively (the near-dup
    clusters recipe) and ``keep`` marks ``id == min(component)`` —
    singletons keep trivially. ``deterministic_train=True`` makes the
    whole pipeline (training included) bit-replayable by a SQL oracle.

    ``max_cell_size`` (round-10 verdict item 7) bounds the quadratic
    hot-cell channel the k-means imbalance opens at scale (the
    measured Σ|cell|² excess in PERF.md): cells above the bound are
    SPLIT before the pair join by a second clustering level — one
    deterministic seed member per ceil(|cell|/bound) hash bucket
    (argmin-id, a bounded aggregate: no sort, no window over the
    cell), members assigned to their ``assign_nprobe`` nearest seeds
    (multi-probe at the sub-level too, so boundary recall matches the
    top level), and the pair join keyed on (centroid_id, sub_id).
    Pair work per split cell drops from |cell|² to ~Σ|sub|²; sub-cell
    boundary misses mirror the paper's cell-boundary approximation and
    are recovered the same way (nprobe ≥ 2). ``None`` (default, and
    the oracle fixture's setting) keeps single-level cells.

    ``train_modulus > 1`` trains the Lloyd centroids on the
    deterministic 1/modulus subsample ``xxhash64(id) % modulus == 0``
    (standard IVF practice — training needs a representative sample,
    not the corpus; brute-force Lloyd on the full corpus is O(n·k)
    PER ITERATION, which with the k ≈ √n sizing rule is O(n^1.5)
    training for zero recall benefit). Assignment still covers every
    vector. Only meaningful with ``kmeans_iters > 0``.

    ``assign_two_level=True`` routes the final corpus→cell assignment
    through :func:`ivf_assign_two_level` (one prebuilt √k-group
    router) — O(n·√k) instead of O(n·k), measured 4.25× at 200k×320
    (PERF.md round-10); approximate at the cell-boundary margin, the
    same miss class ``assign_nprobe`` already governs.
    """
    from nextbus2pg_spark.operators.components import connected_components

    if train_modulus < 1:
        raise ValueError(f"train_modulus must be >= 1; got {train_modulus}")
    train_src = corpus
    if train_modulus > 1:
        train_src = corpus.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(train_modulus)) == 0
        )
    if kmeans_iters > 0:
        cents = kmeans_centroids(
            train_src, id_col, vec_col, n_centroids, n_iters=kmeans_iters,
            deterministic=deterministic_train,
        )
    else:
        cents = ivf_centroids(train_src, id_col, vec_col, n_centroids)
    if assign_nprobe < 1:
        raise ValueError(f"assign_nprobe must be >= 1; got {assign_nprobe}")
    if assign_two_level:
        # The coarse router must inherit the determinism contract:
        # without it, two_level_router's Lloyd refinement uses
        # partition-order-dependent F.avg and the documented
        # "deterministic_train=True is bit-replayable" guarantee
        # breaks when both flags are set (round-10 advice).
        router = two_level_router(cents, deterministic=deterministic_train)
        _assign = lambda np_: ivf_assign_two_level(  # noqa: E731
            corpus, id_col, vec_col, cents, nprobe=np_, router=router
        )
    else:
        _assign = lambda np_: ivf_assign(  # noqa: E731
            corpus, id_col, vec_col, cents, nprobe=np_
        )
    vbase = with_norm(corpus, vec_col, "nrm").select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "nrm"
    )
    if assign_two_level:
        # two-level assignment keeps its own join shape; attach the
        # vectors back by id as before.
        v = _assign(assign_nprobe).join(vbase, "id")
    else:
        # single-level assignment is map-only: the vectors ride
        # along in-row.
        v = _assign_centroids(
            vbase, cents, nprobe=assign_nprobe, vec_col="vec",
            norm_col="nrm",
        )
    v = v.localCheckpoint(eager=True)  # feeds both pair sides + the output
    if max_cell_size is not None:
        paired = _split_hot_cells(v, max_cell_size, assign_nprobe)
        key = ["centroid_id", "sub_id"]
    else:
        paired = v
        key = ["centroid_id"]
    a = paired.select(
        *key, F.col("id").alias("id_a"),
        F.col("vec").alias("va"), F.col("nrm").alias("na"),
    )
    b = paired.select(
        *key, F.col("id").alias("id_b"),
        F.col("vec").alias("vb"), F.col("nrm").alias("nb"),
    )
    sim = F.round(
        cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6
    )
    edges = (
        a.join(b, key)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= F.lit(sim_threshold))
    )
    comp = connected_components(edges)
    out_base = (
        v.select("id", "centroid_id")
        if assign_nprobe == 1
        # multi-probe membership is pair-generation-only: report one
        # row per id, keyed by the PRIMARY (nearest-centroid) cell.
        else _assign(1)
    )
    return (
        out_base
        .join(comp, "id", "left")
        .select(
            "id",
            "centroid_id",
            (
                F.col("component").isNull()
                | (F.col("id") == F.col("component"))
            ).alias("keep"),
        )
    )
