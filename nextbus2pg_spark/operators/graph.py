"""Graph ranking over edge lists — weighted PageRank by fixed-iteration
power method (north-star surface: the reference has no graph operator;
large-scale corpus curation ranks crawl hosts / link graphs for
quality weighting, the role PageRank plays in Common-Crawl-style
pipelines).

Design for 100 TB:
- **Everything is an equi-join or a groupBy on the edge list.** Per
  iteration: one join of the rank frame onto the edges (on ``src``),
  one groupBy-sum onto ``dst``, one left join back onto the node set.
  No collect of ranks, no adjacency matrix, no cartesian — the same
  shape GraphX/GraphFrames use, expressed as DataFrame ops so AQE
  handles skew and picks join strategies (no forced broadcast hints,
  per the round-6 policy: a web-scale node set is not broadcastable).
- **The edge list is localCheckpoint-ed once** (it is consumed every
  iteration; without the cut each round would re-derive the caller's
  full upstream lineage). Every iterative operator here runs its
  rounds on ``scale.iterate``, which cuts each round's frame so plan
  depth stays O(1) across iterations. The undirected operators share
  one edge prep each: ``symmetric_edges`` (both directions) and
  ``canonical_edges`` (``a < b``).
- **One bounded scalar collect per iteration** (the dangling-node
  mass), matching the components convergence scalar: the driver loop
  is control flow, never data flow.
- **Fixed iteration count, geometric convergence.** Power iteration
  converges at rate ``damping**k`` (error < 0.85^10 ≈ 0.2% of total
  mass at the default); a fixed ``n_iters`` keeps the computation a
  pure deterministic function of its inputs, which is what makes the
  DuckDB oracle replay possible (q_pagerank unrolls the iterations as
  CTEs, the BPE-training oracle recipe).

Determinism: floating-point SUM order varies with partitioning, so
``deterministic=True`` folds every per-node sum over the sorted
in-neighbor list (``stats._sorted_fold``) — bit-for-bit replayable by
DuckDB ``list_reduce``, the established ANN-internals recipe. The fold materializes each node's in-neighbor
contribution array, fine when max in-degree is bounded (event-type
graphs, host graphs after per-host aggregation) but wrong for
power-law web graphs — production runs use the default plain
``F.sum`` path, and ``tests/test_graph.py`` pins that both paths
agree to 1e-12 so the oracle mode vouches for the scale mode.

PageRank semantics (the standard formulation, e.g. Page et al. 1999;
GraphFrames/NetworkX default): ``r(v) = (1-d)/N + d * (Σ_{u→v}
r(u)·w(u,v)/wout(u) + dangling_mass/N)`` with dangling (no-out-edge)
node mass redistributed uniformly; ranks over the edge-touched node
set sum to 1. Isolated nodes (appearing in no edge) are absent from
the result — they all share the same rank by symmetry, and at corpus
scale shuffling a billion singletons through the iteration to report
a constant is waste (same policy as ``connected_components``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.scale import iterate
from nextbus2pg_spark.operators.stats import _sorted_fold, grouped_pearson

_INTEGRAL = {"tinyint", "smallint", "int", "bigint", "long"}


def long_ids(edges: DataFrame, src: str, dst: str, op: str) -> DataFrame:
    """``edges``' two id columns cast to long, after a ``TypeError``
    unless both are integral: ``cast('long')`` maps non-numeric ids to
    NULL SILENTLY, which empties the edge set and makes every caller
    degrade to "no structure found". String ids must be mapped to a
    numeric key (e.g. xxhash64) first."""
    dts = dict(edges.dtypes)
    bad = {c: dts[c] for c in (src, dst) if dts[c] not in _INTEGRAL}
    if bad:
        raise TypeError(
            f"{op} needs integral node id columns; got {bad} — hash or "
            "dictionary-encode string ids first"
        )
    return edges.select(
        F.col(src).cast("long").alias(src), F.col(dst).cast("long").alias(dst)
    )


def symmetric_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected simple graph of an edge list as both directions
    of every edge → distinct ``(node, nb)`` rows, NULL endpoints and
    self-loops dropped. Lineage cut (lazily): every round of the
    iterative operators reads it."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a").isNotNull()
        & F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
    )
    return (
        e.select(F.col("a").alias("node"), F.col("b").alias("nb"))
        .unionByName(e.select(F.col("b").alias("node"), F.col("a").alias("nb")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected simple graph of an edge list as one ``(a, b)``
    row per edge with ``a < b`` (``least``/``greatest``), NULL
    endpoints and self-loops dropped, distinct. Lineage cut (lazily):
    every caller reads it more than once."""
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    return (
        edges.select(a.alias("a"), b.alias("b"))
        .where(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    weight: str | None = None,
    damping: float = 0.85,
    n_iters: int = 10,
    deterministic: bool = False,
    reset: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list → ``(node, rank)``.

    ``weight`` names an optional positive edge-weight column (default:
    every edge weighs 1). NULL endpoints are rejected loudly — a NULL
    key would silently drop graph mass, the same failure mode
    ``connected_components`` guards against.

    ``reset`` switches to PERSONALIZED PageRank: a ``(node, p)`` frame
    giving the teleport distribution (must sum to 1 over graph nodes,
    validated; graph nodes absent from it get p = 0). Both the (1-d)
    teleport and the dangling-mass redistribution follow ``p`` instead
    of the uniform 1/N, and ranks initialize at ``p`` — random walks
    restart at the seed set, so rank concentrates on the seeds'
    neighborhoods (the "related items" / topic-sensitive variant).
    Nodes unreachable from the seed set converge to rank 0.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1); got {damping}")
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1; got {n_iters}")

    w = (
        F.col(weight).cast("double") if weight is not None else F.lit(1.0)
    ).alias("w")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w)
    e = e.localCheckpoint(eager=False)  # read every round
    if e.where(
        F.col("src").isNull() | F.col("dst").isNull() | F.col("w").isNull()
    ).limit(1).count():
        raise ValueError(
            "pagerank edges contain NULL src/dst/weight — drop or "
            "repair them explicitly; silently ignoring edges would "
            "leak rank mass"
        )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    if deterministic:
        outw = e.groupBy("src").agg(
            _sorted_fold(F.col("dst"), F.col("w")).alias("wout")
        )
    else:
        outw = e.groupBy("src").agg(F.sum("w").alias("wout"))
    # The e ⋈ outw join is rank-independent — hoist it out of the loop
    # (guide §2.4: the per-round plan then joins ranks once instead of
    # twice; w and wout stay separate columns so the contribution
    # arithmetic (rank*w)/wout is bit-identical).
    ew = e.join(outw, "src").localCheckpoint(eager=False)

    if reset is not None:
        # Attach the teleport distribution to the node frame once;
        # graph nodes missing from `reset` teleport-receive nothing.
        rcols = reset.columns
        nodes = nodes.join(
            reset.select(
                F.col(rcols[0]).alias("node"),
                F.col(rcols[1]).cast("double").alias("p"),
            ),
            "node",
            "left",
        ).select(
            "node", F.coalesce("p", F.lit(0.0)).alias("p")
        ).localCheckpoint(eager=False)
        total_p = nodes.agg(F.sum("p")).collect()[0][0] or 0.0
        if abs(total_p - 1.0) > 1e-6:
            raise ValueError(
                f"personalized reset distribution sums to {total_p} over "
                "the graph's nodes (must be 1) — seeds outside the graph "
                "or unnormalized weights would silently leak rank mass"
            )

    # Dangling detection is rank-independent: flag once, reuse each
    # round. When the set is empty (every node has an out-edge — the
    # common case for transition/link graphs after aggregation), the
    # per-round dangling-mass job is skipped entirely: dm is exactly
    # 0.0 every round, so the short-circuit is value-identical.
    if reset is None:
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    else:
        ranks = nodes.select("node", F.col("p").alias("rank"))
    # A node dangles iff it never appears as an edge source — the raw
    # src column decides that as well as the aggregated outw did, one
    # shuffle cheaper (left_anti needs no distinct input).
    dangling_nodes = nodes.select("node").join(
        e.select(F.col("src").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=False)
    has_dangling = bool(dangling_nodes.limit(1).count())

    base = (1.0 - damping) / n

    def power_round(ranks: DataFrame) -> DataFrame:
        if not has_dangling:
            dm = 0.0
        elif deterministic:
            dm = dangling_nodes.join(ranks, "node").agg(
                _sorted_fold(F.col("node"), F.col("rank")).alias("m")
            ).collect()[0][0]  # bounded: one scalar/round
        else:
            dm = dangling_nodes.join(ranks, "node").agg(
                F.sum("rank").alias("m")
            ).collect()[0][0] or 0.0
        if reset is None:
            return _pagerank_round(
                ew, nodes, ranks, damping, base, dm / n, deterministic
            )
        return _ppr_round(ew, nodes, ranks, damping, dm, deterministic)

    ranks, _ = iterate(ranks, power_round, n_iters, name="pagerank")
    return ranks.select("node", "rank")


def _pagerank_round(
    ew: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    damping: float,
    base: float,
    dm_per_node: float,
    deterministic: bool,
) -> DataFrame:
    """One power-method round as a single declarative plan (factored
    out so ``tests/test_plan_audit.py`` can audit the exact per-round
    physical plan, which the loop's localCheckpoint otherwise hides).
    ``ew`` is the loop-invariant pre-join of the edge list with its
    per-source out-weight: ``(src, dst, w, wout)``."""
    inc = _incoming(ew, ranks, deterministic)
    return nodes.join(inc, "node", "left").select(
        "node",
        (
            F.lit(base)
            + F.lit(damping)
            * (F.coalesce("s", F.lit(0.0)) + F.lit(dm_per_node))
        ).alias("rank"),
    )


def _incoming(
    ew: DataFrame, ranks: DataFrame, deterministic: bool
) -> DataFrame:
    """Per-node incoming rank mass for one round → ``(node, s)``."""
    contrib = (
        ew.join(
            ranks.select("node", "rank").withColumnRenamed("node", "src"),
            "src",
        )
        .select(
            "src",
            F.col("dst").alias("node"),
            ((F.col("rank") * F.col("w")) / F.col("wout")).alias("c"),
        )
    )
    if deterministic:
        return contrib.groupBy("node").agg(
            _sorted_fold(F.col("src"), F.col("c")).alias("s")
        )
    return contrib.groupBy("node").agg(F.sum("c").alias("s"))


def _ppr_round(
    ew: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    damping: float,
    dm: float,
    deterministic: bool,
) -> DataFrame:
    """One personalized round: teleport and dangling mass both follow
    the per-node ``p`` column carried on ``nodes``."""
    inc = _incoming(ew, ranks, deterministic)
    return nodes.join(inc, "node", "left").select(
        "node",
        "p",
        (
            F.lit(1.0 - damping) * F.col("p")
            + F.lit(damping)
            * (F.coalesce("s", F.lit(0.0)) + F.lit(dm) * F.col("p"))
        ).alias("rank"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_iters: int = 4,
) -> DataFrame:
    """Synchronous label propagation (community detection) over an
    undirected edge list → ``(node, label)``.

    Every node starts labeled with its own id; each round, every node
    adopts the most frequent label among its neighbors, ties broken by
    the SMALLEST label — fully deterministic (the classic LPA of
    Raghavan et al. 2007 breaks ties randomly; the min-label rule
    makes the whole computation a pure integer function of the edge
    list, so a DuckDB oracle replays it exactly, and reruns/retries
    agree). After ``n_iters`` rounds densely connected groups share a
    label; like all SYNCHRONOUS LPA (cf. GraphFrames), labels on
    bipartite-ish structures can oscillate with period 2, so compare
    runs at the same iteration count.

    Scale shape (same as :func:`pagerank`): per round one equi-join of
    the label frame onto the symmetrized edge list, one (node, label)
    count aggregation (map-side partial), one per-node arg-max — no
    collects, no forced broadcasts, AQE picks strategies and handles
    hub skew. The edge list is localCheckpoint-ed once, each round's
    label frame by ``iterate``, so plan depth stays O(1). All
    state is integers — no FP anywhere. Isolated nodes are absent
    (singleton communities; same policy as ``connected_components``).

    Node ids must be integral (the min-label tie-break and the
    label-as-id seed need a total order that hashes stably); map
    string ids through a dictionary or hash first, as for
    ``connected_components``.
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1; got {n_iters}")
    # cut before the guard, as pagerank does: the guard's job fills
    # the cut and the symmetric edge prep reads it, so the caller's
    # edge lineage runs once
    ids = long_ids(edges, src, dst, "label_propagation")
    ids = ids.localCheckpoint(eager=False)
    if ids.where(
        F.col(src).isNull() | F.col(dst).isNull()
    ).limit(1).count():
        raise ValueError(
            "label_propagation edges contain NULL endpoints — drop or "
            "repair them explicitly; silently ignoring edges would "
            "change the communities"
        )
    sym = symmetric_edges(ids, src, dst)
    labels = sym.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    labels, _ = iterate(
        labels, lambda labels: _lpa_round(sym, labels), n_iters,
        name="label_propagation",
    )
    return labels.select("node", "label")


def _lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round: join the label frame onto the
    symmetrized edge list, count (node, label) votes, take the
    per-node arg-max with the min-label tie-break. Split out so the
    plan-shape audit can pin the exact relation the loop checkpoints
    (the ``_pagerank_round`` pattern)."""
    counts = (
        sym.withColumnRenamed("nb", "__nbn")
        .join(
            labels.select(F.col("node").alias("__nbn"), F.col("label")),
            "__nbn",
        )
        .groupBy("node", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.groupBy("node").agg(
        F.max_by(
            "label",
            F.struct(
                F.col("cnt").alias("c"),
                (-F.col("label")).alias("n"),
            ),
        ).alias("label")
    )


def transition_matrix(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    order_cols: "list[str] | None" = None,
) -> DataFrame:
    """First-order Markov transition estimates from an event log →
    ``(src, dst, n_transitions, p)`` — the empirical
    ``p(dst | src) = c(src,dst) / c(src,*)`` over consecutive events
    within each key's timeline (the path-analysis matrix; PageRank's
    edge derivation shares this exact lead-window shape).

    ``order_cols`` breaks timestamp ties deterministically (defaults
    to the state column itself). Both counts are exact integers from
    one aggregation over the lead-window pairs, and ``p`` is one
    division — engine-exact. One window pass over the log, one
    state-pair-sized aggregation; the matrix is |states|^2-bounded.
    """
    from pyspark.sql import Window

    tie = order_cols if order_cols is not None else [state_col]
    w = Window.partitionBy(key_col).orderBy(ts_col, *tie)
    pairs = (
        df.select(
            F.col(state_col).alias("src"),
            F.lead(state_col).over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    ctx = counts.groupBy("src").agg(
        F.sum("n_transitions").alias("n_src")
    )
    return counts.join(ctx, "src").select(
        "src",
        "dst",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.col("n_src").cast("double")
        ).alias("p"),
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_degree: "int | None" = None,
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    an undirected simple graph → ``(node, degree, triangles, lcc)``.

    The classic cohesion/spam-farm signal (a crawl-curation pipeline
    ranks "host neighborhoods that interlink suspiciously densely" by
    exactly this). Counting uses the ordered-wedge formulation: edges
    canonicalize to ``a < b``, wedges enumerate as ``(a<b<c)`` via one
    self-join on the shared middle endpoint, and one semi-join against
    the closing edge keeps actual triangles — each triangle counted
    exactly once, no per-permutation inflation, and the ordering prunes
    the wedge space to a third. All counts are exact integers; ``lcc``
    is the single engine-exact division ``2T / (d(d-1))`` (0.0 when
    degree < 2).

    Scale shape: one distinct over canonical edges (checkpointed once,
    consumed three times), one equi-self-join, one left-semi join, and
    two hash aggregations — no collects, no broadcasts forced (AQE
    decides), nothing quadratic in |V|. Wedge enumeration is inherently
    Σ deg(v)² work, so the engine SHIPS the standard hub mitigation
    (cf. Suri & Vassilvitskii's MapReduce triangle counting):
    ``max_degree`` drops every node whose degree exceeds it BEFORE
    wedge enumeration (one extra degree aggregation + two semi-joins —
    linear work) and excludes those hubs from the output, bounding the
    per-node wedge cost at max_degree². Capped results undercount
    triangles through hubs — the documented approximation every
    production triangle counter makes; leave it None for exact counts
    on bounded-degree graphs.
    """
    e = canonical_edges(edges, src, dst)
    if max_degree is not None:
        if max_degree < 1:
            raise ValueError(f"max_degree must be >= 1; got {max_degree}")
        keep = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("__d"))
            .where(F.col("__d") <= F.lit(int(max_degree)))
            .select("node")
        )
        e = (
            e.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
    tri = (
        e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .join(
            e.select(F.col("a").alias("y"), F.col("b").alias("z")), "y"
        )
        .join(
            e.select(F.col("a").alias("x"), F.col("b").alias("z")),
            ["x", "z"],
            "left_semi",
        )
    )
    per_node = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    d = F.col("degree").cast("long")
    t = F.coalesce(F.col("triangles"), F.lit(0)).cast("long")
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        t.alias("triangles"),
        F.when(
            d >= 2,
            (F.lit(2) * t).cast("double") / (d * (d - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    *,
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source breadth-first hop distance over an undirected
    graph → ``(node, dist)`` for every node within ``max_hops`` of any
    seed (seeds themselves at dist 0, whether or not they have edges).

    The "how far from a trusted set" primitive: crawl-frontier depth
    from seed domains, contamination blast radius from a flagged
    document cluster, entity proximity in a linkage graph. Distances
    are exact integers — the whole computation is a pure set-iteration
    function of (edges, seeds), so a DuckDB oracle replays it exactly
    with the iterations unrolled as CTE generations.

    Scale shape (the :func:`pagerank` loop contract): the symmetrized
    edge list checkpoints once; each round is one left-semi join
    (neighbors of the frontier), one distinct, and one anti-join
    against the visited set, checkpointed so plan depth stays O(1).
    Rounds are bounded by ``max_hops`` and stop early when a frontier
    empties (one cheap bounded isEmpty per round). State is the
    visited set — O(reachable nodes), never corpus-shaped.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0; got {max_hops}")
    sym = symmetric_edges(edges, src, dst)
    seed_frame = (
        seeds.select(F.col(seed_col).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
        .localCheckpoint(eager=False)
    )

    def hop(state):
        """(nodes before the frontier, frontier at ``dist``) → the
        same one hop further out."""
        inner, frontier, dist = state
        visited = inner.unionByName(frontier)
        nxt = (
            sym.join(frontier.select("node"), "node", "left_semi")
            .select(F.col("nb").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(dist + 1).cast("int"))
        )
        return visited, nxt, dist + 1

    (inner, frontier, _), _ = iterate(
        (seed_frame.limit(0), seed_frame, 0), hop, max_hops,
        name="bfs_hops", stop=lambda state: state[1].isEmpty(),
    )
    return inner.unionByName(frontier)


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    k: int,
    max_iters: int = 8,
) -> DataFrame:
    """k-core of an undirected graph by iterative peeling →
    ``(node, core_degree)`` for every node surviving ``max_iters``
    rounds of "remove nodes with degree < k" (the dense backbone:
    spam-farm trimming, community-core extraction, the robustness
    filter before expensive per-node graph features).

    Peeling is monotone (alive sets only shrink), so an early exit on
    an unchanged round equals running every remaining round — the
    fixed-``max_iters`` DuckDB oracle replays it exactly whether or
    not Spark exited early. If the peel has not reached its fixpoint
    within ``max_iters``, the result is the partial peel at that
    round (deterministic; raise ``max_iters`` for deep cores — each
    round can only remove nodes, so rounds are bounded by |V| in the
    worst case, ~O(diameter of the peel cascade) in practice).

    Scale shape: per round two left-semi joins filter the symmetrized
    edge list to the alive subgraph and one partial-aggregated count
    re-derives degrees; the alive set is checkpointed per round (O(1)
    plan depth) and the stop check is one bounded count. All state is
    integers.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    sym = symmetric_edges(edges, src, dst)

    def _alive_degrees(alive: DataFrame) -> DataFrame:
        return (
            sym.join(alive, "node", "left_semi")
            .join(
                alive.select(F.col("node").alias("nb")), "nb", "left_semi"
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )

    def peel(alive: DataFrame) -> DataFrame:
        return (
            _alive_degrees(alive)
            .where(F.col("core_degree") >= F.lit(k))
            .select("node")
        )

    alive = sym.select("node").distinct().localCheckpoint(eager=False)
    sizes = [alive.count()]

    def settled(alive: DataFrame) -> bool:
        # monotone: an equal count means an identical set
        sizes.append(alive.count())
        return sizes[-1] == sizes[-2]

    alive, _ = iterate(
        alive, peel, max_iters, name="kcore", stop=settled
    )
    return _alive_degrees(alive)


def top_paths(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    *,
    length: int = 3,
    k: int = 20,
    order_cols: "list[str] | None" = None,
) -> DataFrame:
    """Most frequent ordered state paths of ``length`` consecutive
    events within each key's timeline → ``(path, n, rank)``, the
    top-``k`` by exact count (ties broken by the path string — fully
    deterministic). The order-(length-1) extension of
    :func:`transition_matrix`: "what do users actually DO", the
    sequence-mining staple behind funnel discovery and bot-pattern
    detection.

    Scale shape: ONE window pass derives the (length-1) leads, one
    hash aggregation counts paths (map-side partial; output bounded
    by |states|^length, not rows), and the top-k is a sort-limit —
    never a global sort of the log. Path strings join with '>' (the
    state values must not contain it — assert upstream if unsure).
    Windows containing ANY NULL state are dropped — ``concat_ws``
    silently skips NULLs, so an unguarded NULL mid-sequence would
    fold 'A,NULL,B' into the shorter path 'A>B' and miscount it; every
    step, not just the final lead, is therefore null-checked.
    """
    if length < 2:
        raise ValueError(f"length must be >= 2; got {length}")
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    from pyspark.sql import Window

    tie = order_cols if order_cols is not None else [state_col]
    w = Window.partitionBy(key_col).orderBy(ts_col, *tie)
    steps = [F.col(state_col)] + [
        F.lead(state_col, i).over(w) for i in range(1, length)
    ]
    all_steps_present = steps[0].isNotNull()
    for s in steps[1:]:
        all_steps_present = all_steps_present & s.isNotNull()
    paths = df.select(
        F.concat_ws(">", *steps).alias("path"),
        all_steps_present.alias("__full"),
    ).where(F.col("__full"))
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        counts.orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("path").asc())
            ),
        )
    )
    return ranked.select("path", "n", "rank")


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_degree: "int | None" = None,
) -> DataFrame:
    """Structural link-prediction scores for every NON-edge pair with
    at least one common neighbor → ``(node_a, node_b,
    common_neighbors, resource_allocation, jaccard)`` over the
    undirected simple graph — "which links are missing": candidate
    related-items edges, knowledge-graph completion, crawl frontier
    prioritization.

    Scores (Liben-Nowell & Kleinberg 2007 battery, transcendental-free
    members only so every value is engine-exact):

    - ``common_neighbors`` — exact integer count;
    - ``resource_allocation`` — ``Σ_z 1/deg(z)`` over the common
      neighbors z, accumulated as a z-sorted left fold (each division
      IEEE-exact, fold order fixed → bit-replayable; RA is the
      consistently strongest local index in the published battery and
      needs no logarithm, unlike Adamic-Adar);
    - ``jaccard`` — ``cn / (deg_a + deg_b - cn)``, exact integers and
      one division.

    Scale shape: symmetrize+distinct the edge list, enumerate wedges
    via one neighbor-list self-equi-join on the CENTER node (the
    triangle_count shape: work Σ_z deg(z)² — ``max_degree`` caps hub
    centers the same way, dropping them from wedge enumeration only,
    documented as an approximation exactly like ``triangle_count``),
    one hash aggregation per candidate pair, one anti-join against
    existing edges, two degree joins. No collects, no broadcasts of
    unbounded relations.
    """
    und = symmetric_edges(edges, src, dst)
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    centers = und.select(F.col("node").alias("z"), "nb")
    if max_degree is not None:
        keep = deg.where(F.col("deg") <= F.lit(max_degree)).select(
            F.col("node").alias("z")
        )
        centers = centers.join(keep, "z", "left_semi")
    centers = centers.join(
        deg.select(F.col("node").alias("z"), F.col("deg").alias("deg_z")),
        "z",
    )
    lhs = centers.select(
        "z", "deg_z", F.col("nb").alias("node_a")
    )
    rhs = centers.select("z", F.col("nb").alias("node_b"))
    wedges = lhs.join(rhs, "z").where(F.col("node_a") < F.col("node_b"))
    scored = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        _sorted_fold(
            F.col("z"), F.lit(1.0) / F.col("deg_z").cast("double")
        ).alias("resource_allocation"),
    )
    existing = und.where(F.col("node") < F.col("nb")).select(
        F.col("node").alias("node_a"), F.col("nb").alias("node_b")
    )
    non_edges = scored.join(existing, ["node_a", "node_b"], "left_anti")
    return (
        non_edges.join(
            deg.select(F.col("node").alias("node_a"),
                       F.col("deg").alias("deg_a")),
            "node_a",
        )
        .join(
            deg.select(F.col("node").alias("node_b"),
                       F.col("deg").alias("deg_b")),
            "node_b",
        )
        .select(
            "node_a", "node_b", "common_neighbors", "resource_allocation",
            (
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_a") + F.col("deg_b")
                    - F.col("common_neighbors")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: "str | None" = None,
    *,
    n_iters: int = 6,
    deterministic: bool = False,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed,
    optionally weighted edge list → ``(node, hub, authority)`` after
    ``n_iters`` synchronous rounds with L2 normalization.

    PageRank's bipartite sibling: authorities are pointed AT by good
    hubs, hubs point TO good authorities — the directory-vs-content
    split (seed-list curation ranks "pages that link to many good
    sources" differently from the sources themselves, which PageRank
    cannot express). Per round: ``a(v) = Σ_{u→v} h(u)·w`` then
    normalize, then ``h(u) = Σ_{u→v} a(v)·w`` with the NEW a, then
    normalize (the classic update order).

    Scale/determinism contract is :func:`pagerank`'s: per round two
    equi-joins + two grouped sums + two 1-row norm aggregates (the
    only broadcasts — bounded by construction), rank frames
    checkpointed per round; ``deterministic=True`` folds every sum
    over the sorted contributor list (and the norm over the
    node-sorted square list) for bit-exact DuckDB replay — oracle
    mode; production keeps partial-aggregated ``F.sum``, and tests
    pin the paths to 1e-12 agreement.
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1; got {n_iters}")
    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    e = e.localCheckpoint(eager=False)  # read twice per round
    if e.where(
        F.col("src").isNull() | F.col("dst").isNull()
    ).limit(1).count():
        raise ValueError(
            "hits edges contain NULL endpoints — drop or repair them "
            "explicitly"
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _norm_div(raw: DataFrame, col: str) -> DataFrame:
        """L2-normalize ``col`` over all nodes: one bounded 1-row
        aggregate broadcast back (the pagerank dangling-mass shape)."""
        sq = F.col(col) * F.col(col)
        if deterministic:
            n = raw.agg(
                F.sqrt(_sorted_fold(F.col("node"), sq)).alias("__n")
            )
        else:
            n = raw.agg(F.sqrt(F.sum(sq)).alias("__n"))
        return raw.crossJoin(F.broadcast(n)).select(
            "node",
            F.when(F.col("__n") > 0, F.col(col) / F.col("__n"))
            .otherwise(F.lit(0.0))
            .alias(col),
        )

    def _gather(scores: DataFrame, score: str, edge_key: str,
                out_key: str, sort_key: str) -> DataFrame:
        """a-step: edge_key='src', out_key='dst'; h-step: reversed.

        Round 13: the per-round ``nodes ⋈ agg`` left-join that restored
        zero-score nodes is DEFERRED to one final restore join — a 0.0
        score is algebraically inert through every downstream use (it
        adds 0.0·w to the next gather's sums, 0.0² to the L2 norms, and
        ``acc + 0.0 == acc`` keeps even the deterministic sorted folds
        bit-exact), so carrying those rows bought nothing but two
        shuffle joins per round (guide §2.4)."""
        contrib = e.join(
            scores.select(
                F.col("node").alias(edge_key), F.col(score)
            ),
            edge_key,
        ).select(
            F.col(sort_key).alias("__sk"),
            F.col(out_key).alias("node"),
            (F.col(score) * F.col("w")).alias("c"),
        )
        agg = (
            contrib.groupBy("node").agg(
                _sorted_fold(F.col("__sk"), F.col("c")).alias("s")
            )
            if deterministic
            else contrib.groupBy("node").agg(F.sum("c").alias("s"))
        )
        return agg.select("node", F.col("s").alias("raw"))

    def half_round(state):
        """The a-step (from the hubs) or the h-step (from the new
        authorities): the a-step frame feeds the h-step, so each half
        is its own ``iterate`` round and its own cut."""
        hubs, auths, a_step = state
        if a_step:
            raw = _gather(hubs, "hub", "src", "dst", "src")
            return hubs, _norm_div(
                raw.withColumnRenamed("raw", "authority"), "authority"
            ), False
        raw = _gather(auths, "authority", "dst", "src", "dst")
        hubs = _norm_div(raw.withColumnRenamed("raw", "hub"), "hub")
        return hubs, auths, True

    (hubs, auths, _), _ = iterate(
        (
            nodes.select("node", F.lit(1.0).alias("hub")),
            nodes.select("node", F.lit(1.0).alias("authority")),
            True,
        ),
        half_round, 2 * n_iters, name="hits",
    )
    # The one restore join (see _gather): nodes the iteration never
    # scored are exactly the zero-score nodes the per-round restores
    # used to carry.
    return (
        nodes.join(hubs, "node", "left")
        .join(auths, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    simple graph → one row ``(m_edges, n_communities, modularity)`` —
    the quality score that makes :func:`label_propagation` output
    actionable (Q > ~0.3 = real community structure; near 0 = the
    partition explains nothing).

    Exactness: with ``m`` edges, ``e_c`` intra-community edges and
    ``d_c`` total degree per community,

        Q = Σ_c (e_c/m − (d_c/2m)²) = Σ_c (4·m·e_c − d_c²) / (4m²)

    — every term an exact DECIMAL(38,0) integer, so the whole score is
    ONE final division (the Cohen's-kappa recipe). Nodes in ``labels``
    but not in any edge contribute zero (d_c unchanged); edge
    endpoints missing from ``labels`` raise loudly (silently dropping
    them would inflate Q).

    Scale shape: one distinct over canonical edges, two label joins,
    two label-sized aggregations, and a community-sized sum — nothing
    beyond the edge scan grows with the graph.
    """
    e = canonical_edges(edges, src, dst)
    lab = labels.select(
        F.col(node_col).alias("__n"), F.col(label_col).alias("__l")
    )
    # tagged feeds the NULL guard plus the intra/degree aggregates —
    # checkpoint it so the two label joins run once, not per consumer.
    tagged = (
        e.join(lab.withColumnsRenamed({"__n": "a", "__l": "la"}), "a", "left")
        .join(lab.withColumnsRenamed({"__n": "b", "__l": "lb"}), "b", "left")
        .localCheckpoint(eager=False)
    )
    if tagged.where(
        F.col("la").isNull() | F.col("lb").isNull()
    ).limit(1).count():
        raise ValueError(
            "modularity: some edge endpoints have no label — label "
            "every node (or drop those edges explicitly)"
        )
    dec = "decimal(38,0)"
    intra = tagged.where(F.col("la") == F.col("lb")).groupBy(
        F.col("la").alias("c")
    ).agg(F.count(F.lit(1)).cast(dec).alias("ec"))
    deg = (
        tagged.select(F.col("la").alias("c"))
        .unionAll(tagged.select(F.col("lb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast(dec).alias("dc"))
    )
    m = e.agg(F.count(F.lit(1)).cast(dec).alias("m"))
    per_c = deg.join(intra, "c", "left").select(
        "c",
        F.coalesce("ec", F.lit(0).cast(dec)).alias("ec"),
        "dc",
    )
    num = per_c.crossJoin(F.broadcast(m)).agg(
        F.sum(
            F.lit(4).cast(dec) * F.col("m") * F.col("ec")
            - F.col("dc") * F.col("dc")
        ).alias("qnum"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.max("m").alias("m"),
    )
    return num.select(
        F.col("m").cast("long").alias("m_edges"),
        "n_communities",
        (
            F.col("qnum").cast("double")
            / (F.lit(4).cast(dec) * F.col("m") * F.col("m")).cast("double")
        ).alias("modularity"),
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient of an undirected simple graph
    → one row ``(n_pairs, assortativity)`` — Newman's r: the Pearson
    correlation of endpoint degrees over all directed edge
    orientations (positive = hubs link to hubs, social-network shape;
    negative = hub-and-spoke, web/biology shape — a one-number
    structural fingerprint when triaging an unknown link graph).

    Pure composition: canonical distinct edges → exact integer
    degrees → both orientations' (deg_x, deg_y) pairs →
    :func:`~nextbus2pg_spark.operators.stats.grouped_pearson` (exact
    DECIMAL(38,0) moment sums, one fixed double expression at the
    end). Zero-variance degree distributions (regular graphs) yield
    NULL, per the stats-module convention.
    """
    e = canonical_edges(edges, src, dst)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("dy"))
    oriented = e.join(da, "a").join(db, "b").select("dx", "dy")
    pairs = oriented.unionAll(
        oriented.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    ).withColumn("__g", F.lit(1))
    r = grouped_pearson(pairs, ["__g"], "dx", "dy")
    return r.select(
        F.col("n").alias("n_pairs"),
        F.col("corr").alias("assortativity"),
    )
