"""Connected components over near-dup candidate pairs — the final stage
of a corpus-dedup pipeline (SURVEY.md §2.12 north-star: pairs alone do
not dedup a corpus; transitive groups do).

Pipeline position: ``minhash_lsh_pairs``/``simhash_pairs`` emit scored
candidate PAIRS; near-duplication is transitive in practice (A≈B≈C), so
the keep/drop decision needs the connected component of each document,
then one deterministic keeper per component.

Design for 100 TB:
- **The iterative part never touches the full corpus.** Only nodes
  incident to at least one edge can ever leave their singleton
  component, and the edge set is LSH-bounded (|verified pairs|, tiny
  relative to |corpus|). Label propagation therefore runs on the
  edge-touched node set only; untouched documents are singletons by
  construction and are added back without a shuffle of the label frame.
- **Min-label propagation + path halving.** Each round every node takes
  the min label over itself and its neighbors (one groupBy-min over the
  symmetric edge list), then labels are shortcut through themselves
  (``label ← label(label)``, one self-join) — the pointer-jumping trick
  that turns O(diameter) rounds into O(log diameter). Near-dup
  components have tiny diameter, so this converges in 2-4 rounds; the
  same code handles pathological chains within ``max_iter``.
- **Per-round lineage cut.** The rounds run on ``scale.iterate``, which
  checkpoints each round's label frame: iterative DataFrame plans
  otherwise double in depth per round and re-derive every prior round
  on each action. Call ``release_cached_rdds`` after consuming the
  result in long-running apps (see operators/scale.py).
- **Convergence check is one scalar.** Labels decrease monotonically,
  so the round's ``sum(label)`` is a strictly decreasing fixpoint
  detector — no row-level old-vs-new comparison join.

The driver-side round loop is bounded control flow, not data flow:
each round is a fully distributed job, and the loop moves only one
aggregate scalar to the driver per round (the standard Spark shape for
iterative graph algorithms — GraphFrames' own CC does the same).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.graph import long_ids, symmetric_edges
from nextbus2pg_spark.operators.scale import iterate


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Component label (min node id in the component) per edge-touched
    node → ``(id, component)``.

    ``edges`` is an undirected pair list; direction and duplicates are
    normalized internally. Nodes with no edges are absent from the
    result (they are singletons — union them back from the corpus side,
    as ``dedup_corpus`` does, rather than shuffling them through the
    iteration).

    Raises ``RuntimeError`` if ``max_iter`` rounds do not reach the
    fixpoint (with path halving that needs a component diameter around
    2**max_iter — pathological for any real near-dup graph).
    """
    ids = long_ids(edges, src, dst, "connected_components")
    sym = symmetric_edges(ids, src, dst).withColumnRenamed("node", "id")
    labels = (
        sym.select("id").distinct().withColumn("component", F.col("id"))
    ).localCheckpoint(eager=False)
    sums = [labels.agg(F.sum("component")).collect()[0][0]]
    if sums[0] is None:  # no edges at all
        return labels.select("id", "component")

    def min_label_round(labels: DataFrame) -> DataFrame:
        # Part 1: take the min label over self ∪ neighbors.
        nb_min = (
            sym.join(
                labels.select(F.col("id").alias("nb"), "component"), "nb"
            )
            .groupBy("id")
            .agg(F.min("component").alias("nb_component"))
        )
        stepped = (
            labels.join(nb_min, "id", "left")
            .select(
                "id",
                F.least(
                    "component",
                    F.coalesce("nb_component", "component"),
                ).alias("component"),
            )
        )
        # Part 2 (path halving): component ids are themselves node
        # ids, so shortcut every label through its own current label —
        # pointer jumping that makes label distances halve per round.
        return (
            stepped.alias("l")
            .join(
                stepped.select(
                    F.col("id").alias("component"),
                    F.col("component").alias("parent"),
                ).alias("p"),
                "component",
                "left",
            )
            .select(
                F.col("id"),
                F.coalesce("parent", "component").alias("component"),
            )
        )

    def converged(labels: DataFrame) -> bool:
        sums.append(labels.agg(F.sum("component")).collect()[0][0])
        return sums[-1] == sums[-2]

    labels, stopped_at = iterate(
        labels, min_label_round, max_iter,
        name="connected_components", stop=converged,
    )
    if stopped_at is None:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select("id", "component")


def dedup_corpus(
    df: DataFrame,
    id_col: str,
    components: DataFrame,
) -> DataFrame:
    """Keep one deterministic survivor per near-dup component.

    The component label IS the min node id of the component, so the
    keeper is the row whose id equals its label; every other clustered
    row is dropped. Documents never seen in ``components`` (no candidate
    pair touched them) are singletons and pass through — via a left-anti
    join against the (small) drop list, so the corpus side never
    shuffles on account of nodes the iteration never saw.
    """
    drops = components.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drops, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    id_col: str,
    components: DataFrame,
    score_col: str,
) -> DataFrame:
    """Keep the HIGHEST-SCORING row per near-dup component (ties on
    score broken by the smaller id — deterministic).

    Same contract as :func:`dedup_corpus` but quality-aware: instead
    of the min-id survivor, each component keeps its best row by
    ``score_col`` (e.g. a quality score), which is what a pretraining
    corpus actually wants — near-dup groups usually contain one clean
    original and several mangled copies, and min-id keeps whichever
    crawled first.

    Scale shape: the argmax and the drop list are computed on the
    COMPONENT relation joined to only ``(id, score)`` — LSH-bounded,
    never the full corpus — and the corpus pays one left-anti join
    against the drop list, exactly like ``dedup_corpus``. Untouched
    singletons never shuffle.
    """
    scored = components.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("__s")),
        "id",
    )
    winners = scored.groupBy("component").agg(
        F.max_by(
            "id", F.struct(F.col("__s").alias("s"), (-F.col("id")).alias("n"))
        ).alias("keep_id")
    )
    drops = (
        scored.join(winners, "component")
        .where(F.col("id") != F.col("keep_id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(drops, id_col, "left_anti")
