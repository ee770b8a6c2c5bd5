"""PageRank operator tests: NumPy power-iteration reference parity,
dangling-mass conservation, weighted edges, determinism-mode
equivalence, and loud-failure guards."""

from __future__ import annotations

import numpy as np
import pytest

from nextbus2pg_spark.operators.graph import pagerank


def _np_pagerank(n, edges, damping, n_iters):
    """Independent dense reference: edges = [(src, dst, w)]."""
    W = np.zeros((n, n))
    for s, d, w in edges:
        W[s, d] += w
    wout = W.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iters):
        dm = r[wout == 0].sum()
        inc = np.zeros(n)
        for u in range(n):
            if wout[u] > 0:
                inc += r[u] * W[u] / wout[u]
        r = (1 - damping) / n + damping * (inc + dm / n)
    return r


EDGES = [(0, 1, 1.0), (1, 0, 1.0), (2, 0, 3.0), (2, 1, 1.0), (1, 3, 1.0)]


def test_matches_numpy_reference(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight="w", n_iters=20).collect()
    }
    want = _np_pagerank(4, EDGES, 0.85, 20)
    assert set(got) == {0, 1, 2, 3}
    for node, rank in got.items():
        assert rank == pytest.approx(want[node], abs=1e-12)


def test_rank_mass_conserved(spark):
    # node 3 is dangling (dst-only); mass must still sum to 1.
    df = spark.createDataFrame(EDGES, "src long, dst long, w double")
    total = sum(
        r["rank"] for r in pagerank(df, weight="w", n_iters=12).collect()
    )
    assert total == pytest.approx(1.0, abs=1e-9)


def test_deterministic_mode_matches_scale_mode(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, w double")
    plain = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight="w", n_iters=10).collect()
    }
    det = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, weight="w", n_iters=10, deterministic=True
        ).collect()
    }
    assert set(det) == set(plain)
    for node in plain:
        assert det[node] == pytest.approx(plain[node], abs=1e-12)


def test_weights_shift_rank(spark):
    # a -> b weighted 9, a -> c weighted 1: b must outrank c.
    df = spark.createDataFrame(
        [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: r["rank"] for r in pagerank(df, weight="w").collect()}
    assert got["b"] > got["c"]
    # unweighted: b and c are symmetric and must tie exactly.
    flat = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    assert flat["b"] == pytest.approx(flat["c"], abs=1e-15)


def test_string_nodes_supported(spark):
    df = spark.createDataFrame(
        [("host-a", "host-b"), ("host-b", "host-a")], "src string, dst string"
    )
    got = pagerank(df, n_iters=5).collect()
    assert {r["node"] for r in got} == {"host-a", "host-b"}
    for r in got:  # symmetric 2-cycle: exactly 1/2 each
        assert r["rank"] == pytest.approx(0.5, abs=1e-12)


def test_null_edge_rejected(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("a", None)], "src string, dst string"
    )
    with pytest.raises(ValueError, match="NULL"):
        pagerank(df)


@pytest.mark.parametrize("damping", [0.0, 1.0, -0.2, 1.5])
def test_bad_damping_rejected(spark, damping):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=damping)


def test_bad_iters_rejected(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="n_iters"):
        pagerank(df, n_iters=0)


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert pagerank(df).collect() == []


def test_personalized_matches_numpy(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, w double")
    reset = spark.createDataFrame(
        [(0, 0.7), (2, 0.3)], "node long, p double"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight="w", n_iters=25, reset=reset).collect()
    }
    # independent dense PPR reference
    W = np.zeros((4, 4))
    for s, d_, w in EDGES:
        W[s, d_] += w
    wout = W.sum(axis=1)
    p = np.array([0.7, 0.0, 0.3, 0.0])
    r = p.copy()
    for _ in range(25):
        dm = r[wout == 0].sum()
        inc = np.zeros(4)
        for u in range(4):
            if wout[u] > 0:
                inc += r[u] * W[u] / wout[u]
        r = (1 - 0.85) * p + 0.85 * (inc + dm * p)
    for node, rank in got.items():
        assert rank == pytest.approx(r[node], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_personalized_deterministic_matches_plain(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, w double")
    reset = spark.createDataFrame([(1, 1.0)], "node long, p double")
    plain = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight="w", n_iters=10, reset=reset).collect()
    }
    det = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, weight="w", n_iters=10, reset=reset, deterministic=True
        ).collect()
    }
    for node in plain:
        assert det[node] == pytest.approx(plain[node], abs=1e-12)


def test_personalized_unnormalized_reset_rejected(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long, w double")
    # mass on a node outside the graph leaks: only 0.5 lands on nodes
    reset = spark.createDataFrame(
        [(0, 0.5), (99, 0.5)], "node long, p double"
    )
    with pytest.raises(ValueError, match="sums to"):
        pagerank(df, weight="w", reset=reset)


def test_label_propagation_cliques_converge_to_min_id(spark):
    from nextbus2pg_spark.operators.graph import label_propagation

    # Two disjoint cliques: {1,2,3,4} and {10,11,12}.
    quad = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    tri = [(a, b) for a in (10, 11, 12) for b in (10, 11, 12) if a < b]
    edges = spark.createDataFrame(quad + tri, "src long, dst long")
    out = {r.node: r.label for r in label_propagation(edges, n_iters=4).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagation_sync_oscillation_is_period_two(spark):
    from nextbus2pg_spark.operators.graph import label_propagation

    # A single edge oscillates under synchronous updates (documented):
    # odd iterations swap the labels, even iterations restore them.
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    odd = {r.node: r.label for r in label_propagation(edges, n_iters=3).collect()}
    even = {r.node: r.label for r in label_propagation(edges, n_iters=4).collect()}
    assert odd == {1: 2, 2: 1}
    assert even == {1: 1, 2: 2}


def test_label_propagation_rejects_null_and_string_ids(spark):
    import pytest

    from nextbus2pg_spark.operators.graph import label_propagation

    nulls = spark.createDataFrame([(1, None)], "src long, dst long")
    with pytest.raises(ValueError, match="NULL"):
        label_propagation(nulls)
    strs = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(TypeError, match="integral"):
        label_propagation(strs)


def test_label_propagation_evaluates_edge_lineage_once(spark):
    """The NULL guard and the symmetric edge prep read one cut of the
    id frame, so a counting Python UDF in the caller's edge lineage
    sees each row once over the whole run."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.operators.graph import label_propagation

    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(v):
        evaluated.add(1)
        return v

    rows = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4)]
    edges = spark.createDataFrame(rows, "src long, dst long").select(
        counted("src").alias("src"), "dst"
    )
    out = {r.node: r.label for r in label_propagation(edges, n_iters=2).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    assert evaluated.value == len(rows)


def test_transition_matrix_hand_computed(spark):
    import datetime as dt

    from nextbus2pg_spark.operators.graph import transition_matrix

    t = dt.datetime(2024, 1, 1)
    seq = lambda u, *states: [  # noqa: E731
        (u, t + dt.timedelta(minutes=i), s) for i, s in enumerate(states)
    ]
    df = spark.createDataFrame(
        seq(1, "a", "b", "a", "c") + seq(2, "a", "b"),
        "user long, ts timestamp, state string",
    )
    out = {(r.src, r.dst): r for r in transition_matrix(
        df, "user", "ts", "state"
    ).collect()}
    # transitions: a->b (x2), b->a (x1), a->c (x1); ctx(a)=3, ctx(b)=1
    assert out[("a", "b")].n_transitions == 2
    assert out[("a", "b")].p == 2 / 3
    assert out[("a", "c")].p == 1 / 3
    assert out[("b", "a")].p == 1.0
    assert ("c", "a") not in out  # terminal state emits nothing


def test_triangle_count_hand_computed(spark):
    """Triangle + pendant: 1-2-3 closed, 4 hangs off 3. Duplicate and
    reversed edges must not inflate counts (canonicalization)."""
    from nextbus2pg_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 1), (3, 1), (3, 3)],
        "src long, dst long",
    )
    out = {r["node"]: r for r in triangle_count(df).collect()}
    assert len(out) == 4
    assert (out[1]["degree"], out[1]["triangles"], out[1]["lcc"]) == (2, 1, 1.0)
    assert (out[2]["degree"], out[2]["triangles"], out[2]["lcc"]) == (2, 1, 1.0)
    assert out[3]["degree"] == 3 and out[3]["triangles"] == 1
    assert out[3]["lcc"] == 2 * 1 / (3 * 2)
    assert (out[4]["degree"], out[4]["triangles"], out[4]["lcc"]) == (1, 0, 0.0)


def test_triangle_count_square_has_none(spark):
    from nextbus2pg_spark.operators.graph import triangle_count

    square = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    out = triangle_count(square).collect()
    assert all(r["triangles"] == 0 and r["lcc"] == 0.0 for r in out)


def test_bfs_hops_path_graph(spark):
    """Path 1-2-3-4-5 plus isolated edge 8-9; seeds {1, 9} and a seed
    99 absent from the graph (still dist 0). max_hops=3 excludes 5."""
    from nextbus2pg_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (9,), (99,)], "node long")
    out = {r["node"]: r["dist"] for r in bfs_hops(
        edges, seeds, max_hops=3
    ).collect()}
    assert out == {1: 0, 9: 0, 99: 0, 2: 1, 8: 1, 3: 2, 4: 3}


def test_bfs_hops_early_exit_and_undirected(spark):
    """A frontier that empties stops the loop early (max_hops larger
    than the diameter is harmless); traversal follows edges both
    ways."""
    from nextbus2pg_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(2, 1), (3, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["dist"] for r in bfs_hops(
        edges, seeds, max_hops=10
    ).collect()}
    assert out == {1: 0, 2: 1, 3: 2}


def test_kcore_hand_computed(spark):
    """Clique {1,2,3,4} plus pendant chain 4-5, 5-6: the 3-core keeps
    exactly the clique (all degrees 3); 6 then 5 peel in two
    cascading rounds."""
    from nextbus2pg_spark.operators.graph import kcore

    clique = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    df = spark.createDataFrame(
        clique + [(4, 5), (5, 6)], "src long, dst long"
    )
    out = {r["node"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_cascade_and_empty_core(spark):
    from nextbus2pg_spark.operators.graph import kcore

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    # a path has no 2-core: endpoints peel, then everything cascades
    assert kcore(path, k=2).isEmpty()
    # k=1 keeps every non-isolated node with its degree
    out = {r["node"]: r["core_degree"] for r in kcore(path, k=1).collect()}
    assert out == {1: 1, 2: 2, 3: 2, 4: 1}


def test_kcore_max_iters_partial_peel_is_deterministic(spark):
    """max_iters=1 stops after one round: only the first peel wave is
    applied and degrees are re-derived on the remaining subgraph."""
    from nextbus2pg_spark.operators.graph import kcore

    clique = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    df = spark.createDataFrame(
        clique + [(4, 5), (5, 6)], "src long, dst long"
    )
    out = {r["node"]: r["core_degree"]
           for r in kcore(df, k=3, max_iters=1).collect()}
    # round 1 removes 6 (deg 1) and 5 (deg 2); nothing else — already
    # equal to the fixpoint here, but via the partial path
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_top_paths_hand_computed(spark):
    import datetime as dt

    from nextbus2pg_spark.operators.graph import top_paths

    t = dt.datetime(2024, 1, 1)
    seq = lambda u, *states: [  # noqa: E731
        (u, t + dt.timedelta(minutes=i), s) for i, s in enumerate(states)
    ]
    df = spark.createDataFrame(
        seq(1, "a", "b", "c", "a", "b", "c") + seq(2, "a", "b", "c"),
        "user long, ts timestamp, state string",
    )
    out = [(r["path"], r["n"], r["rank"]) for r in top_paths(
        df, "user", "ts", "state", length=3, k=5
    ).collect()]
    # a>b>c occurs 3x (twice in u1's 6-seq via sliding, once in u2)
    assert out[0] == ("a>b>c", 3, 1)
    assert ("b>c>a", 1, 2) in out and ("c>a>b", 1, 3) in out
    assert len(out) == 3  # only 3 distinct trigrams exist


def test_top_paths_tail_rows_excluded(spark):
    import datetime as dt

    from nextbus2pg_spark.operators.graph import top_paths

    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t, "a"), (1, t.replace(minute=1), "b")],
        "user long, ts timestamp, state string",
    )
    # a 2-event timeline has no 3-path
    assert top_paths(df, "user", "ts", "state", length=3).isEmpty()
    out = top_paths(df, "user", "ts", "state", length=2).collect()
    assert [(r["path"], r["n"]) for r in out] == [("a>b", 1)]


def _np_hits(n, edges, n_iters):
    """Dense reference: a-step then h-step with the NEW a, L2 norms."""
    W = np.zeros((n, n))
    for s, d_, w in edges:
        W[s, d_] += w
    h = np.ones(n)
    a = np.ones(n)
    for _ in range(n_iters):
        a = W.T @ h
        na = np.sqrt((a * a).sum())
        a = a / na if na > 0 else a * 0.0
        h = W @ a
        nh = np.sqrt((h * h).sum())
        h = h / nh if nh > 0 else h * 0.0
    return h, a


def test_hits_matches_numpy_reference(spark):
    from nextbus2pg_spark.operators.graph import hits

    edges = [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 2.0), (3, 2, 1.0),
             (2, 0, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(df, weight="w", n_iters=12).collect()}
    h, a = _np_hits(4, edges, 12)
    assert set(got) == {0, 1, 2, 3}
    for node, (gh, ga) in got.items():
        assert gh == pytest.approx(h[node], abs=1e-12)
        assert ga == pytest.approx(a[node], abs=1e-12)
    # node 2 is the authority (everyone points at it); 0/1 are hubs
    assert got[2][1] > got[0][1] and got[2][1] > got[1][1]


def test_hits_zero_score_nodes_restored(spark):
    """Round-13 deferred-restore pin: since the per-round nodes join
    moved to ONE final restore join, pure sinks (no out-edges → hub 0)
    and pure sources (no in-edges → authority 0) must still appear in
    the output with exact 0.0 — in BOTH determinism modes."""
    from nextbus2pg_spark.operators.graph import hits

    # 4 is a pure sink (only incoming), 0 and 3 are pure sources.
    edges = [(0, 1, 1.0), (1, 2, 2.0), (3, 2, 1.0), (2, 4, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    for det in (False, True):
        got = {r["node"]: (r["hub"], r["authority"])
               for r in hits(df, weight="w", n_iters=4,
                             deterministic=det).collect()}
        assert set(got) == {0, 1, 2, 3, 4}, det
        assert got[4][0] == 0.0, det          # sink: hub exactly 0
        assert got[0][1] == 0.0 and got[3][1] == 0.0, det  # sources
        assert got[4][1] > 0.0 and got[2][0] > 0.0, det


def test_hits_deterministic_matches_plain(spark):
    from nextbus2pg_spark.operators.graph import hits

    edges = [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 2.0), (3, 2, 1.0),
             (2, 0, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    plain = {r["node"]: (r["hub"], r["authority"])
             for r in hits(df, weight="w", n_iters=6).collect()}
    det = {r["node"]: (r["hub"], r["authority"])
           for r in hits(df, weight="w", n_iters=6,
                         deterministic=True).collect()}
    assert set(det) == set(plain)
    for node in plain:
        assert det[node][0] == pytest.approx(plain[node][0], abs=1e-12)
        assert det[node][1] == pytest.approx(plain[node][1], abs=1e-12)


def test_hits_null_edge_rejected(spark):
    from nextbus2pg_spark.operators.graph import hits

    df = spark.createDataFrame([("a", None)], "src string, dst string")
    with pytest.raises(ValueError, match="NULL"):
        hits(df)


def test_modularity_hand_computed(spark):
    """Two disjoint triangles, perfectly partitioned: m=6, per
    community e_c=3, d_c=6 -> Q = 2*(3/6 - (6/12)^2) = 0.5. One
    community holding everything scores 0."""
    from nextbus2pg_spark.operators.graph import modularity

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(tri1 + tri2, "src long, dst long")
    good = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3)] + [(n, 10) for n in (10, 11, 12)],
        "node long, label long",
    )
    r = modularity(edges, good).collect()[0]
    assert (r["m_edges"], r["n_communities"]) == (6, 2)
    assert r["modularity"] == 0.5

    lump = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3, 10, 11, 12)], "node long, label long"
    )
    assert modularity(edges, lump).collect()[0]["modularity"] == 0.0


def test_modularity_unlabeled_endpoint_rejected(spark):
    import pytest

    from nextbus2pg_spark.operators.graph import modularity

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    labels = spark.createDataFrame([(1, 1)], "node long, label long")
    with pytest.raises(ValueError, match="no label"):
        modularity(edges, labels)


def test_assortativity_star_is_negative_and_cycle_null(spark):
    """A star is maximally disassortative (r = -1: the hub's high
    degree always pairs with leaves' degree 1); a cycle is regular
    (zero degree variance -> NULL by the stats convention)."""
    from nextbus2pg_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    r = degree_assortativity(star).collect()[0]
    assert r["n_pairs"] == 10 and r["assortativity"] == -1.0

    cycle = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    r = degree_assortativity(cycle).collect()[0]
    assert r["assortativity"] is None


def test_triangle_count_max_degree_caps_hubs(spark):
    """max_degree drops hub nodes BEFORE wedge enumeration: a hub
    wired to every triangle corner disappears from the output and its
    wedges are never generated; the base triangle survives."""
    from nextbus2pg_spark.operators.graph import triangle_count

    tri = [(1, 2), (2, 3), (1, 3)]
    hub = [(9, n) for n in (1, 2, 3, 4, 5)]
    df = spark.createDataFrame(tri + hub, "src long, dst long")
    out = {r["node"]: r for r in triangle_count(
        df, max_degree=3
    ).collect()}
    assert 9 not in out  # the degree-5 hub is capped away
    assert out[1]["triangles"] == 1 and out[1]["degree"] == 2
    # 4 and 5 only touched the hub: gone with it
    assert set(out) == {1, 2, 3}
    # uncapped: the hub closes three extra triangles
    full = {r["node"]: r for r in triangle_count(df).collect()}
    assert full[9]["triangles"] == 3


def test_top_paths_null_mid_sequence_dropped(spark):
    """ADVICE r7: concat_ws silently skips NULLs, so an unguarded NULL
    mid-sequence folded 'a,NULL,b' into the shorter path 'a>b' and
    miscounted it; windows containing ANY NULL state must be dropped."""
    import datetime as dt

    from nextbus2pg_spark.operators.graph import top_paths

    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t, "a"), (1, t + dt.timedelta(minutes=1), None),
         (1, t + dt.timedelta(minutes=2), "b"),
         (1, t + dt.timedelta(minutes=3), "c")],
        "user long, ts timestamp, state string",
    )
    out = [(r["path"], r["n"]) for r in top_paths(
        df, "user", "ts", "state", length=2, k=5,
        order_cols=["user"],
    ).collect()]
    # windows (a,NULL) and (NULL,b) drop; only (b,c) survives — no
    # phantom 'a>b' from the NULL being skipped by concat_ws
    assert out == [("b>c", 1)]
    assert top_paths(
        df, "user", "ts", "state", length=3, k=5, order_cols=["user"]
    ).isEmpty()  # every trigram window touches the NULL


def test_link_prediction_hand_computed(spark):
    """Path graph 1-2-3-4: the two missing wedge-closing links are
    (1,3) via center 2 and (2,4) via center 3, each with one common
    neighbor of degree 2 — RA = 0.5, Jaccard = 0.5; existing edges
    never appear; the hub cap empties the candidate set when every
    wedge center exceeds it."""
    from nextbus2pg_spark.operators.graph import link_prediction

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {(r["node_a"], r["node_b"]): r.asDict() for r in
           link_prediction(edges).collect()}
    assert set(got) == {(1, 3), (2, 4)}
    for k in got:
        assert got[k]["common_neighbors"] == 1
        assert got[k]["resource_allocation"] == 0.5
        assert got[k]["jaccard"] == 0.5
    assert link_prediction(edges, max_degree=1).isEmpty()
    # direction and duplicates are normalized away
    noisy = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (3, 4), (4, 3)], "src long, dst long"
    )
    got2 = {(r["node_a"], r["node_b"]) for r in
            link_prediction(noisy).collect()}
    assert got2 == {(1, 3), (2, 4)}
