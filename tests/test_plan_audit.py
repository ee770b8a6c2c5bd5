"""Executable physical-plan audits (SURVEY.md §4, PERF.md): the
properties the 100 TB design depends on — filter pushdown, column
pruning, broadcast-only dimension joins, partial aggregation, and
shuffle-free narrow transforms — asserted on the actual plans so they
can't silently regress.
"""

from __future__ import annotations

import re

import pytest

from nextbus2pg_spark.plans import QUERIES
from tests.conftest import SF_DIR


def plan_text(df) -> str:
    """Formatted physical plan (pre-execution; explicit broadcast hints
    already appear here — AQE runtime conversions would not)."""
    jdf = df._jdf
    try:
        return df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            jdf.queryExecution(), "formatted"
        )
    except Exception:
        return jdf.queryExecution().executedPlan().toString()


def q(spark, name):
    return QUERIES[name](spark, SF_DIR)


def test_q6_pushdown_and_pruning(spark):
    """The whole Q6 predicate reaches the parquet scan, and only the
    four referenced columns are read."""
    p = plan_text(q(spark, "q_tpch_q6"))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert pushed, p
    assert "l_quantity" in pushed.group(1)
    assert "l_discount" in pushed.group(1)
    schema = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = [c.split(":")[0] for c in schema.group(1).split(",") if c]
    assert sorted(cols) == [
        "l_discount", "l_extendedprice", "l_quantity", "l_shipdate",
    ]


def test_incremental_scan_pushes_raw_column_filter(spark):
    """The incremental filter pushes on the PHYSICAL ns-long column
    (a derived-timestamp filter would not push; catalog.py docstring)."""
    p = plan_text(q(spark, "q_scan_incremental"))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert pushed and "ts" in pushed.group(1), p


@pytest.mark.parametrize(
    "name",
    [
        "q_flagship_latest",
        "q_join_broadcast",
        "q_tpch_q5",
        "q_tpch_q10",
        "q_tpch_q14",
        "q_asof_join",
    ],
)
def test_dimension_joins_broadcast_without_smj(spark, name):
    """Every dimension join broadcasts — zero SortMergeJoin in the
    declared plan (PERF.md scale rule 1: the fact side never shuffles
    for enrichment)."""
    p = plan_text(q(spark, name))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


@pytest.mark.parametrize("name", ["q_tpch_q1", "q_tumbling_window"])
def test_aggregates_have_mapside_partial(spark, name):
    """groupBy compiles to partial+final HashAggregate pairs: the
    shuffle carries only distinct keys (map-side combine)."""
    p = plan_text(q(spark, name))
    assert len(re.findall(r"HashAggregate", p)) >= 2, p


@pytest.mark.parametrize("name", ["q_unpivot", "q_project_rename", "q_bool_cast"])
def test_narrow_transforms_do_not_shuffle(spark, name):
    """Pure projections/expansions stay inside the scan's partitions —
    no Exchange anywhere in the plan."""
    p = plan_text(q(spark, name))
    assert "Exchange" not in p, p


def test_q18_preaggregates_before_join(spark):
    """Q18's fact pre-aggregation happens BEFORE the joins: the first
    HashAggregate's child is the lineitem scan, not a join (PERF.md:
    shuffle the fact once at order grain, then join the survivors)."""
    p = plan_text(q(spark, "q_tpch_q18"))
    # Formatted explain numbers nodes leaf-first, so "aggregate before
    # join" means every HashAggregate node id is smaller than every
    # join node id.
    agg_ids = [int(n) for n in re.findall(r"HashAggregate \((\d+)\)", p)]
    join_ids = [int(n) for n in re.findall(r"Join \w+ \w+ \((\d+)\)", p)]
    assert agg_ids and join_ids, p
    assert max(agg_ids) < min(join_ids), p


def _bounded_hints_only(df, max_hints: int = 0) -> None:
    """Assert no broadcast HINT is pinned on a corpus-derived relation.

    Stats-based broadcast choices (planner/AQE) are deliberately allowed
    — they adapt when the measured size grows. What must not exist is a
    ``ResolvedHint`` whose subtree scales with the corpus; the only
    hints permitted are on constant-cardinality ``Range`` relations
    (permutation / bit-id frames)."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    hint_lines = [i for i, l in enumerate(lines) if "ResolvedHint" in l]
    assert len(hint_lines) <= max_hints, analyzed
    for i in hint_lines:
        window = "\n".join(lines[i : i + 3])
        assert "Range (" in window, (
            "broadcast hint on a non-bounded relation:\n" + window
        )


def test_minhash_pairing_no_corpus_broadcast_hint(spark):
    """Full declarative MinHash-LSH plan (no checkpoint boundaries):
    zero broadcast hints anywhere — band/candidate/shingle relations all
    grow with the corpus — and the pairing never degrades to an
    all-pairs comparison (no cartesian product)."""
    from nextbus2pg_spark.catalog import load_table
    from nextbus2pg_spark.operators import dedup as dd

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pairs = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", materialize=False
    )
    _bounded_hints_only(pairs, max_hints=0)
    p = plan_text(pairs)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_simhash_pairing_no_corpus_broadcast_hint(spark):
    """Full declarative SimHash plan: the only broadcast hint is the
    constant bit-id Range (bounded by ``bits``; replicated 4x because
    the unmaterialized fingerprint subtree appears under bands a/b and
    verify a/b); band and fingerprint sides are unhinted, and no
    cartesian product exists (the bit-id cross join rides the bounded
    broadcast)."""
    from nextbus2pg_spark.catalog import load_table
    from nextbus2pg_spark.operators import dedup as dd

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pairs = dd.simhash_pairs(docs, "doc_id", "text", materialize=False)
    _bounded_hints_only(pairs, max_hints=4)
    p = plan_text(pairs)
    assert "CartesianProduct" not in p, p


def test_whole_stage_codegen_covers_hot_expressions(spark):
    """The scalar-expression fixture stays inside WholeStageCodegen
    (no interpreted projection in the hot path)."""
    p = plan_text(q(spark, "q_event_time_derive"))
    # Formatted mode tags codegen'd operators with "[codegen id : N]"
    # (the literal WholeStageCodegen node only appears in simple mode).
    assert "[codegen id :" in p, p
    # In the tree view codegen'd operators carry a "*" prefix; assert
    # no bare (interpreted) Project line exists.
    tree = p.split("\n\n")[0]
    for line in tree.splitlines():
        if "Project" in line:
            assert "* Project" in line, line


def test_spatial_grid_join_no_cartesian(spark):
    """The nearest-site distance join is a grid-cell equi-join: no
    cartesian product, no broadcast nested loop, and no broadcast HINT
    pinned on either side (AQE may still broadcast the measured-small
    sites side at runtime)."""
    df = q(spark, "q_nearest_site")
    _bounded_hints_only(df, max_hints=0)
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # Winner selection is min_by aggregation — partial+final pairs
    # (min_by over a struct ordering compiles to SortAggregate), never
    # a ranking window sort.
    assert len(re.findall(r"(Hash|Sort)Aggregate", p)) >= 2, p
    assert "Window" not in p, p


def test_scd2_merge_plan_shape(spark):
    """SCD2 merge stays equi-join shaped: no cartesian product and no
    window sort. (Catalyst rewrites the full-outer into per-branch
    outer/inner joins because each union branch filters one side's
    null-ness — strictly better than a single full-outer, so the test
    pins only the invariants, not the join flavor.)"""
    p = plan_text(q(spark, "q_scd2_merge"))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Window" not in p, p


def test_sliding_window_partial_aggregates(spark):
    """The hopping-window rollup keeps partial+final HashAggregate
    pairs — the x2 window replication happens map-side, the shuffle
    carries partials."""
    p = plan_text(q(spark, "q_sliding_window"))
    assert len(re.findall(r"HashAggregate", p)) >= 2, p


def test_sessionize_windows_bounded_per_key(spark):
    """Round-2 verdict next-round #7: every window in q_sessionize must
    be key-partitioned (a windowspec without partition columns means a
    single-partition global sort — the 100 TB killer), and the lag +
    running-sum windows must share ONE user_id shuffle, not stack two."""
    df = q(spark, "q_sessionize")
    p = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    for spec in specs:
        # partition cols precede the ORDER BY entries; a global window
        # starts straight at an "ASC NULLS" ordering clause.
        assert spec.split(",")[0].strip().startswith("user_id"), spec
    assert p.count("Exchange") == 1, p


def test_doc_chunks_is_shuffle_free(spark):
    """chunk_documents is pure per-row array arithmetic — the plan must
    carry ZERO Exchange operators (fully parallel, no data movement)."""
    p = plan_text(q(spark, "q_doc_chunks"))
    assert "Exchange" not in p, p
    assert "Window" not in p, p


def test_language_balance_corpus_joins_broadcast(spark):
    """The corpus side of language_balance only ever meets the tiny
    per-language rate relation via broadcast — no SortMergeJoin (a
    corpus shuffle for a <100-row dimension) can appear."""
    p = plan_text(q(spark, "q_language_balance"))
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_line_dedup_single_pass_no_cartesian(spark):
    """line_dedup marks owners with a line-hash-partitioned window
    min-struct over ONE exchange of the exploded corpus: every
    windowspec must be __h-partitioned (no global sort), the corpus
    scans once, and no cartesian / nested-loop shapes appear."""
    df = q(spark, "q_line_dedup")
    p = plan_text(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    for spec in specs:
        assert spec.split(",")[0].strip().startswith("__h"), spec
    assert p.count("FileScan") <= 1, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_feed_transform_is_shuffle_free(spark):
    """The streaming hot-path projection (casts, point struct, event
    time) must compile to a pure map — zero Exchange, zero Window, no
    Python UDFs (everything whole-stage-codegen-able)."""
    p = plan_text(q(spark, "q_feed_transform"))
    assert "Exchange" not in p, p
    assert "Window" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_bloom_decontaminate_corpus_never_sortmerges_eval(spark):
    """Bloom decontamination's corpus side meets only (a) the 1-row
    broadcast bitset and (b) — AFTER the bloom filter prunes it to a
    sliver — the broadcast eval shingle set. A SortMergeJoin (i.e. a
    full corpus-shingle shuffle against the eval set) must never
    appear; the only shuffle is the final per-id count aggregation."""
    p = plan_text(q(spark, "q_bloom_decontaminate"))
    assert "SortMergeJoin" not in p, p
    assert "xxhash64" in p, p  # the codegen'd bloom probes are present


def test_substring_dedup_single_pass_no_cartesian(spark):
    """substring_span_dedup identifies duplicate occurrences with
    gram-key-partitioned window aggregates over ONE exchange of the
    occurrence stream — every windowspec must be __h-partitioned (a
    spec without partition columns = single-partition global sort, the
    100 TB killer), the corpus must be scanned at most twice (once for
    the n-gram pass, once for the rebuild join — the old
    aggregate-then-self-join shape scanned it three times), and no
    cartesian / nested-loop / Python-eval shapes appear."""
    df = q(spark, "q_substring_dedup")
    p = plan_text(df)
    import re as _re

    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p
    for spec in specs:
        assert spec.split(",")[0].strip().startswith("__h"), spec
    assert p.count("FileScan") <= 2, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_contamination_frac_corpus_side_broadcast_only(spark):
    """contamination_fraction joins the corpus shingles to the eval
    set via broadcast only — a SortMergeJoin would shuffle every
    corpus shingle against a benchmark-sized relation."""
    p = plan_text(q(spark, "q_contamination_frac"))
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_interval_join_no_cartesian(spark):
    """The interval join must ride the user_id equi key (hash or
    broadcast join) with the time band as an in-join predicate — a
    CartesianProduct / BroadcastNestedLoopJoin would mean the range
    condition became the join itself."""
    p = plan_text(q(spark, "q_interval_join"))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_url_canon_is_shuffle_free(spark):
    """normalize_url/url_host/registrable_domain are pure codegen'd
    expression chains — the whole q_url_canon plan must carry ZERO
    Exchange operators and no Python evaluation."""
    p = plan_text(q(spark, "q_url_canon"))
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_histogram_quantile_single_partial_agg(spark):
    """The histogram sketch is one partial-aggregatable pass: exactly
    one shuffle (on the tiny group key), map-side partial HashAggregate
    before it, and no Window/sort over the events table (the whole
    point vs exact percentiles)."""
    p = plan_text(q(spark, "q_histogram_quantile"))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert "partial" in p.lower(), p
    assert "Window" not in p, p
    assert not re.search(r"\(\d+\) Sort\b", p), p


def test_heavy_hitters_bounded_sketch_joins(spark):
    """The CMS build explodes map-side into one bounded aggregation and
    every probe join is broadcast (sketch and candidate sides are both
    bounded) — the corpus must never reach a SortMergeJoin or
    cartesian."""
    p = plan_text(q(spark, "q_heavy_hitters"))
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_oov_ratio_model_joins_broadcast(spark):
    """The top-k n-gram model is bounded and must meet the exploded
    corpus by broadcast; scoring is hash-aggregated (map-side partial),
    never a corpus sort."""
    p = plan_text(q(spark, "q_oov_ratio"))
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "partial" in p.lower(), p


def test_tfidf_no_forced_broadcast_on_docfreq(spark):
    """Round-6 policy, third site: the vocabulary-sized docfreq
    relation carries NO forced broadcast hint (the only hint allowed
    is the 1-row corpus-size aggregate, which _bounded_hints_only
    cannot distinguish from a Range — so assert directly on the hinted
    subtree); aggregation stays map-side partial."""
    df = q(spark, "q_tfidf_topterms")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    for i, l in enumerate(lines):
        if "ResolvedHint" not in l:
            continue
        window = "\n".join(lines[i : i + 6])
        assert "Aggregate" in window and "count(1)" in window, (
            "broadcast hint on something other than the 1-row "
            "corpus-size aggregate:\n" + window
        )
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "partial" in p.lower(), p


def test_lm_logprob_no_forced_hints_partial_aggs(spark):
    """The bigram-LM model joins (vocabulary-sized c2/ctx relations)
    are strategy-unpinned — no forced broadcast hint anywhere — and
    every count aggregate is map-side partial; no cartesian."""
    df = q(spark, "q_lm_logprob")
    _bounded_hints_only(df)
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "partial" in p.lower(), p


def test_bm25_stats_broadcast_topk_is_sort_limit(spark):
    """BM25's corpus stats are a broadcast 1-row aggregate; the top-k
    is TakeOrdered (per-partition partial top-k), NEVER a global sort
    of the scored corpus; scoring aggregates are map-side partial."""
    p = plan_text(q(spark, "q_bm25_topk"))
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "TakeOrdered" in p, p
    assert "partial" in p.lower(), p


def test_epoch_shuffle_is_shuffle_free(spark):
    """epoch_shuffle's key/shard derivation is a pure map-side
    expression chain — the only Exchange allowed in the fixture plan is
    the per-shard window's (which exists to PROVE the order; the export
    itself uses repartition + sortWithinPartitions)."""
    from nextbus2pg_spark.operators.curation import epoch_shuffle
    from nextbus2pg_spark.catalog import load_table

    df = load_table(spark, SF_DIR, "documents")
    p = plan_text(epoch_shuffle(df, ["doc_id"], epoch=1, n_shards=8))
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_setsim_join_no_cartesian_no_forced_broadcast(spark):
    """The exact set-similarity join must reach its candidates through
    the prefix-token equi-join — never a cartesian/BNLJ. The frequency
    join's STRATEGY is deliberately unpinned (round-6 policy): the
    vocabulary grows with the corpus, so the planner/AQE must be free
    to pick broadcast (small data) or shuffle (web scale); what must
    NOT exist is a forced broadcast hint on the vocabulary side."""
    p = plan_text(q(spark, "q_setsim_join"))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    _bounded_hints_only(q(spark, "q_setsim_join"))


def test_leakage_safe_split_no_forced_broadcast(spark):
    """The corpus meets the component relation through an equi-join
    whose strategy is deliberately unpinned (round-6 policy): near-dup
    components are a corpus FRACTION on real crawls, so the planner/
    AQE must be free to shuffle when the measured size demands it. No
    forced broadcast hint may be pinned on the component side, and the
    split label stays a pure projection on top of the join."""
    from nextbus2pg_spark.catalog import load_table
    from nextbus2pg_spark.operators.curation import leakage_safe_split

    docs = load_table(spark, SF_DIR, "documents")
    edges = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long"
    )
    out = leakage_safe_split(docs, "doc_id", edges)
    p = plan_text(out)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    _bounded_hints_only(out)


def test_bpe_token_count_encode_is_single_python_stage(spark):
    """bpe_encode ships the merge list in the closure: the encode plan
    is scan → ONE Arrow mapInPandas stage — no join against a merge
    table, no shuffle, output rows = input rows."""
    from nextbus2pg_spark.catalog import load_table
    from nextbus2pg_spark.operators.bpe import bpe_encode

    docs = load_table(spark, SF_DIR, "documents")
    p = plan_text(bpe_encode(docs, "doc_id", "text", [("a", "b")]))
    # one tree node (it also appears once more in the detail section)
    assert p.count("MapInPandas (") == 1, p
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_pagerank_iteration_plan_shape(spark):
    """One PageRank power-method round (the exact `_pagerank_round`
    the loop checkpoints): pure JVM expressions — no Python eval stage
    — no cartesian/BNLJ, partial aggregation on the scale-mode
    contribution sum, and NO forced broadcast hint anywhere (the node
    and rank frames scale with the graph; strategy belongs to the
    planner/AQE, round-6 policy)."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.operators.graph import _pagerank_round

    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (2, 0, 1.0)], "src long, dst long, w double"
    )
    nodes = e.select(F.col("src").alias("node")).unionByName(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    outw = e.groupBy("src").agg(F.sum("w").alias("wout"))
    # The loop-invariant edge ⋈ out-weight pre-join the r13 hoist
    # computes once outside the round (operators/graph.pagerank);
    # checkpointed there, so the round sees it as a leaf relation.
    ew = e.join(outw, "src").localCheckpoint(eager=False)
    ranks = nodes.withColumn("rank", F.lit(1.0 / 3))
    for det in (False, True):
        df = _pagerank_round(ew, nodes, ranks, 0.85, 0.05, 0.0, det)
        p = plan_text(df)
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        # exactly ONE rank-dependent join per round plus the left join
        # back onto the node set: the r13 hoist moved the invariant
        # e ⋈ outw join out of the round, so the optimized logical
        # plan must carry exactly TWO Join nodes (it had three).
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        n_joins = sum(
            1 for line in opt.splitlines() if line.lstrip("+-: ").startswith("Join ")
        )
        assert n_joins == 2, opt
        _bounded_hints_only(df)
    # scale mode's sum must be map-side partial
    p = plan_text(_pagerank_round(ew, nodes, ranks, 0.85, 0.05, 0.0, False))
    assert "partial" in p.lower(), p


def test_perceptron_round_plan_shape(spark):
    """One perceptron scoring pass (the margins join the training loop
    repeats): pure JVM expressions, no cartesian/BNLJ, no Python eval,
    no forced broadcast hint (the weight frame is dim-sized — measured
    small, so the planner broadcasts it on its own), and the
    scale-mode margin sum is map-side partial."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.operators.classifier import _margins

    feats = spark.createDataFrame(
        [(1, 0, 1.0), (1, 1, 2.0), (2, 1, 1.0)],
        "id long, feat long, val double",
    )
    w = spark.range(4).select(
        F.col("id").alias("feat"), F.lit(0.5).alias("w")
    )
    for det in (False, True):
        p = plan_text(_margins(feats, w, det))
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        _bounded_hints_only(_margins(feats, w, det))
    assert "partial" in plan_text(_margins(feats, w, False)).lower()


def test_lpa_round_plan_shape(spark):
    """One synchronous label-propagation round (the exact `_lpa_round`
    the loop checkpoints): pure JVM expressions, no cartesian/BNLJ,
    map-side partial vote counting, and NO forced broadcast hint (the
    label frame scales with the graph — strategy belongs to the
    planner/AQE, round-6 policy)."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.operators.graph import _lpa_round

    sym = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "node long, nb long"
    )
    labels = sym.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    df = _lpa_round(sym, labels)
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "partial" in p.lower(), p
    _bounded_hints_only(df)


def test_pmi_hint_only_on_totals_topk_is_sort_limit(spark):
    """PMI's unigram/pair count tables are vocabulary-sized and
    strategy-unpinned (round-6 policy); the only forced hint is the
    1-row totals aggregate; top-k is TakeOrdered, never a global
    sort; counting is map-side partial."""
    df = q(spark, "q_pmi_collocations")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    for i, l in enumerate(lines):
        if "ResolvedHint" not in l:
            continue
        window = "\n".join(lines[i : i + 6])
        assert "Aggregate" in window and "sum" in window, (
            "broadcast hint on something other than the 1-row totals "
            "aggregate:\n" + window
        )
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "TakeOrdered" in p, p
    assert "partial" in p.lower(), p


def test_pca_projection_is_map_only(spark):
    """The PCA projection pass (the only data-sized relation the
    operator returns) is map-only: literal mean/component arrays, no
    Exchange, no join, no Python eval — the training collects are
    bounded (d and d^2 rows) and happen before this plan exists."""
    df = q(spark, "q_pca_project")
    p = plan_text(df)
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_rolling_anomaly_single_window_pass(spark):
    """rolling_anomaly is ONE bounded-frame window pass: a single
    Window node, no join, no Python eval, and the frame's sums are
    integers (the quantize cast appears in the plan)."""
    df = q(spark, "q_rolling_anomaly")
    p = plan_text(df)
    assert p.count("Window") >= 1, p
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_grouped_corr_single_partial_agg_no_join(spark):
    """grouped_pearson is one hash aggregation with map-side partials
    over decimal accumulators — no join, no window, no Python."""
    df = q(spark, "q_grouped_corr")
    p = plan_text(df)
    assert "partial" in p.lower(), p
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_fuzzy_join_candidates_equi_join_only(spark):
    """The edit-distance join must reach candidates through the
    deletion-variant EQUI-join — never a cartesian/BNLJ — with no
    forced broadcast hint (both variant sides scale with their
    tables); levenshtein runs once per candidate row, above the
    join."""
    df = q(spark, "q_fuzzy_join")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "levenshtein" in p, p
    _bounded_hints_only(df)


def test_triangle_count_no_hints_partial_aggs(spark):
    """Wedge enumeration is equi-self-join + semi-join shaped (never
    cartesian), strategies unpinned, and both the per-node triangle
    and degree counts aggregate map-side partial."""
    df = q(spark, "q_triangle_count")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "LeftSemi" in p, p
    assert "partial" in p.lower(), p
    _bounded_hints_only(df)


def test_mad_outliers_no_window_no_cartesian(spark):
    """Both medians are GROUPED aggregations joined back by group key
    — no window over the data, no cartesian, strategies unpinned."""
    df = q(spark, "q_mad_outliers")
    p = plan_text(df)
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p
    _bounded_hints_only(df)


def test_ks_drift_collapses_before_single_partition_window(spark):
    """The exact-KS sequential piece (the single-partition cumulative
    window) must run over the DISTINCT-VALUE relation, never the data:
    every hash aggregate that feeds it sits BELOW the window in the
    plan, the totals ride the same window pass (ONE scan of the fact
    table, no join anywhere), and exactly one SinglePartition exchange
    exists."""
    df = q(spark, "q_ks_drift")
    p = plan_text(df)
    agg_ids = [int(n) for n in re.findall(r"HashAggregate \((\d+)\)", p)]
    win_ids = [int(n) for n in re.findall(r"Window \((\d+)\)", p)]
    assert agg_ids and win_ids, p
    # formatted-plan ids number bottom-up (leaves smallest): the
    # collapsing aggregates must all sit BELOW the window
    assert max(agg_ids) < min(win_ids), p
    assert "SinglePartition" in p, p
    # totals share the pass: exactly one scan node in the tree
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", p)) == 1, p
    assert "Join" not in p, p
    _bounded_hints_only(df)


def test_cohens_kappa_hint_only_on_bounded_aggregates(spark):
    """kappa's only join inputs are 1-row aggregates and
    category-sized marginals; the sole broadcast hint sits on the
    1-row chance-product aggregate."""
    df = q(spark, "q_cohens_kappa")
    p = plan_text(df)
    assert "CartesianProduct" not in p or "partial" in p.lower(), p
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    for i, l in enumerate(lines):
        if "ResolvedHint" not in l:
            continue
        window = "\n".join(lines[i : i + 6])
        assert "Aggregate" in window, (
            "broadcast hint on an unbounded relation:\n" + window
        )


def test_cusum_fold_path_is_jvm_only(spark):
    """At fixture scale the fold path must run with zero Python
    stages: one window pass, the two integer folds as JVM expressions."""
    p = plan_text(q(spark, "q_cusum"))
    for marker in ("FlatMapGroupsInPandas", "ArrowEvalPython",
                   "BatchEvalPython"):
        assert marker not in p, p
    assert len(re.findall(r"Window \(\d+\)", p)) == 1, p


def test_kcore_final_degrees_semi_join_partial_agg(spark):
    """The k-core result relation re-derives degrees on the surviving
    subgraph: two left-semi filters onto the (checkpointed) alive set
    and one map-side-partial count — no hints, no cartesian."""
    df = q(spark, "q_kcore")
    p = plan_text(df)
    assert p.count("LeftSemi") >= 2, p
    assert "partial" in p.lower(), p
    assert "CartesianProduct" not in p, p
    _bounded_hints_only(df)


def test_holt_fold_path_is_jvm_only(spark):
    """At fixture scale the Holt struct fold runs with zero Python
    stages and exactly one window pass."""
    p = plan_text(q(spark, "q_holt"))
    for marker in ("FlatMapGroupsInPandas", "ArrowEvalPython",
                   "BatchEvalPython"):
        assert marker not in p, p
    assert len(re.findall(r"Window \(\d+\)", p)) == 1, p


def test_top_paths_topk_is_sort_limit_partial_agg(spark):
    """Path counting is map-side partial and the top-k is
    TakeOrdered (per-partition partial top-k), never a global sort of
    the path relation."""
    p = plan_text(q(spark, "q_top_paths"))
    assert "TakeOrdered" in p, p
    assert "partial" in p.lower(), p
    assert "CartesianProduct" not in p, p


def test_welch_t_single_scan_partial_agg_no_join(spark):
    """Both groups' moment sums accumulate in ONE pass over the fact
    table — a single scan, map-side partial aggregation, and no join
    anywhere in the plan."""
    p = plan_text(q(spark, "q_welch_t"))
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", p)) == 1, p
    assert "Join" not in p, p
    assert "partial" in p.lower(), p


def test_rank_auc_collapses_before_single_partition_window(spark):
    """The exact-AUC sequential piece (midranks) runs over the
    DISTINCT-VALUE relation: the collapsing hash aggregate sits below
    the window, one scan, no join (the KS-shape contract)."""
    df = q(spark, "q_rank_auc")
    p = plan_text(df)
    agg_ids = [int(n) for n in re.findall(r"HashAggregate \((\d+)\)", p)]
    win_ids = [int(n) for n in re.findall(r"Window \((\d+)\)", p)]
    assert agg_ids and win_ids, p
    assert min(agg_ids) < min(win_ids), p  # the collapse feeds the window
    assert "SinglePartition" in p, p
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", p)) == 1, p
    assert "Join" not in p, p
    _bounded_hints_only(df)


def test_adjusted_rand_bounded_hints_and_no_data_cartesian(spark):
    """ARI's only cross joins carry 1-row margin aggregates (bounded by
    construction); the contingency table is one hash aggregation — no
    window, no data-sized cartesian."""
    df = q(spark, "q_adjusted_rand")
    p = plan_text(df)
    assert "Window" not in p, p
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    for i, l in enumerate(lines):
        if "ResolvedHint" in l:
            window = "\n".join(lines[i : i + 4])
            assert "Aggregate" in window, (
                "broadcast hint on a non-aggregate relation:\n" + window
            )


def test_bh_fdr_window_over_distinct_collapse_only(spark):
    """The BH rank window is single-partition but runs over the
    DISTINCT p-value relation — the collapsing hash aggregate sits
    BELOW the (single) window in the plan; the input rows are never
    globally sorted."""
    df = q(spark, "q_bh_fdr")
    p = plan_text(df)
    win_ids = [int(n) for n in re.findall(r"Window \((\d+)\)", p)]
    assert len(win_ids) == 1, p
    agg_ids = [int(n) for n in re.findall(r"HashAggregate \((\d+)\)", p)]
    assert agg_ids and min(agg_ids) < win_ids[0], p
    assert "SinglePartition" in p, p
    # no global Sort node outside the window's own distinct-sized sort
    sort_ids = [int(n) for n in re.findall(r"Sort \((\d+)\)", p)]
    assert all(s < win_ids[0] + 2 for s in sort_ids), p


def test_frequent_pairs_partial_agg_no_cartesian(spark):
    """Pair enumeration is a basket equi-self-join (never cartesian);
    pair counts partial-aggregate map-side; no unbounded hints."""
    df = q(spark, "q_frequent_pairs")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "partial" in p.lower(), p
    _bounded_hints_only(df)


def test_link_prediction_wedge_join_no_hints(spark):
    """Wedge enumeration is the center-node equi-self-join (the
    triangle shape), the existing-edge exclusion is a LeftAnti, and no
    broadcast hint is pinned anywhere (every relation scales with the
    graph)."""
    df = q(spark, "q_link_prediction")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "LeftAnti" in p, p
    _bounded_hints_only(df)


def test_containment_pairs_no_allpairs_no_hints(spark):
    """Containment candidates come from the shingle equi-join (never a
    cartesian), the threshold gate is an integer comparison applied
    before the division, and no broadcast hint pins a corpus-derived
    relation."""
    df = q(spark, "q_containment_pairs")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "partial" in p.lower(), p
    _bounded_hints_only(df)


def test_semantic_dedup_pairs_confined_to_cells(spark):
    """SemDeDup's quadratic comparison is cell-local: the pair join is
    an equi-join on centroid_id (never a corpus cartesian); the only
    nested-loop/cartesian joins in the plan carry the broadcast
    centroid frame (bounded by n_centroids) during assignment."""
    df = q(spark, "q_semantic_dedup")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    for i, l in enumerate(lines):
        if "ResolvedHint" in l:
            window = "\n".join(lines[i : i + 6])
            assert "centroid" in window or "LogicalRDD" in window or \
                "Aggregate" in window, (
                    "hint on a non-centroid relation:\n" + window
                )


def test_theil_sen_median_over_distinct_collapse(spark):
    """Theil-Sen's median runs over the DISTINCT-slope relation per
    group (the KS/BH shape): the collapsing hash aggregate sits below
    the windows, the pair join is group-keyed (no cartesian), and no
    unbounded broadcast hint exists. Since r13 the per-group pair
    total is a second (whole-partition) window over the SAME distinct
    relation instead of a join back onto a re-built pair subtree —
    the two Window nodes must be ADJACENT (consecutive ids, one
    shared exchange), with no join between them."""
    df = q(spark, "q_theil_sen")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    win_ids = sorted(
        int(n) for n in re.findall(r"Window \((\d+)\)", p)
    )
    agg_ids = [int(n) for n in re.findall(r"HashAggregate \((\d+)\)", p)]
    assert len(win_ids) == 2 and agg_ids, p
    assert win_ids[1] == win_ids[0] + 1, p  # adjacent: shared exchange
    assert min(agg_ids) < win_ids[0], p
    _bounded_hints_only(df)


def test_dsir_sample_plan_shape(spark):
    """DSIR (round 9): no cartesian/nested-loop/sort-merge join — the
    ratio table broadcasts onto the per-doc feature counts — and
    selection is TakeOrdered (per-partition partial top-k), never a
    global Sort+Limit of the scored corpus."""
    p = plan_text(q(spark, "q_dsir_sample"))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "TakeOrdered" in p, p


def test_random_projection_plan_is_one_broadcast_map_pass(spark):
    """JL projection (round 9): ZERO shuffle exchanges — the generated
    sign matrix broadcasts (the one BroadcastNestedLoopJoin is the
    INTENDED bounded cross join: out_dim rows against the corpus);
    the corpus side is a single map pass."""
    p = plan_text(q(spark, "q_random_projection"))
    assert "Exchange hashpartitioning" not in p, p
    assert "Exchange rangepartitioning" not in p, p
    assert "SortMergeJoin" not in p, p
    # the formatted explain prints each node in both the tree and the
    # detail section — assert presence + build side, not a count
    assert "BroadcastNestedLoopJoin Cross BuildRight" in p, p


def test_media_cross_format_plan_no_shuffle_before_pair_join(spark):
    """Cross-format dHash (round 9): the decode->hash chain is
    shuffle-free mapInPandas stages; the only join is the bounded
    per-document PNG-vs-JPEG pair join."""
    p = plan_text(q(spark, "q_media_cross_format"))
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p


def test_perplexity_buckets_approx_path_has_no_window(spark):
    """CCNet bucketing's 100 TB path (round 10): scale='approx' must
    bucket against approx_percentile thresholds broadcast back onto
    the corpus — NO window operator anywhere in the plan (the exact
    path's per-language NTILE funnels a mono-lingual corpus through
    one sort partition) and no sort-merge join."""
    from nextbus2pg_spark.operators.textstats import perplexity_buckets
    from nextbus2pg_spark.plans.fixtures import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = perplexity_buckets(
        docs, "doc_id", "text", "lang", n_buckets=3, scale="approx"
    )
    p = plan_text(df)
    assert "Window" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_perplexity_buckets_exact_path_keeps_ntile(spark):
    """The oracle-parity path is unchanged: one window, rank-exact."""
    from nextbus2pg_spark.operators.textstats import perplexity_buckets
    from nextbus2pg_spark.plans.fixtures import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = perplexity_buckets(
        docs, "doc_id", "text", "lang", n_buckets=3, scale="exact"
    )
    assert "Window" in plan_text(df)


def test_cdx_manifest_plan_is_jvm_only_with_bounded_shuffles(spark):
    """CDX selection (round 10): the index parse must stay entirely
    JVM-side — no Python evaluation anywhere in the plan — and the
    digest-dedup + manifest reduction are aggregates (map-side
    partials), never a window or cartesian."""
    p = plan_text(q(spark, "q_cdx_manifest"))
    assert "ArrowEvalPython" not in p, p
    assert "BatchEvalPython" not in p, p
    assert "FlatMapsInPandas" not in p and "MapInPandas" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p


def test_c4_clean_plan_is_one_map_pass(spark):
    """C4 cleaning (round 10): line decisions are per-page-local, so
    the whole query must be a single scan-project-filter — zero
    exchanges, zero joins, zero Python."""
    p = plan_text(q(spark, "q_c4_clean"))
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    assert "ArrowEvalPython" not in p and "MapInPandas" not in p, p


def test_crawl_to_corpus_plan_has_no_cartesian_or_unbounded_hint(spark):
    """The capstone composition (round 10): every pair generator in it
    is bucketed (LSH bands), every dim join bounded — no cartesian,
    no nested-loop join anywhere in the 6-stage plan."""
    df = q(spark, "q_crawl_to_corpus")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    _bounded_hints_only(df)


def test_cdx_delta_plan_single_digest_join(spark):
    """Crawl delta (round 10): two bounded aggregates + ONE equi-join
    on digest — no cartesian, no nested loop, no window; JVM-only."""
    p = plan_text(q(spark, "q_cdx_delta"))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Window" not in p, p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p, p


def test_robots_frontier_rules_join_is_broadcast(spark):
    """Frontier filtering (round 10): the rule table is bounded by the
    robots corpus and must broadcast onto the frontier — no sort-merge
    join against the URL side, no cartesian."""
    p = plan_text(q(spark, "q_robots_frontier"))
    assert "CartesianProduct" not in p, p
    # per-domain windows parse the (tiny) robots files; the frontier
    # side itself must never window — windows only under the rule
    # derivation, which the bounded robots corpus feeds. Assert the
    # rule join onto URLs is a broadcast hash join.
    assert "BroadcastHashJoin" in p, p


def test_media_vad_and_scene_cuts_are_shuffle_free_chains(spark):
    """The new media stages (round 10): synthesize → decode chains are
    pure mapInPandas pipelines — zero exchanges."""
    for name in ("q_media_vad", "q_media_scene_cuts"):
        p = plan_text(q(spark, name))
        assert "Exchange hashpartitioning" not in p, (name, p)
        assert "Join" not in p, (name, p)


def test_warc_charset_plan_is_archive_parallel_chain(spark):
    """Charset ingestion (round 11): build → parse is the standard
    one-archive-per-task Arrow chain — the only exchange is the
    archive grouping, never a join, window, or cartesian."""
    p = plan_text(q(spark, "q_warc_charset"))
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p


def test_warc_revisit_plan_equi_joins_only(spark):
    """Revisit resolution (round 11): the refers_to and digest lookups
    are key-unique EQUI-joins (the digest side collapses to one row
    per digest first) — no cartesian, no nested-loop join, no forced
    broadcast hint on a corpus-sized side."""
    df = q(spark, "q_warc_revisit")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    _bounded_hints_only(df)


def test_robots_wildcard_rules_keep_broadcast_and_fast_path(spark):
    """RFC 9309 wildcard matching (round 11): the regex translation
    happens at RULE-PARSE time (bounded side), so the frontier match
    is still one broadcast join — and plain-prefix rules keep the
    startswith fast path (the plan carries BOTH a StartsWith and an
    RLIKE branch under the conditional, never regex-only)."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.sources.robots import (
        robots_allowed,
        robots_rules,
    )

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /x\nDisallow: /*.php$\n")],
        "domain string, robots_txt string",
    )
    urls = spark.range(64).select(
        F.concat(F.lit("https://a.com/p/"), F.col("id")).alias("url")
    )
    df = robots_allowed(urls, robots_rules(robots, agent="bot"))
    p = plan_text(df)
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "StartsWith" in p, p
    assert "RLIKE" in p or "rlike" in p, p


def test_sitemap_frontier_plan_is_join_free_jvm_parse(spark):
    """Sitemap frontier (round 12): build → gunzip (Arrow) →
    from_xml → explode is a join-free, window-free chain — the only
    exchanges are the site grouping and the two explode-leg union
    branches; the XML parse itself is native from_xml (no Python in
    the parse leg)."""
    p = plan_text(q(spark, "q_sitemap_frontier"))
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p
    # the parse is JVM from_xml — visible as a generated explode over
    # the parsed struct arrays, never a Python row UDF
    assert "BatchEvalPython" not in p, p


def test_warc_ingest_quarantine_stays_archive_parallel(spark):
    """Per-record quarantine + content_encoding column (round 12):
    q_warc_ingest's plan shape is unchanged by the error-granularity
    fix — still the one-archive-per-task Arrow chain with no joins,
    no windows, no cartesian (the quarantine decision is executor-
    local control flow, not a plan operator)."""
    p = plan_text(q(spark, "q_warc_ingest"))
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p


def test_cdx_build_plan_is_archive_parallel_with_partial_agg(spark):
    """Index building (round 13): archives -> Arrow fanout -> per-URL
    aggregate is the one-archive-per-task chain plus ONE map-side
    partial aggregation — no joins, no windows, no cartesian; bodies
    never decode, so there is exactly one Python stage (the record
    walk)."""
    p = plan_text(q(spark, "q_cdx_build"))
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p
    # partial+final phases (the distinct-digest count plans as
    # SortAggregate: substring(min(digest)) defeats hash-agg buffers)
    assert len(re.findall(r"(?:Hash|Sort)Aggregate", p)) >= 2, p


def test_redirect_chain_closure_equi_joins_only(spark):
    """Redirect resolution (round 13): the chain closure iterates
    equi-joins over the redirect EDGE subset, then one corpus join
    applies the map and one links final content — never a cartesian,
    never a nested-loop join, no broadcast hint pinned on a
    corpus-derived side (stats/AQE may still choose broadcast)."""
    df = q(spark, "q_redirect_chain")
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    _bounded_hints_only(df)


def test_fetch_once_manifest_no_cartesian(spark):
    """cdx_fetch_once_manifest (round 13): chain closure + left-semi
    target selection + manifest reduction stay equi-join-only with
    map-side partials on the final per-file aggregate."""
    from nextbus2pg_spark.sources.cdx import cdx_fetch_once_manifest

    records = spark.range(256).selectExpr(
        "concat('https://h', id % 7, '.example/p/', id) AS url",
        "CASE WHEN id % 4 = 0 THEN 200 ELSE 301 END AS status",
        "CASE WHEN id % 4 = 0 THEN NULL ELSE concat("
        "'https://h', id % 7, '.example/p/', id - id % 4) END"
        " AS redirect",
        "CASE WHEN id % 4 = 0 THEN 'text/html' ELSE NULL END AS mime",
        "concat('d', id) AS digest",
        "CAST(id * 100 AS LONG) AS offset",
        "CAST(90 AS LONG) AS length",
        "concat('f', id % 3, '.warc.gz') AS filename",
    )
    df = cdx_fetch_once_manifest(records)
    p = plan_text(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert len(re.findall(r"HashAggregate", p)) >= 2, p
    _bounded_hints_only(df)


def test_html_entities_plan_is_shuffle_free(spark):
    """One-pass entity decode (round 13): a pure JVM map over the
    documents scan — zero exchanges, zero Python stages, and only the
    referenced columns read."""
    p = plan_text(q(spark, "q_html_entities"))
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" not in p, p
    schema = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = sorted(c.split(":")[0] for c in schema.group(1).split(",") if c)
    assert cols == ["doc_id", "text"], p


def test_frontier_expand_plan_equi_joins_only(spark):
    """Frontier expansion (round 13): outlink extraction + held
    anti-join + robots rule join + per-host cap stay pure-JVM
    equi-join-only — no Python stage, no cartesian, and the robots
    rule table is the only broadcast (bounded by the robots corpus,
    never the frontier)."""
    p = plan_text(q(spark, "q_frontier_expand"))
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_anchor_text_corpus_single_agg_no_python(spark):
    """Anchor-text aggregation (round 13): regexp/array extraction is
    JVM-only and the per-target reduction is one (two-phase, for the
    distinct referrer count) hash aggregation — no Python stage, no
    join at all."""
    p = plan_text(q(spark, "q_anchor_text"))
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" not in p, p
    assert "Join" not in p, p
    assert re.search(r"(?:Hash|Sort|ObjectHash)Aggregate", p), p


def test_url_trap_plan_is_shuffle_free(spark):
    """Per-URL trap gate (round 13): a pure JVM map — zero exchanges,
    zero Python, only the referenced columns read."""
    p = plan_text(q(spark, "q_url_trap"))
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" not in p, p
    schema = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = sorted(c.split(":")[0] for c in schema.group(1).split(",") if c)
    assert cols == ["doc_id"], p



def test_ann_assignment_is_map_only(spark):
    """IVF assignment (nprobe 1 and 3) and PQ encoding stay map-only:
    the trained centroids / codebook reach every task as ONE collected
    broadcast row (gathered by one task, no shuffle) and each vector's
    pick is in-row — the plans hold no shuffle Exchange and no Window,
    only the BroadcastExchange."""
    from nextbus2pg_spark.catalog import load_table
    from nextbus2pg_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
        pq_encode,
        pq_train,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = kmeans_centroids(emb, "vec_id", "embedding", 8, n_iters=1)
    book = pq_train(emb, "vec_id", "embedding", m=4, n_codes=8, n_iters=1)
    plans = [
        ivf_assign(emb, "vec_id", "embedding", cents, nprobe=n)
        for n in (1, 3)
    ] + [pq_encode(emb, book, "vec_id", "embedding")]
    for df in plans:
        p = plan_text(df)
        assert "BroadcastExchange" in p, p
        assert not re.search(r"\bExchange\b", p), p
        assert "Window" not in p, p
