"""Dataset-curation operators — deterministic sampling, train/test
splits, per-group caps, stratified sampling (BASELINE.json north-star:
the selection half of a training-data pipeline; the reference itself
has no sampling surface).

Everything here is **deterministic by content hash**, never by RNG:

- reproducible across runs, engines, partitionings, and retries (a
  task retry resamples identically; ``rand()``-based sampling does
  not survive any of those),
- stable under data growth: a document keeps or loses membership based
  only on its own key, so incremental pipelines never churn previously
  selected rows,
- oracle-checkable (the md5-prefix bucket is portable ANSI SQL).

Scale shape: each operator is a map-side filter/projection on a hash
expression — no shuffle at all except ``cap_per_group``'s single
window sort, which shuffles only on the group key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.stats import _sorted_fold

#: Buckets for percentage semantics: hash_bucket() ∈ [0, 100).
N_BUCKETS = 100


def hash_bucket(
    *key_cols: Column | str, n_buckets: int = N_BUCKETS, salt: str = ""
) -> Column:
    """Uniform deterministic bucket in [0, n_buckets) from the row key.

    First 8 hex chars of md5 (32 bits — exact in a BIGINT, and far
    below the 2^53 double-mantissa portability bound), mod n_buckets.
    ``salt`` decorrelates independent decisions made from the same key
    (e.g. sample-then-split must not reuse one bucket stream).
    """
    cols = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string")
            for c in key_cols]
    h = F.md5(F.concat_ws(":", F.lit(salt), *cols))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(n_buckets)
    )


def null_folded(c: Column | str) -> Column:
    """Key component with NULL folded to a sentinel string, for use
    inside hash keys: ``concat_ws`` silently DROPS NULL components,
    which aliases ('a', NULL) with (NULL, 'a') and hashes a lone NULL
    key as the bare salt. Callers whose keys can be NULL wrap each
    component (oracle replays use the matching
    ``COALESCE(CAST(k AS VARCHAR), chr(0) || 'null')``); operators
    whose fixture oracles hash UNfolded keys (deterministic_sample,
    train_test_split, stratified_sample) keep the raw form for parity
    and require non-NULL keys."""
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col.cast("string"), F.lit("\x00null"))


def deterministic_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    percent: int,
    salt: str = "sample",
) -> DataFrame:
    """Keep ~``percent``% of rows, chosen by key hash (map-side filter,
    no shuffle; reproducible and retry-stable)."""
    return df.where(hash_bucket(*key_cols, salt=salt) < F.lit(percent))


def train_test_split(
    df: DataFrame,
    key_cols: Sequence[str],
    test_percent: int = 10,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Label every row 'train'/'test' by key hash. Disjoint and
    exhaustive by construction; membership of a row never changes as
    the dataset grows (hash depends only on the row's own key)."""
    return df.withColumn(
        out_col,
        F.when(
            hash_bucket(*key_cols, salt=salt) < F.lit(test_percent), "test"
        ).otherwise("train"),
    )


def _source_token_totals(
    df: DataFrame,
    source_col: str,
    token_col: str,
    weights: dict[str, int],
) -> dict:
    """Per-source token sums restricted to the weighted sources — ONE
    bounded eager aggregation (rows ≤ len(weights)); the source filter
    pushes down to the scan. Shared by the sampler and its audit so
    an audit call never pays a second corpus scan."""
    return {
        r[0]: r[1]
        for r in df.where(F.col(source_col).isin(list(weights)))
        .groupBy(source_col)
        .agg(F.sum(F.col(token_col)).cast("long"))
        .collect()
    }


def token_budget_mixture(
    df: DataFrame,
    source_col: str,
    token_col: str,
    weights: dict[str, int],
    token_budget: int,
    key_cols: Sequence[str],
    salt: str = "mixture",
    resolution: int = 1_000_000,
    totals: dict | None = None,
) -> DataFrame:
    """Deterministic mixture sampling to a TOTAL token budget: source
    ``s`` targets ``token_budget * w_s / Σw`` tokens, met by keeping a
    hash-selected fraction of its rows (the data-mixing step of corpus
    assembly — "webtext:books:code at 7:2:1, 500B tokens total").
    A source with fewer tokens than its target keeps everything (no
    upweighting/duplication here — epochs belong to the trainer);
    sources absent from ``weights`` are dropped.

    Scale + determinism shape: per-source token totals are ONE bounded
    aggregation whose result — rows = distinct sources, the same bound
    the ``weights`` dict itself implies — is collected and turned into
    per-source keep thresholds DRIVER-SIDE in Python arbitrary-
    precision integers: ``min(res, budget·w·res // (Σw·src_tokens))``
    is exact at ANY scale (an executor-side int64 product overflows at
    real budgets — 500e9 tokens × percentage weights × 1e6 resolution
    is ~3.5e19 > 2^63 — and float division rounds across integer
    boundaries differently per engine). The keep decision is then a
    pure map-side hash filter against literal thresholds — no join,
    no shuffle, and the kept set is bit-stable across runs,
    partitionings, retries, and the DuckDB oracle. A source whose
    token sum is 0 keeps all rows (0 < any target; they cost no
    budget). NULL key components fold to a sentinel before hashing
    (the ``concat_ws``-drops-NULLs pitfall; oracle replays need
    ``COALESCE(CAST(k AS VARCHAR), chr(0)||'null')``). Expected
    kept-token error is O(mean doc length / resolution-quantile), not
    a bias. ``totals`` injects a precomputed
    :func:`_source_token_totals` result (the audit shares one
    aggregation with the sampler); leave it None otherwise."""
    if not weights or any(
        not isinstance(w, int) or w < 0 for w in weights.values()
    ):
        raise ValueError(
            f"weights must be non-negative INTEGERS (float weights void "
            f"the exact-integer threshold guarantee — scale them up, "
            f"e.g. 7:2:1 not 0.7:0.2:0.1), non-empty: {weights}"
        )
    w_total = sum(weights.values())
    if w_total <= 0:
        raise ValueError("at least one weight must be positive")
    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0: {token_budget}")
    # Bounded EAGER aggregation (an action at call time, like the dim
    # probe in pq_train) unless the caller already ran it.
    if totals is None:
        totals = _source_token_totals(df, source_col, token_col, weights)
    thr_expr: Column = F.lit(0)
    for s, w in sorted(weights.items()):
        if s not in totals:
            continue  # source absent from the data: no rows to keep
        st = totals[s]
        if st is not None and st < 0:
            raise ValueError(
                f"source {s!r} has negative token sum {st}: corrupt "
                f"{token_col!r} values — refusing to sample against it"
            )
        if st is None or st == 0:
            thr = resolution  # zero/NULL-token source: keep-all, costs nothing
        else:
            thr = min(
                resolution,
                (int(token_budget) * w * resolution) // (w_total * int(st)),
            )
        thr_expr = F.when(F.col(source_col) == s, F.lit(thr)).otherwise(
            thr_expr
        )
    keys = [null_folded(c) for c in key_cols]
    return df.where(
        hash_bucket(*keys, n_buckets=resolution, salt=salt) < thr_expr
    )


def mixture_audit(
    df: DataFrame,
    source_col: str,
    token_col: str,
    weights: dict[str, int],
    token_budget: int,
    key_cols: Sequence[str],
    salt: str = "mixture",
    resolution: int = 1_000_000,
) -> DataFrame:
    """Companion audit for :func:`token_budget_mixture` — the sampler
    is correct-in-expectation; the data lead wants the REALIZED error
    surfaced before a training run. One row per weighted source:
    ``(source, total_tokens, target_tokens, kept_docs, kept_tokens,
    excess_tokens)`` where ``excess_tokens = kept − target`` (negative
    = undershoot; a source whose corpus is smaller than its target
    keeps everything and undershoots by construction).

    Everything stays in exact integers — targets use the same
    arbitrary-precision ``budget·w // Σw`` the sampler's thresholds
    derive from, so the audit replays bit-identically in an oracle.
    The source universe comes from the WEIGHTS dict, not the data: a
    weighted source with zero input rows (typo'd name, upstream filter
    ate it) still gets its row — total 0, kept 0, excess = −target —
    which is exactly the failure the audit exists to catch. Cost: the
    sampler's one bounded totals aggregation (shared — not re-run)
    plus one bounded aggregate of the kept set; the audit never
    shuffles the corpus."""
    w_total = sum(weights.values())
    totals = _source_token_totals(df, source_col, token_col, weights)
    kept = token_budget_mixture(
        df, source_col, token_col, weights, token_budget, key_cols,
        salt=salt, resolution=resolution, totals=totals,
    )
    kept_agg = kept.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum(F.col(token_col)).cast("long").alias("kept_tokens"),
    )
    base = df.sparkSession.createDataFrame(
        [
            (
                s,
                int(totals.get(s) or 0),
                int(token_budget) * w // w_total,
            )
            for s, w in sorted(weights.items())
        ],
        f"{source_col} string, total_tokens long, target_tokens long",
    )
    return base.join(kept_agg, source_col, "left").select(
        source_col,
        "total_tokens",
        "target_tokens",
        F.coalesce(F.col("kept_docs"), F.lit(0)).alias("kept_docs"),
        F.coalesce(F.col("kept_tokens"), F.lit(0).cast("long")).alias(
            "kept_tokens"
        ),
        (
            F.coalesce(F.col("kept_tokens"), F.lit(0).cast("long"))
            - F.col("target_tokens")
        ).alias("excess_tokens"),
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    edges: DataFrame,
    test_percent: int = 10,
    salt: str = "split",
    out_col: str = "split",
    group_col: str | None = None,
    src: str = "id_a",
    dst: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Train/test split that can never separate near-duplicates: rows
    whose ids share a connected component of ``edges`` (e.g. verified
    MinHash-LSH near-dup pairs) land on the SAME side, because the
    split hash runs on the component representative (min id in the
    component), not the row's own id. A plain per-row hash split
    leaks — a test document's near-duplicate sitting in train inflates
    every evaluation — which is exactly the contamination the dedup
    pipeline exists to stop.

    Scale shape: the corpus pays ONE join against the component
    relation and a map-side hash; untouched rows fall back to their
    own id via COALESCE. The component side covers only edge-touched
    ids, but on real crawls near-dup rates run 20-40% of documents —
    a corpus FRACTION, not a constant — so the join is deliberately
    NOT hint-broadcast: the planner / AQE broadcasts when the measured
    size fits (it does at test scale) and shuffles when it doesn't,
    instead of blowing the broadcast ceiling at crawl scale.
    Membership is stable under corpus growth as long as a row's
    component representative is unchanged. Set ``group_col`` to also
    emit the representative for audits (e.g. proving no component
    straddles the split). Pass ``components`` (a precomputed
    ``connected_components(edges)`` frame) when the caller already ran
    the iteration — e.g. the assembly pipeline uses the same
    components for dedup — so it is not run twice; ``edges`` is
    ignored then."""
    from nextbus2pg_spark.operators.components import connected_components

    comp = (
        components
        if components is not None
        else connected_components(edges, src=src, dst=dst)
    )
    joined = df.join(
        comp.select(
            F.col("id").alias("__cid"),
            F.col("component").alias("__comp"),
        ),
        F.col(id_col) == F.col("__cid"),
        "left",
    ).drop("__cid")
    # Delegate the labeling to train_test_split on the derived group
    # key — ONE construction point for split semantics, so the two
    # splits can never diverge on bucket count or label values.
    grouped = joined.withColumn(
        "__grp", F.coalesce(F.col("__comp"), F.col(id_col))
    ).drop("__comp")
    out = train_test_split(
        grouped, ["__grp"], test_percent=test_percent, salt=salt,
        out_col=out_col,
    )
    if group_col is not None:
        out = out.withColumn(group_col, F.col("__grp"))
    return out.drop("__grp")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    percents: dict[str, int],
    default_percent: int = 0,
    key_cols: Sequence[str] | None = None,
    salt: str = "strata",
) -> DataFrame:
    """Per-stratum sampling rates (e.g. downsample the dominant
    language, keep the tail): ``percents`` maps stratum value →
    percent kept; unlisted strata get ``default_percent``.

    Still a pure map-side filter — the per-stratum threshold is a CASE
    expression, not a join.
    """
    keys = list(key_cols) if key_cols else [strata_col]
    threshold: Column = F.lit(default_percent)
    for value, pct in sorted(percents.items()):
        threshold = F.when(
            F.col(strata_col) == value, F.lit(pct)
        ).otherwise(threshold)
    return df.where(hash_bucket(*keys, salt=salt) < threshold)


def epoch_shuffle(
    df: DataFrame,
    key_cols: Sequence[str],
    epoch: int = 0,
    n_shards: int | None = None,
    order_col: str = "shuffle_key",
    shard_col: str = "shard",
) -> DataFrame:
    """Deterministic epoch-seeded global shuffle + shard assignment —
    the training-order export step (WebDataset/tf.data shard prep):
    every epoch needs a DIFFERENT pseudorandom document order, but the
    same epoch must produce the SAME order on every rerun/retry, with
    no RNG state and no driver-side permutation of 100 TB.

    ``order_col`` gets a 60-bit content hash of (epoch, key) — sorting
    by (order_col, key) IS the epoch's permutation; a different
    ``epoch`` re-salts the hash into an independent order. With
    ``n_shards``, ``shard_col`` gets ``hash % n_shards``:
    balanced-in-expectation shards whose membership also reshuffles
    per epoch. The export pattern is
    ``out.repartition(shard_col).sortWithinPartitions(order_col)`` —
    one shuffle, each shard written as one sorted file set; no global
    sort ever runs (the per-shard sort is the only ordering work, and
    readers stream shards independently).

    Pure map-side column derivation (same portable md5 family as
    :func:`hash_bucket`, but 60 hash bits — 15 hex chars, exact in a
    signed BIGINT on any engine — because a 32-bit order key collides
    for a meaningful fraction of a billion-document corpus and
    colliding docs would fall back to ingestion order, exactly the
    correlation the shuffle exists to destroy; at 60 bits collisions
    are birthday-negligible at any realistic corpus size). NULL key
    components fold to a sentinel before hashing (concat_ws silently
    DROPS nulls, which would alias ('a', NULL) with (NULL, 'a'))."""
    cols = [null_folded(c) for c in key_cols]
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(f"epoch{epoch}"), *cols)), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    out = df.withColumn(order_col, h)
    if n_shards is not None:
        if n_shards < 1:
            raise ValueError(f"n_shards must be >= 1: {n_shards}")
        out = out.withColumn(
            shard_col, F.pmod(F.col(order_col), F.lit(n_shards)).cast("int")
        )
    return out


def cap_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column | str],
    n: int,
) -> DataFrame:
    """Keep at most ``n`` rows per group, by an explicit deterministic
    priority order (e.g. longest documents per domain). The one
    shuffle is on the group key; the sort is per-group.

    For top-1, prefer ``min_by``/``max_by`` aggregation (PERF.md scale
    rule 2); the window form is for n > 1 where ranking is required.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def _resolve_doc_shingles(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    doc_shingles: DataFrame | None,
) -> DataFrame:
    """Shared TRAIN-side shingle resolution for the decontamination
    family: a caller-provided ``(id, shingle)`` relation (restricted to
    ``docs``'s ids — it may cover a superset) or a fresh tokenization;
    distinct either way. NOTE: the ``.distinct()`` shuffles the
    (id, shingle) pairs — shingle strings and all — once per call; the
    eval-side join after it is broadcast."""
    from nextbus2pg_spark.operators.dedup import word_shingles

    if doc_shingles is not None:
        return doc_shingles.join(
            docs.select(F.col(id_col).alias("id")), "id", "left_semi"
        ).distinct()
    return word_shingles(docs, id_col, text_col, n=ngram).distinct()


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 13,
    broadcast_eval: bool = True,
    doc_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: count, per training document, the
    distinct word ``ngram``-grams it shares with an eval/benchmark
    corpus (the GPT-3-style 13-gram overlap test; the fixture uses
    n=3 so the synthetic corpus actually collides).

    Scale shape: the eval side reduces to a DISTINCT shingle set —
    benchmark suites are bounded by construction (thousands of
    documents, not the corpus), so ``broadcast_eval`` defaults to a
    broadcast semi join: shingle explode, one ``distinct`` shuffle of
    the (id, shingle) pairs (the per-document dedup the overlap count
    requires — see :func:`_resolve_doc_shingles`), then broadcast hash
    join + partial-agg count map-side. Set it False if the "eval" side
    is actually large and let AQE decide.

    Output: (id, n_hits) for contaminated documents only — the join
    is the filter; clean documents produce no shingle match and are
    absent (callers left-anti-join to drop flagged docs).

    ``doc_shingles``: a precomputed ``(id, shingle)`` relation for the
    TRAIN side at the same ``ngram`` — a pipeline that already
    shingled the corpus (near-dup dedup) shares it here instead of
    tokenizing twice; it is restricted to ``docs``'s ids with a semi
    join (the provided relation may cover a superset of ``docs``).
    """
    from nextbus2pg_spark.operators.dedup import word_shingles

    doc_sh = _resolve_doc_shingles(docs, id_col, text_col, ngram, doc_shingles)
    eval_sh = (
        word_shingles(eval_docs, id_col, text_col, n=ngram)
        .select("shingle")
        .distinct()
    )
    if broadcast_eval:
        eval_sh = F.broadcast(eval_sh)
    return (
        doc_sh.join(eval_sh, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def bloom_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 13,
    bits_per_element: int = 16,
    n_hashes: int = 4,
    doc_shingles: DataFrame | None = None,
) -> DataFrame:
    """Bloom-prefiltered decontamination — byte-identical output to
    :func:`decontaminate` (``(id, n_hits)`` for contaminated docs),
    built for the regime where the eval shingle set has outgrown a
    broadcast hash join.

    A broadcast semi-join table carries every eval shingle STRING
    (~50-100 bytes each plus hash-map overhead); the bloom bitset
    carries ``bits_per_element`` BITS per shingle (2 bytes at the
    default) — ~50× smaller for 13-gram shingles, so an eval suite of
    100M n-grams ships to every executor as a ~200 MB array instead of
    a multi-GB map. Three stages:

    1. **Build** (eval-side, driver-bounded by construction —
       benchmark suites are thousands of documents): k=``n_hashes``
       positions per distinct eval shingle via seeded ``xxhash64``,
       OR'd into an ``array<long>`` bitset of m =
       ``bits_per_element``·|eval shingles| bits, shipped as a one-row
       broadcast frame.
    2. **Prefilter** (map-side, zero shuffle): every corpus shingle
       probes the bitset with k codegen'd shiftright-AND bit tests;
       only all-k-hit shingles survive. The corpus never joins or
       shuffles here — the stage is a plain filter.
    3. **Verify**: the surviving sliver semi-joins the exact eval
       shingle set, removing bloom false positives. Blooms have no
       false negatives, so the result EXACTLY equals the exact
       operator — which is why this query keeps a full value oracle
       instead of an approximate rows-only check.
    """
    from nextbus2pg_spark.operators.dedup import word_shingles

    doc_sh = _resolve_doc_shingles(docs, id_col, text_col, ngram, doc_shingles)
    eval_sh = (
        word_shingles(eval_docs, id_col, text_col, n=ngram)
        .select("shingle")
        .distinct()
    )

    # -- build ---------------------------------------------------------
    n_eval = eval_sh.count()  # driver action; eval side is bounded
    m = max(64, ((bits_per_element * max(n_eval, 1) + 63) // 64) * 64)
    # Distributed OR-fold: positions group by word index and bit_or
    # into 64-bit words BEFORE collecting, so the driver receives at
    # most m/64 longs (the bitset itself) — never the k·|eval shingles|
    # individual positions, which at the motivating 100M-ngram scale
    # would be hundreds of millions of driver-side rows. shiftleft's
    # signed bit 63 is already the two's-complement long Spark stores.
    packed = (
        eval_sh.select(
            F.explode(
                F.array(
                    *[
                        F.expr(f"pmod(xxhash64({j}, shingle), {m})")
                        for j in range(n_hashes)
                    ]
                )
            ).alias("p")
        )
        .select(
            (F.col("p") / 64).cast("int").alias("widx"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(bit)").alias("word"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in packed:
        words[r.widx] = r.word
    bf = docs.sparkSession.createDataFrame([(words,)], "bf array<bigint>")

    # -- prefilter (pure codegen'd bit tests, no join on the corpus) --
    def _hit(j: int) -> str:
        p = f"pmod(xxhash64({j}, shingle), {m})"
        return (
            f"((shiftright(element_at(bf, cast(({p}) div 64 as int) + 1),"
            f" cast(({p}) % 64 as int)) & 1) = 1)"
        )

    probe = " AND ".join(_hit(j) for j in range(n_hashes))
    candidates = (
        doc_sh.join(F.broadcast(bf))  # 1-row bitset frame
        .where(F.expr(probe))
        .drop("bf")
    )

    # -- verify (exact, on the bloom-surviving sliver only) -----------
    return (
        candidates.join(F.broadcast(eval_sh), "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column | str],
    chunk_col: str = "chunk_id",
    offset_col: str = "start_offset",
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in a
    deterministic order and cut the token stream every ``budget``
    tokens — each document is assigned the training chunk where it
    STARTS (the standard concatenate-then-chunk LLM batching layout;
    documents may straddle a boundary, the loader masks across it).

    Scale shape: one window sum per partition group. ``partition_cols``
    (e.g. language, or an explicit shard key) bounds every sort to one
    group — there is deliberately NO global-order variant, because a
    corpus-wide total order means a single range sort at 100 TB;
    callers wanting global chunk ids should pack per shard and offset
    by shard id downstream.

    Output adds ``offset_col`` (running token offset within the group)
    and ``chunk_col`` (``floor(offset / budget)``).
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("bigint")
    return df.withColumn(offset_col, start).withColumn(
        chunk_col, F.floor(F.col(offset_col) / budget)
    )


def quantile_threshold_filter(
    df: DataFrame,
    metric_col: str,
    group_cols: Sequence[str],
    q: float = 0.75,
    threshold_col: str = "threshold",
) -> DataFrame:
    """Keep rows at or above their group's exact ``q``-quantile of
    ``metric_col`` (e.g. top-quartile quality score per language).

    Scale shape: the quantile is computed by AGGREGATION (one row per
    group), then joined back — the threshold frame is bounded by
    |groups|, so the join broadcasts, and the corpus itself never
    window-sorts (a percent_rank window over the corpus would shuffle
    and rank every row; this shuffles only the aggregation). Swap
    ``F.percentile`` for ``F.approx_percentile`` at extreme scale to
    avoid holding per-group sorted buffers.

    Output keeps all input columns plus ``threshold_col``.
    """
    thr = df.groupBy(*group_cols).agg(
        F.percentile(metric_col, F.lit(q)).alias(threshold_col)
    )
    return df.join(F.broadcast(thr), list(group_cols)).where(
        F.col(metric_col) >= F.col(threshold_col)
    )


def winsorize(
    df: DataFrame,
    metric_col: str,
    group_cols: Sequence[str],
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Cap ``metric_col`` at its group's [p_lo, p_hi] quantiles —
    outlier clamping before loss-weighting / normalization, without
    dropping rows (the filter-flavored sibling is
    ``quantile_threshold_filter``).

    Same scale shape as the threshold filter: per-group bounds by
    AGGREGATION (one row per group, broadcast back); the corpus never
    window-sorts. Output keeps all input columns plus the clamped value
    in ``out_col`` (default ``<metric_col>_w``).
    """
    out = out_col or f"{metric_col}_w"
    bounds = df.groupBy(*group_cols).agg(
        F.percentile(metric_col, F.lit(p_lo)).alias("__lo"),
        F.percentile(metric_col, F.lit(p_hi)).alias("__hi"),
    )
    joined = (
        df.join(F.broadcast(bounds), list(group_cols))
        if group_cols
        else df.crossJoin(F.broadcast(bounds))
    )
    return joined.withColumn(
        out,
        F.least(F.greatest(F.col(metric_col), F.col("__lo")), F.col("__hi")),
    ).drop("__lo", "__hi")


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = ". ",
    out_col: str | None = None,
) -> DataFrame:
    """C4-style line-level dedup: across the whole corpus, each
    distinct line (here: sentence, split on ``sep``) is kept only in
    the document where it FIRST occurs (minimum id, then minimum
    position — a deterministic owner); every other occurrence is
    dropped and the surviving lines are reassembled in their original
    order. Documents left with zero lines drop entirely.

    This is the boilerplate-removal step of C4/RefinedWeb-class
    pipelines (navigation chrome, cookie banners, repeated footers
    appear in thousands of documents; document-level dedup never sees
    them).

    Scale shape: explode to (line, id, pos) → ONE exchange on the line
    hash, over which a hash-key-partitioned window min-struct marks
    each occurrence's owner in a single pass (the
    aggregate-then-self-join formulation consumed the exploded stream
    twice, and Spark recomputes lineage per consumer — two full
    corpus tokenization passes; measured 42% slower at sf0.1) → keep
    owner occurrences → re-aggregate surviving lines with ``array_agg
    sorted by pos``. Two shuffles total (the line-hash exchange + the
    regroup); the window partitions by the line hash only — per-key
    state, never a global sort.

    Output: ``id_col`` + ``out_col`` (default ``<text_col>``) with the
    deduped text; join back to the input on ``id_col`` for other
    columns.
    """
    out = out_col or text_col
    # NOT ensure_min_parallelism'd: unlike the Arrow shingle/media
    # stages (whole-stage Python work per row), the explode+md5 map
    # here is cheap JVM codegen and the owner aggregation immediately
    # reshuffles anyway — measured 0.6-1.0s without vs 1.7-3.1s with a
    # pre-repartition at sf0.1.
    # F.split's pattern is a Java REGEX — \\Q..\\E quotes the separator
    # so '. ' or ' | ' split literally, not as regex metacharacters.
    lines = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(
                F.split(F.col(text_col), F.lit("\\Q" + sep + "\\E"), -1)
            ).alias("__pos", "__line"),
        )
        .where(F.col("__line") != "")
        .withColumn("__h", F.md5(F.col("__line")))
    )
    kept = lines.withColumn(
        "__owner",
        F.min(F.struct("__id", "__pos")).over(Window.partitionBy("__h")),
    ).where(
        (F.col("__id") == F.col("__owner.__id"))
        & (F.col("__pos") == F.col("__owner.__pos"))
    )
    return (
        kept.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__line"))
                    ),
                    lambda s: s["__line"],
                ),
                sep,
            ).alias(out)
        )
        .select(F.col("__id").alias(id_col), out)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int,
    stride: int | None = None,
    min_tokens: int = 1,
) -> DataFrame:
    """Split each document's whitespace tokens into fixed-size chunks
    with optional overlap (``stride`` < ``chunk_tokens``) — the
    context-window shaping step between curation and training (the
    per-document sibling of ``pack_sequences``' corpus-level
    concat-and-chunk).

    Pure per-row array arithmetic (split → sequence of chunk starts →
    slice + rejoin), exploded JVM-side: ZERO shuffle, fully parallel,
    and chunk ids are deterministic (position-derived, not zipWithIndex).

    Output: (id, chunk_id, chunk_text, n_tokens); trailing chunks
    shorter than ``min_tokens`` are dropped (a stride tail that is
    pure overlap carries no new signal).
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    step = chunk_tokens if stride is None else int(stride)
    if not 1 <= step <= chunk_tokens:
        raise ValueError("stride must be in [1, chunk_tokens]")
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    n = F.size(words)
    # chunk starts: 1, 1+step, ... while start <= n (1-based slice)
    starts = F.sequence(
        F.lit(1), F.greatest(n, F.lit(1)), F.lit(step)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / step).cast("bigint").alias("chunk_id"),
            F.array_join(
                F.slice(words, s, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(
                n - s + 1, F.lit(chunk_tokens)
            ).cast("int").alias("n_tokens"),
        ),
    )
    return (
        df.select(
            F.col(id_col), F.explode(chunks).alias("__c")
        )
        .select(
            id_col,
            F.col("__c.chunk_id").alias("chunk_id"),
            F.col("__c.chunk_text").alias("chunk_text"),
            F.col("__c.n_tokens").alias("n_tokens"),
        )
        .where(F.col("n_tokens") >= F.lit(min_tokens))
    )


def language_balance(
    df: DataFrame,
    lang_col: str,
    key_cols: Sequence[str],
    temperature: float = 0.7,
    salt: str = "langbal",
) -> DataFrame:
    """Temperature-based language rebalancing (the mC4/ROOTS recipe):
    target shares ∝ p_lang^T with T in (0, 1] flatten the language
    distribution — T=1 keeps it unchanged, T→0 approaches uniform.

    Physical selection can only DROP rows (duplication-based
    up-sampling belongs in the data loader), so the target is reached
    by down-sampling dominant languages: solving
    ``p_l · keep_l ∝ p_l^T`` gives ``keep_l ∝ p_l^(T-1)``, normalized
    so the SMALLEST language keeps 100% — every larger language keeps
    ``(p_small / p_l)^(1-T)`` of its rows. Selection is the same
    content-hash filter as ``deterministic_sample`` — reproducible,
    retry-stable, growth-stable — at 1/10000 granularity.

    Scale shape: one aggregation for language counts (tiny result,
    broadcast back), then a map-side hash filter; the corpus shuffles
    zero times.
    """
    if not 0 < temperature <= 1:
        raise ValueError("temperature must be in (0, 1]")
    # NULL languages form their own stratum: the rate join runs on a
    # NULL-folded key (a plain equi-join would silently DELETE every
    # NULL-lang row — e.g. the docs where lang-id failed).
    lang_key = null_folded(lang_col)
    keyed = df.withColumn("__lb_lang", lang_key)
    counts = keyed.groupBy("__lb_lang").agg(F.count(F.lit(1)).alias("__n"))
    total = counts.agg(F.sum("__n").alias("__t"))
    weights = counts.crossJoin(F.broadcast(total)).select(
        "__lb_lang",
        F.pow(F.col("__n") / F.col("__t"), F.lit(temperature - 1.0)).alias(
            "__w"
        ),
    )
    # T-1 < 0 ⇒ the smallest language has the LARGEST weight; dividing
    # by the max pins its keep-rate at 1.0 and downsamples the rest.
    max_w = weights.agg(F.max("__w").alias("__mw"))
    rates = weights.crossJoin(F.broadcast(max_w)).select(
        "__lb_lang",
        F.least(F.lit(1.0), F.col("__w") / F.col("__mw")).alias(
            "__keep_rate"
        ),
    )
    bucket = hash_bucket(*key_cols, n_buckets=10000, salt=salt)
    return (
        keyed.join(F.broadcast(rates), "__lb_lang")
        .where(bucket < (F.col("__keep_rate") * 10000).cast("int"))
        .drop("__keep_rate", "__lb_lang")
    )


def substring_span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    out_col: str | None = None,
) -> DataFrame:
    """Exact substring-level dedup: any run of ``n`` consecutive word
    tokens that occurs more than once ANYWHERE in the corpus is kept
    only at its first occurrence (minimum id, then minimum start
    position); every other occurrence's tokens are removed and the
    survivors reassembled in order. The Lee-et-al ExactSubstr dedup
    semantics (suffix-array dedup of 50-token spans), re-expressed as
    relational n-gram algebra — the span-granular sibling of
    :func:`line_dedup` (lines) and document-level minhash (whole docs).

    Scale shape (reference semantics only — the reference pipeline
    has no corpus-dedup stage; this is training-data surface):

    1. tokenize + enumerate n-gram start positions per row — pure
       per-row array arithmetic, ZERO shuffle, no corpus-wide suffix
       array (which needs global sort; n-gram hashing is the
       shuffle-friendly equivalent for fixed n);
    2. ONE exchange of the occurrence stream on the gram hash; count
       and min-struct owner are gram-partitioned window aggregates
       over it, so duplicate occurrences are identified without a
       second tokenization pass or a join back to the occurrences (an
       aggregate-then-self-join formulation re-scans and re-hashes the
       whole corpus for the join side — measured 12% slower at sf0.1
       and 2x the map CPU at scale). The window partitions by the
       gram key only — per-key state, never a global sort;
    3. covered token positions aggregate per id over DUPLICATE
       occurrences only (clean documents never reach this shuffle);
    4. the corpus joins the per-id coverage sets back on ``id_col``
       and rebuilds text with a filter-by-index — AQE broadcasts the
       coverage side when duplication is sparse (the common case).

    Grams are hashed to a 60-bit integer (15 hex chars of md5 — the
    same engine-portable fold as ``kmv_hash``) before the aggregation,
    so the shuffle carries an 8-byte key instead of an ``n``-token
    string (~50× narrower at n=50). A 60-bit collision merges two
    distinct grams — expected ≈0.4 false merges per 10⁹ distinct grams
    (birthday bound), each erroneously cutting one span: the right
    trade for a training-data filter, and parity-exact regardless
    because the oracle replays the identical hash.

    Output: ``id_col``, ``n_removed`` (tokens removed, long), and
    ``out_col`` (default ``<text_col>_dedup``) — every input row
    appears exactly once (a fully-duplicated document keeps an empty
    string, letting callers decide the drop policy). Documents with
    NOTHING removed pass their text through byte-identical; documents
    that lost a span are reassembled from their surviving tokens with
    single spaces (original whitespace inside a cut document is not
    reconstructed).
    """
    out = out_col or f"{text_col}_dedup"
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
        F.filter(
            F.split(F.col(text_col), " ", -1), lambda x: x != ""
        ).alias("__words"),
    )
    # sequence(1, stop) with stop < 1 would generate DESCENDING
    # [1, 0, ...] — guard short documents with an empty array instead.
    starts = F.when(
        F.size("__words") >= n,
        F.sequence(F.lit(1), F.size("__words") - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    occ = toks.select(
        "__id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("__pos"),
                    F.conv(
                        F.substring(
                            F.md5(
                                F.array_join(F.slice("__words", i, n), " ")
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    )
                    .cast("bigint")
                    .alias("__h"),
                ),
            )
        ).alias("__o"),
    ).select("__id", F.col("__o.__pos").alias("__pos"), F.col("__o.__h").alias("__h"))
    gram_w = Window.partitionBy("__h")
    marked = occ.select(
        "__id",
        "__pos",
        F.count(F.lit(1)).over(gram_w).alias("__cnt"),
        F.min(F.struct("__id", "__pos")).over(gram_w).alias("__owner"),
    )
    dup_occ = marked.where(
        (F.col("__cnt") > 1)
        & (
            (F.col("__id") != F.col("__owner.__id"))
            | (F.col("__pos") != F.col("__owner.__pos"))
        )
    ).select("__id", "__pos")
    cov = dup_occ.groupBy("__id").agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(
                            F.col("__pos"), F.col("__pos") + F.lit(n - 1)
                        )
                    )
                )
            )
        ).alias("__covered")
    )
    indexed = F.transform(
        F.col("__words"),
        lambda w, i: F.struct((i + F.lit(1)).alias("__i"), w.alias("__w")),
    )
    survivors = F.filter(
        indexed,
        lambda s: F.col("__covered").isNull()
        | ~F.array_contains(F.col("__covered"), s["__i"]),
    )
    return (
        toks.join(cov, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.size("__covered"), F.lit(0))
            .cast("long")
            .alias("n_removed"),
            F.when(F.col("__covered").isNull(), F.col("__text"))
            .otherwise(
                F.array_join(
                    F.transform(survivors, lambda s: s["__w"]), " "
                )
            )
            .alias(out),
        )
    )


def contamination_fraction(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 13,
    broadcast_eval: bool = True,
    doc_shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document contamination SCORE: the fraction of the document's
    distinct word ``ngram``-grams that appear in the eval/benchmark
    corpus — the continuous companion of :func:`decontaminate`'s
    hit-count (which only surfaces contaminated docs). A score lets
    curation policies threshold ("drop everything over 20% overlap,
    audit 5-20%") instead of hard-dropping on a single shared n-gram.

    Same scale shape as :func:`decontaminate`: the eval side reduces
    to a bounded distinct-shingle set and broadcasts; the corpus
    explodes, takes one ``distinct`` shuffle of its (id, shingle)
    pairs (the per-document dedup the score definition requires),
    LEFT-joins the eval set map-side, and partial-aggregates down to
    (id, counts).

    Output: one row per document that produced at least one shingle
    (docs shorter than ``ngram`` words have no defined score and are
    absent): ``(id, n_shingles, n_hits, contamination)`` with
    ``contamination = n_hits / n_shingles`` as double.

    ``doc_shingles``: share a precomputed ``(id, shingle)`` relation
    exactly as in :func:`decontaminate`.
    """
    from nextbus2pg_spark.operators.dedup import word_shingles

    doc_sh = _resolve_doc_shingles(docs, id_col, text_col, ngram, doc_shingles)
    eval_sh = (
        word_shingles(eval_docs, id_col, text_col, n=ngram)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_eval:
        eval_sh = F.broadcast(eval_sh)
    return (
        doc_sh.join(eval_sh, "shingle", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .select(
            "id",
            "n_shingles",
            "n_hits",
            (F.col("n_hits") / F.col("n_shingles")).alias("contamination"),
        )
    )


def weighted_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    weight_col: str,
    k: int,
    group_cols: Sequence[str] | None = None,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted reservoir sampling without replacement (Efraimidis-
    Spirakis A-Res), deterministic: keep the ``k`` rows (per group,
    when ``group_cols`` is given) with the largest priority
    ``ln(u) / w`` where ``u`` is the row key's md5-uniform in (0, 1]
    and ``w`` its weight — inclusion probability proportional to
    weight, so a curation pipeline can oversample high-quality
    documents instead of cutting a hard threshold.

    Deterministic (same corpus ⇒ same sample, independent of
    partitioning — the hash-uniform replaces RNG state, the same
    retry-stability argument as :func:`deterministic_sample`), and
    membership is stable under corpus growth except where a new row
    genuinely displaces the k-th priority.

    Scale shape: priorities are map-side arithmetic; selection is the
    ``cap_per_group`` shape — one shuffle on the group key (or a
    constant key for a global sample: fine for bounded k, the sort is
    a partial top-k under Spark's window TopK optimization).

    Rows with NULL, zero, or negative weight are excluded (their
    inclusion probability is 0 by definition).
    """
    # 52 hash bits → uniform in (0, 1]: (h + 1) / 2^52 never yields 0,
    # so ln(u) is finite; u = 1 gives priority 0, the maximum of
    # ln(u)/w for w > 0 — consistent with "weight ∞ ⇒ always kept".
    cols = [F.col(c).cast("string") for c in key_cols]
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), *cols)), 1, 13),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(16**13))
    w = F.col(weight_col).cast("double")
    pri = F.log(u) / w
    groups = list(group_cols) if group_cols else []
    ranked = (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("__pri", pri)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*groups).orderBy(
                    F.col("__pri").desc(), *[F.col(c) for c in key_cols]
                )
            ),
        )
    )
    return ranked.where(F.col("__rn") <= k).drop("__pri", "__rn")


def dsir_sample(
    candidates: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_buckets: int = 256,
    k: int = 100,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023) → the ``k`` candidate documents most target-like under
    hashed-n-gram importance weights, as ``(id, rank)``.

    The modern pretraining-curation selector: fit bag-of-hashed-n-gram
    multinomials on a small TARGET corpus (the domain you want more
    of) and on the raw candidate pool, score every candidate by
    ``log w(x) = Σ_f c_f(x) · (log p_target(f) − log p_raw(f))`` and
    keep the top mass. Features are unigrams + space-joined bigrams
    (the paper's choice), md5-hashed into ``n_buckets`` buckets
    (engine-portable, collision-tolerant by design); both multinomials
    are Laplace-smoothed (+1 per bucket).

    Scale shape (100 TB honest): the token stream is exploded ONCE per
    corpus into (bucket, count) partials — two bounded ``n_buckets``-row
    aggregates with map-side combine; the per-bucket log-ratio table
    (``n_buckets`` rows) BROADCASTS onto the per-document feature
    counts; per-document scores fold the joined terms in bucket order
    (deterministic FP sum — the ``stats._sorted_fold`` discipline); selection
    is ``orderBy().limit(k)`` = Spark's distributed TakeOrdered
    (per-partition partial top-k, never a global sort), and the rank
    window runs over the k survivors only. No driver state, no Python.

    Determinism note: the score expression is the fixed 4-term
    ``ln(t_b+1) + ln(S+B) − ln(s_b+1) − ln(T+B)`` evaluated identically
    by the oracle; scores are used for ORDERING only (the
    q_weighted_sample transcendental stance — near-tie flips need
    score gaps below ~1e-12, which distinct feature multisets do not
    produce; exact ties break on id).
    """
    if k < 1 or n_buckets < 2:
        raise ValueError(f"need k >= 1, n_buckets >= 2; got {k}/{n_buckets}")

    def features(df: DataFrame) -> DataFrame:
        words = F.filter(
            F.split(F.col(text_col), " "), lambda w: w != ""
        )
        base = df.select(
            F.col(id_col).alias("id"), words.alias("__w")
        )
        uni = base.select("id", F.explode("__w").alias("gram"))
        # slice length must stay >= 0 (a 0/1-word doc yields no
        # bigrams); when() keeps the slice branch unevaluated there.
        bigrams = F.when(
            F.size("__w") >= 2,
            F.transform(
                F.slice(F.col("__w"), 1, F.size("__w") - 1),
                lambda w, i: F.concat(w, F.lit(" "), F.col("__w")[i + 1]),
            ),
        ).otherwise(F.array().cast("array<string>"))
        bi = base.select("id", F.explode(bigrams).alias("gram"))
        grams = uni.unionAll(bi)
        bucket = (
            F.conv(F.substring(F.md5(F.col("gram")), 1, 6), 16, 10)
            .cast("long") % n_buckets
        )
        return grams.select("id", bucket.alias("bucket"))

    cand_feats = features(candidates)
    tgt_feats = features(target)
    t_counts = tgt_feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("__t")
    )
    s_counts = cand_feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("__s")
    )
    # Dense bucket grid so totals + smoothing are exact integers even
    # for buckets one corpus never hits.
    spark = candidates.sparkSession
    grid = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    ratios = (
        grid.join(t_counts, "bucket", "left")
        .join(s_counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("__t", F.lit(0)).alias("__t"),
            F.coalesce("__s", F.lit(0)).alias("__s"),
        )
    )
    # Totals via an unpartitioned window over the BOUNDED ratio frame
    # (n_buckets rows — never the corpus), avoiding a self-join of the
    # ratios lineage entirely.
    wall = Window.partitionBy()
    log_ratio = (
        F.log(F.col("__t").cast("double") + 1.0)
        + F.log(
            F.sum("__s").over(wall).cast("double") + float(n_buckets)
        )
        - F.log(F.col("__s").cast("double") + 1.0)
        - F.log(
            F.sum("__t").over(wall).cast("double") + float(n_buckets)
        )
    )
    ratio_table = ratios.select("bucket", log_ratio.alias("__lr"))
    doc_terms = (
        cand_feats.groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("__c"))
        .join(F.broadcast(ratio_table), "bucket")
        .select("id", "bucket", (F.col("__c") * F.col("__lr")).alias("term"))
    )
    scored = doc_terms.groupBy("id").agg(
        _sorted_fold(F.col("bucket"), F.col("term")).alias("__score")
    )
    top = scored.orderBy(F.desc("__score"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("__score"), F.asc("id"))
    return top.select(
        "id", F.row_number().over(w).cast("bigint").alias("rank")
    )
