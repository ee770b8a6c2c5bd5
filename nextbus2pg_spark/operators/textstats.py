"""Corpus-level text statistics: TF-IDF term scoring and n-gram
frequency tables (BASELINE.json north-star text analysis, corpus
side — the per-document features live in operators/text.py).

Scale shape:
- The token explode is the only row-multiplying step; both downstream
  aggregations (term-frequency per doc, document-frequency per term)
  are partial-aggregatable hash aggregates, so the shuffles carry
  (doc, term) / (term) keys, not raw tokens.
- The per-term IDF table is vocabulary-sized — orders of magnitude
  smaller than the corpus — and broadcasts onto the TF relation; the
  big side never shuffles for the join.
- Top-k-per-doc is the one window sort, partitioned by doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.scale import ensure_min_parallelism
from nextbus2pg_spark.operators.stats import _sorted_fold


def doc_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) rows — whitespace tokens, one row per occurrence."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    return ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(words).alias("term")
    )


def tfidf(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-(doc, term) TF-IDF: tf × ln(N / df).

    ``N`` (corpus size) enters as a scalar subquery-style cross join of
    a 1-row aggregate (broadcast — bounded, so the hint is safe);
    ``df`` per term DERIVES from the TF relation — (id, term) is unique
    there, so a plain per-term row count equals the distinct-doc count.
    Deriving instead of re-aggregating the exploded token stream avoids
    a second corpus tokenization pass and replaces the count_distinct
    with a cheap count (measured 20% faster at sf0.1, identical
    output). The docfreq join is NOT hint-broadcast: it is
    vocabulary-sized, and web-scale vocabularies (10^8+ distinct
    tokens) overflow a forced broadcast — the planner / AQE broadcasts
    when the measured size fits and shuffles when it doesn't.
    Output: (id, term, tf, score).
    """
    terms = doc_terms(df, id_col, text_col)
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("docfreq"))
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    return (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            "tf",
            (
                F.col("tf") * F.log(F.col("n_docs") / F.col("docfreq"))
            ).alias("score"),
        )
    )


def top_terms_per_doc(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF, ties broken
    lexicographically (deterministic survivor rule)."""
    scored = tfidf(df, id_col, text_col)
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("id", "term", "tf", "score", "rn")
    )


def doc_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Exploded per-document word n-grams → ``(id, ngram)`` rows —
    the ONE tokenization used by both the model-training and scoring
    sides of the n-gram family (a divergent copy would silently
    desynchronize them). Guards Spark's descending ``sequence(1, 0)``
    for docs shorter than ``n`` words (they emit no rows)."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    n_grams = F.size(words) - F.lit(n - 1)
    grams = F.when(n_grams < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        )
    )
    return ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(grams).alias("ngram")
    )


def ngram_counts(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Corpus n-gram frequency table: (ngram, n_occurrences,
    n_docs). The explode emits word n-grams per document; both counts
    come out of ONE aggregation (count + count_distinct share the
    grouping)."""
    return doc_ngrams(df, id_col, text_col, n).groupBy("ngram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("id").alias("n_docs"),
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information →
    ``(w1, w2, pair_count, left_count, right_count, pmi_ratio)``.

    ``pmi_ratio`` is ``exp(PMI) = P(xy) / (P(x) * P(y))`` with
    ``P(xy) = c_xy / N_pairs`` and ``P(x) = c_x / N_tokens`` — the
    ratio is emitted instead of its log because every input is an
    exact integer count and the value is then five IEEE divisions in
    a FIXED tree (``((c_xy/np) / (cx/nt)) / (cy/nt)``), reproducible
    bit-for-bit on any engine; ``ln`` would only monotonically rescale
    it (ranking is identical) while risking ulp drift.

    Scale shape: one explode + hash agg for unigrams, one explode +
    hash agg for adjacent pairs (both map-side partial), totals from
    the two VOCABULARY-sized count tables (1-row aggregate,
    broadcast); the scoring joins run pair-table vs unigram-table —
    vocabulary-sized on both sides, strategy left to AQE (never a
    forced broadcast: web-scale vocabularies are unbounded). Top-k is
    a sort-limit (TakeOrdered), never a global sort.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1; got {min_count}")
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    base = ensure_min_parallelism(df).select(words.alias("__w"))
    uni = (
        base.select(F.explode("__w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair_structs = F.when(
        F.size("__w") < 2,
        F.array().cast("array<struct<w1:string,w2:string>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("__w") - 1, F.lit(1))),
            lambda i: F.struct(
                F.element_at(F.col("__w"), i).alias("w1"),
                F.element_at(F.col("__w"), i + 1).alias("w2"),
            ),
        )
    )
    pc = (
        base.select(F.explode(pair_structs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    stats = uni.agg(F.sum("cnt").alias("nt")).crossJoin(
        pc.agg(F.sum("pair_count").alias("np"))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    scored = (
        pc.where(F.col("pair_count") >= F.lit(min_count))
        .join(uni.select(F.col("w").alias("w1"), F.col("cnt").alias("left_count")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cnt").alias("right_count")), "w2")
        .crossJoin(F.broadcast(stats))  # bounded: exactly 1 row
        .select(
            "w1",
            "w2",
            "pair_count",
            "left_count",
            "right_count",
            (
                (d("pair_count") / d("np"))
                / (d("left_count") / d("nt"))
                / (d("right_count") / d("nt"))
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_ratio"), F.asc("w1"), F.asc("w2")
    ).limit(k)


def build_vocab(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 1,
) -> DataFrame:
    """Token vocabulary with contiguous ids — the tokenizer-training
    precursor of an LLM data pipeline.

    Output: (term, n_occurrences, n_docs, token_id) where ``token_id``
    ranks by total frequency descending, ties broken lexicographically
    (deterministic across runs/partitionings, so downstream token-id
    assignment is retry-stable).

    Scale shape: one hash aggregation over the exploded corpus (map-side
    partial count on each partition's tokens, only distinct terms
    shuffle), then the ranking window runs over the VOCABULARY — bounded
    by language (~1e5-1e6 terms), not corpus size, so the single-ordering
    window is safe at 100 TB; the corpus itself is never globally
    sorted."""
    terms = doc_terms(df, id_col, text_col)
    counts = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("id").alias("n_docs"),
    )
    if min_count > 1:
        counts = counts.where(F.col("n_occurrences") >= F.lit(min_count))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("term"))
    return counts.withColumn(
        "token_id", F.row_number().over(w).cast("long") - F.lit(1)
    )


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document log-probability under a Laplace-smoothed bigram
    LM trained on the corpus itself — the CCNet-style "perplexity
    filter" rung of a quality stack: fluent prose scores near the
    corpus average, keyboard mash / boilerplate repetition scores far
    below, and the threshold is a downstream policy choice. Output:
    ``(id, n_bigrams, sum_logprob, avg_logprob)`` (documents with
    fewer than 2 words emit no row, matching ``oov_ngram_ratio``).

    Model: ``p(w2 | w1) = (c(w1,w2) + 1) / (ctx(w1) + V)`` with
    ``ctx(w1)`` the bigram-context count (Σ_w2 c(w1, w2), derived
    from the bigram relation — no extra corpus pass) and ``V`` the
    number of distinct tokens appearing in any bigram (a bounded
    1-value eager count, collected like the mixture totals).

    Determinism-by-construction: every model input is an exact
    integer, each bigram's double log-prob is a fixed expression tree,
    and the per-document SUM runs as a left fold over the
    (w1, w2)-sorted contribution array — never a float ``SUM`` whose
    partition order varies — so a DuckDB ``list_reduce`` over the
    same sorted list replays the total bit-for-bit (the established
    ANN-internals recipe). Scale shape: one tokenize pass feeds the
    per-doc AND corpus bigram counts; the model join keys on
    (w1, w2) / (w1) — vocabulary-sized relations deliberately left
    to the planner (no broadcast hint, per the round-6 policy)."""
    grams = doc_ngrams(df, id_col, text_col, n=2)
    pair = grams.select(
        "id",
        F.split(F.col("ngram"), " ")[0].alias("w1"),
        F.split(F.col("ngram"), " ")[1].alias("w2"),
    )
    per_doc = pair.groupBy("id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    c2 = pair.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ctx = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    vocab = (
        pair.select(F.explode(F.array("w1", "w2")).alias("w"))
        .distinct()
        .count()
    )
    lp = F.col("m").cast("double") * F.log(
        (F.col("c2") + F.lit(1)).cast("double")
        / (F.col("c1") + F.lit(int(vocab))).cast("double")
    )
    scored = (
        per_doc.join(c2, ["w1", "w2"])
        .join(ctx, "w1")
        .select("id", "w1", "w2", "m", lp.alias("lp"))
    )
    folded = _sorted_fold(F.struct("w1", "w2"), F.col("lp"))
    return scored.groupBy("id").agg(
        F.sum("m").alias("n_bigrams"),
        F.round(folded, 6).alias("sum_logprob"),
        F.round(folded / F.sum("m").cast("double"), 6).alias(
            "avg_logprob"
        ),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: "list[str]",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 6,
) -> DataFrame:
    """BM25 lexical retrieval: top-``k`` documents for a bag-of-terms
    query → ``(id, score, rank)`` — the sparse sibling of the dense
    ANN rungs (``cosine_topk``/``ivf_topk``); a retrieval stack wants
    both.

    Standard Okapi BM25 with the Lucene non-negative IDF:
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``score = Σ_q idf_q · tf_q·(k1+1) / (tf_q + k1·(1 − b + b·dl/avgdl))``.

    Determinism-by-construction (full value oracle, no FP luck): every
    model input is an exact integer — per-doc length ``dl``, per-term
    ``tf`` (conditional counts), per-term ``df``, corpus size ``N``,
    and ``avgdl`` enters as the exact ratio sum(dl)/N rather than a
    float AVG whose summation order differs between engines. The
    per-term scores then combine in FIXED query order, so the double
    arithmetic is the same expression tree on any engine.

    Scale shape: ONE tokenize pass; the per-doc aggregation carries
    one long per query term (queries are a handful of terms, so this
    is a narrow partial-aggregatable hash agg — no per-term rows
    shuffle); corpus stats are a broadcast 1-row aggregate; docs with
    no query term are filtered BEFORE the top-k, and the top-k itself
    is a sort-limit (per-partition partial top-k, never a global
    sort of the corpus)."""
    if not query_terms:
        raise ValueError("bm25_topk requires at least one query term")
    # BM25 scores a term SET: a repeated query term must not double its
    # contribution. Dedup preserving first-seen order so the fixed
    # combination order (and thus the oracle's expression tree) is
    # stable regardless of how the caller spelled the query.
    query_terms = list(dict.fromkeys(query_terms))
    terms = doc_terms(df, id_col, text_col)
    per_doc = terms.groupBy("id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum((F.col("term") == F.lit(q)).cast("long")).alias(f"tf{i}")
            for i, q in enumerate(query_terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n  # exact ints -> one div
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf{i}").cast("double")
        dfreq = F.col(f"df{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
        )
        s = idf * tf * F.lit(k1 + 1.0) / denom
        score = s if score is None else score + s
    return (
        scored.select(
            "id", F.round(score, round_digits).alias("score")
        )
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col("id").asc())
            ),
        )
    )


def oov_ngram_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    top_k: int = 1000,
) -> DataFrame:
    """Out-of-vocabulary n-gram ratio per document — the integer-exact
    stand-in for n-gram LM perplexity filtering (CCNet/C4 style): train
    a top-``top_k`` n-gram "model" on the corpus, score each document
    by the fraction of its n-grams OUTSIDE the model. Gibberish,
    boilerplate soup, and wrong-language text score high; fluent text
    scores low. Unlike log-prob scoring there is no transcendental
    anywhere, so the score is bit-identical across engines and takes a
    full value oracle.

    Scale shape: the model is bounded at ``top_k`` rows however large
    the corpus (sort-limit = per-partition partial top-k, then a
    single merged take) and joins back by BROADCAST; the scoring pass
    is explode → broadcast-probe → one groupBy(id). Two corpus passes
    total (train + score) — inherent to any train-then-score filter.

    Output: ``(id, n_grams, n_oov, oov_ratio)``; documents with fewer
    than ``n`` words have no n-grams and are absent (no evidence).
    Ties at the model boundary break deterministically by
    (count DESC, ngram ASC)."""
    model = (
        ngram_counts(df, id_col, text_col, n)
        .orderBy(F.col("n_occurrences").desc(), "ngram")
        .limit(top_k)
        .select("ngram", F.lit(1).alias("__in_model"))
    )
    return (
        doc_ngrams(df, id_col, text_col, n)
        .join(F.broadcast(model), "ngram", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(
                F.sum(F.col("__in_model").isNull().cast("long")),
                F.lit(0).cast("long"),
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_ratio",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_grams").cast("double"),
                6,
            ),
        )
    )


def rrf_fuse(
    rankings: "list[tuple[str, DataFrame]]",
    id_col: str = "id",
    rank_col: str = "rank",
    k_const: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion of ranked retrieval lists →
    ``(doc_id, rank_<name>..., rrf_score)`` — the standard
    score-free hybrid-retrieval combiner (Cormack et al. 2009):
    ``score(d) = Σ_r 1 / (k_const + rank_r(d))`` over the UNION of
    the lists, a document missing from a list contributing 0.

    ``rankings`` is an ORDERED list of ``(name, frame)`` where each
    frame carries ``id_col`` and a 1-based ``rank_col`` — the order
    fixes the FP addition order, so two engines replaying the same
    list order agree bit-for-bit (each contribution is a single
    division of exact integers; ties in the fused score break on the
    id).

    Scale shape: the inputs are top-k lists — already bounded — so
    the outer-join chain and the final sort-limit cost nothing at any
    corpus scale; all the heavy lifting happened inside the upstream
    retrievers.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    joined = None
    names = []
    for name, rdf in rankings:
        if name in names:
            raise ValueError(f"duplicate ranking name {name!r}")
        names.append(name)
        ri = rdf.select(
            F.col(id_col).alias("doc_id"),
            F.col(rank_col).cast("int").alias(f"rank_{name}"),
        )
        joined = ri if joined is None else joined.join(
            ri, "doc_id", "full_outer"
        )
    score = None
    for name in names:
        c = F.coalesce(
            F.lit(1.0) / (F.lit(k_const) + F.col(f"rank_{name}")),
            F.lit(0.0),
        )
        score = c if score is None else score + c
    return (
        joined.select(
            "doc_id",
            *[f"rank_{n}" for n in names],
            score.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(k)
    )


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    *,
    k: int,
    query_col: str = "query_id",
    match_col: str = "match_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Standard ranked-retrieval evaluation → one row per query:
    ``(query_id, n_relevant, n_hits, precision_at_k, recall_at_k,
    reciprocal_rank, average_precision)`` — the eval rung for the
    BM25 / ANN / hybrid retrieval stack (a score without its P@k /
    MAP / MRR is a demo, not a system).

    ``results`` carries ranked matches (rank 1 = best, ranks unique
    per query, at most ``k`` used); ``qrels`` the relevant
    (query, match) pairs. Semantics (TREC conventions): P@k divides
    by ``k``; recall and AP divide by the query's TOTAL relevant
    count; AP sums precision at each HIT's rank; queries present in
    ``qrels`` but retrieving nothing still emit a zero row.

    Exactness: hits and ranks are integers; P@k, recall and RR are
    single divisions. AP is the one composite — a left fold over the
    rank-sorted hit list (hit-index/rank divisions summed in fixed
    order), bit-replayable by a DuckDB ``list_reduce`` over the same
    sorted list. Per-query state is the ≤ k retained ranks — bounded,
    partial-aggregatable.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    rel = qrels.select(
        F.col(query_col).alias("q"), F.col(match_col).alias("m")
    ).distinct()
    n_rel = rel.groupBy("q").agg(F.count(F.lit(1)).alias("n_relevant"))
    hits = (
        results.select(
            F.col(query_col).alias("q"),
            F.col(match_col).alias("m"),
            F.col(rank_col).cast("long").alias("r"),
        )
        .where(F.col("r") <= F.lit(int(k)))
        .join(rel, ["q", "m"], "left_semi")
    )
    per_q = hits.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("r").alias("__first"),
        F.sort_array(F.collect_list("r")).alias("__ranks"),
    )
    # AP numerator: fold over the sorted hit ranks; the i-th hit at
    # rank r contributes i/r. acc = (sum, hit_index) as a struct.
    ap_num = F.aggregate(
        F.col("__ranks"),
        F.struct(
            F.lit(0.0).alias("s"), F.lit(0).cast("long").alias("i")
        ),
        lambda acc, r: F.struct(
            (
                acc["s"]
                + (acc["i"] + F.lit(1)).cast("double") / r.cast("double")
            ).alias("s"),
            (acc["i"] + F.lit(1)).alias("i"),
        ),
    )["s"]
    out = n_rel.join(per_q, "q", "left").select(
        F.col("q").alias(query_col),
        "n_relevant",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce("n_hits", F.lit(0)).cast("double") / F.lit(float(k))
        ).alias("precision_at_k"),
        (
            F.coalesce("n_hits", F.lit(0)).cast("double")
            / F.col("n_relevant").cast("double")
        ).alias("recall_at_k"),
        F.coalesce(
            F.lit(1.0) / F.col("__first").cast("double"), F.lit(0.0)
        ).alias("reciprocal_rank"),
        (
            F.coalesce(ap_num, F.lit(0.0))
            / F.col("n_relevant").cast("double")
        ).alias("average_precision"),
    )
    return out


def perplexity_buckets(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    n_buckets: int = 3,
    scale: str = "auto",
    max_exact_rows_per_lang: int = 100_000_000,
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020) → ``(id, lang, n_bigrams, bucket)`` with bucket 1 = the
    most-fluent tier (highest avg LM log-prob per language) through
    ``n_buckets`` = tail. The canonical pretraining split: CCNet keeps
    head/middle and drops or down-weights tail per language, so the
    cut is WITHIN each language (absolute perplexity is not comparable
    across languages).

    Scoring is :func:`bigram_logprob` (Laplace bigram LM trained on
    the corpus itself); documents under 2 words emit no row, matching
    the scorer.

    Two physical plans, auto-selected (round-9 verdict item 2):

    - **exact** (fixture scale / oracle parity): NTILE over the total
      order ``(quantized avg_logprob DESC, id ASC)`` — rank-based, no
      quantile interpolation, so two engines agree exactly (the
      6-dp-rounded score quantizes to an exact BIGINT first). The
      per-language window funnels each language through ONE sort
      partition — fine up to ~10^8 docs/language, the shape CCNet
      itself used per shard, fatal for a mono-lingual 100 TB corpus.
    - **approx** (the 100 TB path): per-language bucket boundaries by
      ``approx_percentile`` AGGREGATION (one row per language, map-side
      partials, no sort) broadcast-joined back; bucket = 1 + number of
      descending thresholds above the score. The
      ``curation.quantile_threshold_filter`` shape — equal-probability
      buckets instead of NTILE's equal-count split of ties, identical
      intent.

    ``scale='auto'`` probes per-language row counts from ``docs``
    directly (a bounded count aggregate — it does NOT run the scorer)
    and picks approx iff any language exceeds
    ``max_exact_rows_per_lang``; pass ``'exact'`` / ``'approx'`` to
    skip the probe when the corpus shape is known.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2; got {n_buckets}")
    if scale not in ("auto", "exact", "approx"):
        raise ValueError(f"scale must be auto|exact|approx; got {scale!r}")
    if scale == "auto":
        biggest = (
            docs.groupBy(F.col(lang_col))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        scale = (
            "approx"
            if (biggest or 0) > max_exact_rows_per_lang
            else "exact"
        )
    scored = bigram_logprob(docs, id_col, text_col)
    langs = docs.select(
        F.col(id_col).alias("id"), F.col(lang_col).alias("lang")
    )
    q = F.round(F.col("avg_logprob") * 1e6, 0).cast("long")
    base = scored.join(langs, "id")
    if scale == "exact":
        w = Window.partitionBy("lang").orderBy(
            q.desc(), F.col("id").asc()
        )
        return base.select(
            "id", "lang", "n_bigrams",
            F.ntile(n_buckets).over(w).cast("bigint").alias("bucket"),
        )
    # Approx path: descending boundaries at 1 - j/n for j = 1..n-1;
    # a score at or above boundary j stays in the better bucket.
    fracs = [1.0 - j / n_buckets for j in range(1, n_buckets)]
    qscored = base.select("id", "lang", "n_bigrams", q.alias("__q"))
    thr = qscored.groupBy("lang").agg(
        F.percentile_approx(
            "__q", F.lit(fracs), F.lit(approx_accuracy)
        ).alias("__thr")
    )
    return (
        qscored.join(F.broadcast(thr), "lang")
        .select(
            "id",
            "lang",
            "n_bigrams",
            (
                F.lit(1)
                + F.size(
                    F.filter(
                        "__thr", lambda t: t > F.col("__q")
                    )
                )
            ).cast("bigint").alias("bucket"),
        )
    )
