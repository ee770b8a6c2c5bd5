"""Operator-library unit tests: dedup/LSH recall, similarity, text ops,
as-of join, two-level fallback — Spark-vs-expected (oracle parity is
covered separately in test_oracle_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nextbus2pg_spark.operators import dedup as dd
from nextbus2pg_spark.operators.asof import asof_join_by_id
from nextbus2pg_spark.operators.joins import top1_per_group, two_level_fallback
from nextbus2pg_spark.operators.similarity import cosine_topk, lsh_topk
from nextbus2pg_spark.operators.text import lang_id, n_words, token_count
from tests.conftest import count_jobs


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "solo")], "id long, text string"
    )
    sh = dd.word_shingles(df, "id", "text", n=3).collect()
    got = {(r.id, r.shingle) for r in sh}
    assert got == {(1, "a b c"), (1, "b c d")}  # short docs → no shingles


def test_minhash_lsh_finds_near_dups(spark):
    """A near-identical pair must be recovered; unrelated docs not."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " ok"
    other = "completely different words about spark catalyst optimizer plans"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "id long, text string"
    )
    sh = dd.word_shingles(df, "id", "text", n=3)
    sigs = dd.minhash_signatures(sh, num_perm=8)
    assert sigs.count() == 3 * 8
    cand = dd.lsh_candidate_pairs(dd.lsh_bands(sigs, rows_per_band=2))
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (1, 2) in pairs
    jac = {(r.id_a, r.id_b): r.jaccard for r in dd.jaccard_pairs(sh, cand).collect()}
    assert jac[(1, 2)] > 0.8


def test_jaccard_impls_agree(spark):
    """The set-based and exploded-join verifies are interchangeable:
    same pairs, same scores — including dropping zero-intersection
    candidates (here (1, 4): a band collision with no shared shingle
    is simulated by injecting the pair directly)."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "a b c q r s t u"),
            (4, "m n o p q r s t"),
        ],
        "id long, text string",
    )
    sh = dd.word_shingles(df, "id", "text", n=3)
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    by_impl = {
        impl: {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in dd.jaccard_pairs(sh, cand, impl=impl).collect()
        }
        for impl in ("sets", "explode")
    }
    assert by_impl["sets"] == by_impl["explode"]
    assert (1, 4) not in by_impl["sets"]  # empty intersection dropped
    assert by_impl["sets"][(1, 2)] > by_impl["sets"][(1, 3)]


def test_simhash_near_dup_distance(spark):
    base = " ".join(f"w{i}" for i in range(40))
    near = base + " extra"
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "id long, text string"
    )
    out = {r.id: r.simhash for r in dd.simhash(df, "id", "text", bits=16).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(out[1], out[2]) <= 4
    assert ham(out[1], out[3]) >= ham(out[1], out[2])


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
        (4, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(df, df.where(F.col("vec_id") == 1), "vec_id", "embedding", k=3)
    got = [(r.match_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(2, 1), (3, 2), (4, 3)]


def test_lsh_topk_self_recall(spark):
    """Identical vectors share buckets, so each query finds its twin."""
    rows = [(i, [float((i * 7 + d) % 5 - 2) for d in range(8)]) for i in range(20)]
    rows += [(100 + i, vec) for i, vec in rows[:5]]  # exact twins
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where(F.col("vec_id") >= 100)
    out = lsh_topk(df, queries, "vec_id", "embedding", k=3, n_bits=4)
    best = {
        r.query_id: r.match_id for r in out.where(F.col("rank") == 1).collect()
    }
    for qid, mid in best.items():
        assert mid == qid - 100  # twin found at sim 1.0


def test_text_ops(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "el perro que el gato")],
        "id long, text string",
    )
    out = df.select(
        "id",
        lang_id(F.col("text")).alias("lang"),
        n_words(F.col("text")).alias("nw"),
        token_count(F.col("text")).alias("nt"),
    ).collect()
    r = {x.id: x for x in out}
    assert r[1].lang == "en"
    assert r[2].lang == "es"
    assert r[1].nw == 5 and r[1].nt == 5


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, "k", 100), (2, "k", 250), (3, "x", 50)],
        "event_id long, key string, ts long",
    )
    right = spark.createDataFrame(
        [("k", 90, "a"), ("k", 100, "b"), ("k", 200, "c")],
        "key string, rts long, val string",
    )
    out = asof_join_by_id(
        left, right,
        left_id="event_id", left_on="key", right_on="key",
        left_ts="ts", right_ts="rts", right_cols=["val"],
    ).collect()
    got = {r.event_id: r.val for r in out}
    assert got == {1: "b", 2: "c", 3: None}  # ties → latest; no match → NULL


def test_asof_join_generic_keeps_duplicate_left_rows(spark):
    """Regression (round-2 verdict "What's wrong" #3): the generic
    entry point used to window over every left column, silently
    collapsing byte-identical left rows into one window and dropping
    all but one. Each physical left row must be enriched independently."""
    from nextbus2pg_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 100), ("k", 100), ("k", 250)],  # two identical rows
        "key string, ts long",
    )
    right = spark.createDataFrame(
        [("k", 90, "a"), ("k", 200, "c")], "key string, rts long, val string"
    )
    out = asof_join(
        left, right, left_on="key", right_on="key",
        left_ts="ts", right_ts="rts", right_cols=["val"],
    ).collect()
    assert sorted((r.ts, r.val) for r in out) == [
        (100, "a"), (100, "a"), (250, "c"),
    ]
    # and the by-id delegation path matches the direct formulation
    left_id = spark.createDataFrame(
        [(1, "k", 100), (2, "k", 100), (3, "k", 250)],
        "event_id long, key string, ts long",
    )
    via_delegate = asof_join(
        left_id, right, left_on="key", right_on="key",
        left_ts="ts", right_ts="rts", right_cols=["val"],
        left_id="event_id",
    ).collect()
    assert sorted((r.event_id, r.val) for r in via_delegate) == [
        (1, "a"), (2, "a"), (3, "c"),
    ]


def test_top1_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [("g", 1, "a"), ("g", 1, "b"), ("h", 2, "c")],
        "grp string, rank long, val string",
    )
    out = top1_per_group(df, ["grp"], [F.col("rank"), F.col("val")])
    got = {r.grp: r.val for r in out.collect()}
    assert got == {"g": "a", "h": "c"}


def test_two_level_fallback_priority(spark):
    fact = spark.createDataFrame(
        [("t1", 1), ("t2", 2), ("t3", 3)], "tag string, v long"
    )
    primary = spark.createDataFrame([("t1", "P1")], "tag string, sid string")
    secondary = spark.createDataFrame(
        [("t1", "S1"), ("t2", "S2")], "tag string, sid string"
    )
    out = two_level_fallback(
        fact, primary, secondary,
        fact_key="tag", lookup_key="tag", value_col="sid", out_col="service",
    )
    got = {r.tag: r.service for r in out.collect()}
    assert got == {"t1": "P1", "t2": "S2"}  # t3 dropped, primary wins


def test_cosine_topk_vectorized_rejects_oversized_query_set(spark):
    """The driver-side query collect is bounded: passing a corpus-sized
    query frame raises instead of silently OOMing the driver, and the
    guard itself only collects max_queries+1 rows."""
    import pytest

    from nextbus2pg_spark.operators.similarity import cosine_topk_vectorized

    rows = [(i, [float(i), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk_vectorized(
            df, df, "vec_id", "embedding", k=2, max_queries=10
        )
    # Within the bound it works unchanged.
    out = cosine_topk_vectorized(
        df, df.limit(3), "vec_id", "embedding", k=2, max_queries=10
    )
    assert out.count() == 6


def test_ivf_topk_recall_vs_exact(spark):
    """IVF with full probing degenerates to exact; with partial probing
    it still finds identical twins (same bucket by construction)."""
    from nextbus2pg_spark.operators.similarity import ivf_topk

    rows = [(i, [float((i * 13 + d * 7) % 11 - 5) for d in range(8)]) for i in range(30)]
    rows += [(100 + i, vec) for i, vec in rows[:5]]  # exact twins
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where(F.col("vec_id") >= 100)

    out = ivf_topk(df, queries, "vec_id", "embedding", k=3,
                   n_centroids=8, nprobe=2)
    best = {r.query_id: (r.match_id, r.sim)
            for r in out.where(F.col("rank") == 1).collect()}
    for qid, (mid, sim) in best.items():
        assert mid == qid - 100 and sim == 1.0  # twin shares the centroid

    # nprobe == n_centroids ⇒ same top-1 as brute force
    from nextbus2pg_spark.operators.similarity import cosine_topk
    exact = {r.query_id: r.match_id for r in
             cosine_topk(df, queries, "vec_id", "embedding", k=1).collect()}
    full = {r.query_id: r.match_id for r in
            ivf_topk(df, queries, "vec_id", "embedding", k=1,
                     n_centroids=8, nprobe=8).where(F.col("rank") == 1).collect()}
    assert exact == full


def test_ivf_assign_matches_window_formulation(spark):
    """Differential: the map-only in-row assignment (_nearest over a
    collected centroid array) must reproduce the crossJoin +
    row_number window formulation ROW-IDENTICALLY, including the (sim
    DESC NULLS LAST, centroid_id ASC) tie-break, Spark's NaN-greatest
    double order, NULL sims (a NULL or too-short vector: every
    centroid ties, so the smallest ids win), and nprobe > k
    truncation. The window replay below is the reference."""
    from pyspark.sql import Window

    from nextbus2pg_spark.operators.similarity import (
        cosine,
        ivf_assign,
        ivf_centroids,
        with_norm,
    )

    rows = [
        (i, [float((i * 13 + d * 7) % 11 - 5) for d in range(8)])
        for i in range(40)
    ]
    rows.append((200, [0.0] * 8))            # zero vector (floored norm)
    rows.append((201, rows[3][1]))           # exact twin → sim ties
    rows.append((202, [float("nan")] * 8))   # NaN sims rank FIRST
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # assigned but never a centroid: NULL sims against every centroid
    edge = df.unionByName(
        spark.createDataFrame(
            [(203, None), (204, [1.0, -2.0, 3.0])],
            "vec_id long, embedding array<float>",
        )
    )

    def window_assign(d, cents, nprobe):
        c = with_norm(
            cents.withColumnRenamed("c_vec", "__cv"), "__cv", "__cn"
        )
        v = with_norm(
            d.select(F.col("vec_id").alias("id"),
                     F.col("embedding").alias("__v")),
            "__v", "__vn",
        )
        sim = cosine(
            F.col("__v"), F.col("__cv"), F.col("__vn"), F.col("__cn")
        )
        scored = v.crossJoin(F.broadcast(c)).select(
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

    for k in (4, 7):
        cents = ivf_centroids(df, "vec_id", "embedding", k)
        for nprobe in (1, 3, k + 2):  # k + 2 exercises nprobe > k
            new = sorted(
                map(tuple, ivf_assign(
                    edge, "vec_id", "embedding", cents, nprobe=nprobe
                ).collect())
            )
            old = sorted(
                map(tuple, window_assign(edge, cents, nprobe).collect())
            )
            assert new == old, (k, nprobe)


def test_nearest_pick_order_contract(spark):
    """_nearest, the in-row pick behind IVF assignment and PQ encoding,
    against a Python model of its order contract on random candidate
    arrays holding NULL, NaN, ±0.0, ±inf, score ties and empty arrays:
    both directions, k = 1 (array_min) and k = 3 (sort + slice)."""
    import math
    import random

    from nextbus2pg_spark.operators.similarity import _nearest

    rng = random.Random(7)
    pool = [None, float("nan"), 0.0, -0.0, 1.0, -1.0, 2.5,
            float("inf"), float("-inf")]
    rows = [
        (i, [(rng.choice(pool), c)
             for c in rng.sample(range(20), rng.randint(0, 6))])
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "i int, c array<struct<s: double, id: int>>"
    )

    def model(cands, desc):
        def key(x):
            s, c = x
            null, nan = s is None, s is not None and math.isnan(s)
            v = 0.0 if null or nan else s
            if desc:  # NaN first, NULL last
                return (null, not nan, -v, c)
            return (not null, nan, v, c)  # NULL first, NaN last

        return [c for _, c in sorted(cands, key=key)]

    for desc in (False, True):
        got = df.select(
            "i",
            _nearest(F.col("c"), lambda x: x["s"], 1, desc).alias("p1"),
            _nearest(F.col("c"), lambda x: x["s"], 3, desc).alias("p3"),
        ).collect()
        for r in got:
            want = model(rows[r["i"]][1], desc)
            assert r["p1"] == (want[0] if want else None), (desc, r)
            assert r["p3"] == want[:3], (desc, r)


def test_pq_encode_matches_join_formulation(spark):
    """Differential: the in-row PQ encoding (_code_of — _nearest over
    a collected codebook row) must reproduce the explode +
    broadcast-join + min_by(struct(d, code_id)) formulation
    ROW-IDENTICALLY, including distance ties broken by the smaller
    code_id, zero vectors (epsilon-floored unit norm), a NaN vector
    (NaN distances — NaN-greatest total order), and a NULL or
    too-short vector (NULL distances — NULLs first, then the smallest
    code_id). The replay below is the reference. A codebook missing a
    subspace yields a NULL code for it instead of raising."""
    from nextbus2pg_spark.operators.similarity import (
        _l2sq,
        _sub_slices,
        _unit,
        pq_encode,
        pq_train,
    )

    rows = [
        (i, [float((i * 29 + d * 5) % 13 - 6) for d in range(16)])
        for i in range(30)
    ]
    rows.append((100, [0.0] * 16))            # zero vector
    rows.append((101, rows[7][1]))            # exact twin
    rows.append((102, [float("nan")] * 16))   # NaN distances
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # encoded but not trained on: NULL distances in every subspace of
    # the NULL vector and in each subspace the 5-element one doesn't fill
    edge = df.unionByName(
        spark.createDataFrame(
            [(103, None), (104, [1.0, -2.0, 3.0, 0.5, 4.0])],
            "vec_id long, embedding array<float>",
        )
    )

    def old_encode(corpus, codebook, id_col, vec_col):
        m = codebook.select(F.max("sub")).first()[0] + 1
        subdim = len(codebook.select("c_vec").first()[0])
        unit = _unit(corpus.select(id_col, vec_col), vec_col)
        exploded = unit.select(
            F.col(id_col).alias("id"),
            F.explode(_sub_slices(vec_col, m, subdim)).alias("__s"),
        ).select(
            "id", F.col("__s.sub").alias("sub"), F.col("__s.sv").alias("sv")
        )
        scored = exploded.join(F.broadcast(codebook), "sub").select(
            "id", "sub", "code_id",
            _l2sq(F.col("sv"), F.col("c_vec")).alias("__d"),
        )
        best = scored.groupBy("id", "sub").agg(
            F.min_by(
                F.col("code_id"), F.struct(F.col("__d"), F.col("code_id"))
            ).alias("code_id")
        )
        return (
            best.groupBy("id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("sub", "code_id"))
                ).alias("__sc")
            )
            .select(
                F.col("id"),
                F.transform("__sc", lambda x: x["code_id"]).alias("codes"),
            )
        )

    for m, n_codes in ((4, 6), (8, 3)):
        book = pq_train(
            df, "vec_id", "embedding", m=m, n_codes=n_codes, n_iters=1
        )
        # plant a distance TIE: code n_codes+1 duplicates code 1's
        # vector in every subspace — min_by must pick the smaller id
        dup = book.where(F.col("code_id") == 1).select(
            "sub", (F.lit(n_codes + 1)).alias("code_id"), "c_vec"
        )
        book_t = book.unionByName(dup)
        new = sorted(
            (r["id"], tuple(r["codes"]))
            for r in pq_encode(
                edge, book_t, "vec_id", "embedding"
            ).collect()
        )
        old = sorted(
            (r["id"], tuple(r["codes"]))
            for r in old_encode(
                edge, book_t, "vec_id", "embedding"
            ).collect()
        )
        assert new == old, (m, n_codes)

    # subspace 1 missing from the last book: NULL there, the rest as
    # encoded against the full book
    gap = sorted(
        (r["id"], tuple(r["codes"]))
        for r in pq_encode(
            edge, book_t.where(F.col("sub") != 1), "vec_id", "embedding"
        ).collect()
    )
    assert gap == [
        (i, codes[:1] + (None,) + codes[2:]) for i, codes in new
    ]


def test_scrub_pii_order_and_counts(spark):
    from nextbus2pg_spark.operators.text import scrub_pii

    rows = [
        # URL containing '@' and digits must be eaten by the URL pass
        # before the email/number passes can misfire on its pieces.
        (1, "go to https://u:p@host/12345678 or mail bob@x.io ref 99999999"),
        (2, "plain text no pii"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in scrub_pii(df, "text").collect()}
    assert out[1]["clean_text"] == "go to <URL> or mail <EMAIL> ref <NUM>"
    assert (out[1]["n_url"], out[1]["n_email"], out[1]["n_longnum"]) == (1, 1, 1)
    assert out[2]["clean_text"] == "plain text no pii"
    assert (out[2]["n_url"], out[2]["n_email"], out[2]["n_longnum"]) == (0, 0, 0)
    assert out[3]["clean_text"] == ""


def test_repetition_features_bounds(spark):
    from nextbus2pg_spark.operators.text import repetition_features

    rows = [
        (1, "spam spam spam spam spam"),   # max repetition
        (2, "all words here are unique"),  # zero repetition
        (3, "ab"),                         # shorter than the n-gram
        (4, ""),                           # empty: ratios defined as 0
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in repetition_features(df, "text").collect()}
    assert out[1]["dup_word_ratio"] == 0.8          # 1 distinct of 5
    assert out[1]["dup_3gram_ratio"] == round(1 - 1 / 3, 4)
    assert out[2]["dup_word_ratio"] == 0.0
    assert out[2]["dup_3gram_ratio"] == 0.0
    assert out[3]["n_words"] == 1 and out[3]["dup_3gram_ratio"] == 0.0
    assert out[4]["n_words"] == 0 and out[4]["dup_word_ratio"] == 0.0


def test_kmv_distinct_error_bound_and_exact_small(spark):
    from nextbus2pg_spark.operators.sketch import kmv_distinct

    # 5000 distinct values in one group: estimate within 3/sqrt(k-2).
    df = spark.range(5000).select(
        F.lit("g").alias("grp"), F.col("id").alias("v")
    )
    est = kmv_distinct(df, ["grp"], "v", k=64).collect()[0]["n_distinct_est"]
    assert abs(est - 5000) / 5000 < 3 / (62 ** 0.5)

    # Fewer distincts than k: the sketch degrades to the exact count,
    # and duplicate rows don't inflate it.
    small = spark.range(30).select(
        F.lit("g").alias("grp"), (F.col("id") % 10).alias("v")
    )
    out = kmv_distinct(small, ["grp"], "v", k=64).collect()[0]
    assert out["n_distinct_est"] == 10.0


def test_kmv_distinct_partitioning_invariant(spark):
    from nextbus2pg_spark.operators.sketch import kmv_distinct

    df = spark.range(2000).select(
        (F.col("id") % 3).alias("grp"), F.col("id").alias("v")
    )
    a = {(r["grp"], r["n_distinct_est"])
         for r in kmv_distinct(df, ["grp"], "v", k=32).collect()}
    b = {(r["grp"], r["n_distinct_est"])
         for r in kmv_distinct(df.repartition(17), ["grp"], "v", k=32).collect()}
    assert a == b  # merge-and-truncate is partitioning-independent


def test_asof_bucketed_lookback_contract(spark):
    from nextbus2pg_spark.operators.asof import (
        asof_join_bucketed,
        asof_join_by_id,
    )

    left = spark.createDataFrame(
        [(1, "k", 1000), (2, "k", 250), (3, "x", 500)],
        "lid long, key string, lts long",
    )
    right = spark.createDataFrame(
        [("k", 100, 10.0), ("k", 240, 24.0), ("k", 990, 99.0)],
        "key string, rts long, payload double",
    )
    # Bucket width 100, lookback 1: left@250 (bucket 2) sees buckets
    # 1-2 → only rts=240; rts=100 (bucket 1)... visible; left@1000 sees
    # buckets 9-10 → rts=990 only. Key 'x' never matches.
    out = {
        r["lid"]: r["payload"]
        for r in asof_join_bucketed(
            left, right, "lid", "key", "lts", "rts", ["payload"],
            bucket_width=100, lookback=1,
        ).collect()
    }
    assert out == {1: 99.0, 2: 24.0, 3: None}

    # A lookback that covers the whole time range reproduces the
    # unbounded as-of join exactly.
    unbounded = {
        r["lid"]: r["payload"]
        for r in asof_join_by_id(
            left, right, "lid", "key", "key", "lts", "rts", ["payload"]
        ).collect()
    }
    wide = {
        r["lid"]: r["payload"]
        for r in asof_join_bucketed(
            left, right, "lid", "key", "lts", "rts", ["payload"],
            bucket_width=100, lookback=100,
        ).collect()
    }
    assert wide == unbounded

    # The physical join is an equi-join on (key, bucket) — never a
    # nested-loop over the range predicate.
    plan = asof_join_bucketed(
        left, right, "lid", "key", "lts", "rts", ["payload"],
        bucket_width=100, lookback=1,
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan


def test_char_entropy_orders_repetitiveness(spark):
    from pyspark.sql import functions as F

    from nextbus2pg_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa aaaa aaaa"),                   # ~degenerate
            (2, "the quick brown fox jumps over"),   # natural-ish
            (3, ""),                                 # empty -> 0
            (4, "1234 5678"),                        # no alphabet chars
        ],
        "id long, text string",
    )
    got = {r.id: r.e for r in df.select(
        "id", char_entropy(F.col("text")).alias("e")).collect()}
    assert got[3] == 0.0
    # digits are outside the alphabet; only the one space symbol counts
    # -> a single-symbol distribution has zero entropy by definition
    assert got[4] == 0.0
    assert got[1] < got[2], got
    assert got[2] > 3.0


def test_simhash_bits_64_no_overflow(spark):
    """Bit 63 is the long sign bit: bits=64 must produce non-NULL
    fingerprints (1<<63 would overflow LongType; the packing uses the
    two's-complement value instead)."""
    from nextbus2pg_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "totally different words here")],
        "doc_id long, text string",
    )
    rows = {r.id: r.simhash for r in simhash(df, "doc_id", "text", bits=64).collect()}
    assert all(v is not None for v in rows.values())
    assert rows[1] == rows[2]          # identical docs, identical hash
    assert rows[1] != rows[3]


def test_countmin_never_undercounts_and_merges(spark):
    """CM sketch invariants: est >= exact for every key, exact when no
    bucket collision, and sketch(A union B) == merge(sketch(A),
    sketch(B)) cell-for-cell (the mergeable-state contract)."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.operators.sketch import (
        countmin_build,
        countmin_estimate,
    )

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 7
    df = spark.createDataFrame(rows, "k string")
    sketch = countmin_build(df, "k", depth=3, width=64)
    keys = df.select("k").distinct()
    est = {
        r.k: r.est_count
        for r in countmin_estimate(sketch, keys, "k", depth=3, width=64).collect()
    }
    exact = {"a": 50, "b": 30, "c": 7}
    assert all(est[k] >= v for k, v in exact.items())
    # 3 keys in 64 buckets x 3 rows: some row is collision-free, so
    # the min over rows is exact here
    assert est == exact

    half_a = spark.createDataFrame(rows[:40], "k string")
    half_b = spark.createDataFrame(rows[40:], "k string")
    merged = (
        countmin_build(half_a, "k", depth=3, width=64)
        .unionByName(countmin_build(half_b, "k", depth=3, width=64))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    m = sorted(tuple(r) for r in merged.collect())
    s = sorted(tuple(r) for r in sketch.collect())
    assert m == s


def test_setsim_join_matches_brute_force(spark):
    """Property: prefix-filtered exact set-similarity join equals the
    all-pairs definition on a randomized corpus, across thresholds
    that land exactly ON integer boundaries (ceil(t*n) integral — the
    float-noise edge the 1e-9 slack guards) and between them."""
    import itertools
    import random

    rnd = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rnd.sample(vocab, rnd.randint(2, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def brute(t):
        sets = {i: set(s.split()) for i, s in docs}
        out = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= t:
                out.add((a, b, round(inter / union, 6)))
        return out

    from nextbus2pg_spark.operators.dedup import setsim_join

    for t in (0.25, 0.5, 0.6, 0.75):  # 0.5/0.25 hit exact boundaries
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in setsim_join(df, "doc_id", "text", t).collect()
        }
        assert got == brute(t), f"threshold {t}: mismatch"


def test_pq_encode_reads_codebook_shape_in_one_job(spark):
    """pq_encode learns the codebook's (m, subdim) with one Spark job
    (one aggregate, no shuffle) while building its frame; the frame
    itself stays lazy."""
    from nextbus2pg_spark.operators.similarity import pq_encode, pq_train

    rows = [
        (i, [float((i * 7 + d * 3) % 5 - 2) for d in range(8)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    book = pq_train(df, "vec_id", "embedding", m=4, n_codes=3, n_iters=1)
    with count_jobs(spark) as jobs:
        codes = pq_encode(df, book, "vec_id", "embedding")
    assert jobs.n == 1
    assert {len(r["codes"]) for r in codes.collect()} == {4}


def test_cosine_topk_rejects_oversized_query_set(spark):
    """ADVICE r7 + r8: the expression brute-force path guards against
    corpus-sized query frames, but LAZILY — constructing the operator
    runs no Spark job (the r8 eager limit-probe cost a whole job per
    call, the q_retrieval_eval bench outlier); the raise is fused into
    the plan and fires at execution time."""
    import pytest

    from nextbus2pg_spark.operators.similarity import cosine_topk

    rows = [(i, [float(i), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    with count_jobs(spark) as jobs:
        oversized = cosine_topk(
            df, df, "vec_id", "embedding", k=2, max_queries=10
        )
    assert jobs.n == 0, "constructing cosine_topk must not run a Spark job"
    with pytest.raises(Exception, match="max_queries"):
        oversized.collect()

    out = cosine_topk(
        df, df.limit(3), "vec_id", "embedding", k=2, max_queries=10
    )
    assert out.count() == 6
    # max_queries=None skips the guard entirely (caller opts out).
    assert cosine_topk(
        df, df, "vec_id", "embedding", k=2, max_queries=None
    ).count() == 100


def test_operators_all_exports_resolve():
    """ADVICE r7: detect_gaps was in __all__ but never imported, so
    'from nextbus2pg_spark.operators import *' raised AttributeError.
    Pin the invariant for the whole public surface."""
    from nextbus2pg_spark import operators

    missing = [n for n in operators.__all__ if not hasattr(operators, n)]
    assert missing == []


def test_semantic_dedup_hand_computed(spark):
    """2D corpus, 2 first-N-seed cells (kmeans_iters=0): the three
    near-copies of (1,0) collapse to the min id, the pair near (0,1)
    collapses likewise, and every row appears exactly once with its
    cell."""
    from nextbus2pg_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0]), (2, [0.0, 1.0]),          # the two seeds
        (3, [1.0, 0.01]), (5, [1.0, 0.02]),        # near-copies of 1
        (4, [0.01, 1.0]),                          # near-copy of 2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r.asDict() for r in semantic_dedup(
        df, "vec_id", "embedding",
        n_centroids=2, kmeans_iters=0, sim_threshold=0.999,
    ).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert {i for i, r in out.items() if r["keep"]} == {1, 2}
    assert out[3]["centroid_id"] == out[5]["centroid_id"] == \
        out[1]["centroid_id"]
    assert out[4]["centroid_id"] == out[2]["centroid_id"]
    # a stricter threshold keeps everything (no edges at 1.0)
    strict = semantic_dedup(
        df, "vec_id", "embedding",
        n_centroids=2, kmeans_iters=0, sim_threshold=1.0,
    )
    assert all(r["keep"] for r in strict.collect())
