"""Persistent IVF-PQ index (pipelines/ivf_index.IvfPqIndex): batch-
operator search equivalence, code-only storage, incremental adds,
CDC deletes, and the inherited epoch retrain/prune contracts with the
codebook inside the atomic flip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nextbus2pg_spark.catalog import load_table
from nextbus2pg_spark.operators.similarity import ivfpq_topk
from nextbus2pg_spark.pipelines.ivf_index import IvfPqIndex

SF_DIR = "/root/testdata/sf0.001"

PARAMS = dict(n_centroids=8, kmeans_iters=2, pq_m=4, pq_codes=16,
              pq_iters=2)


def _mk(spark, tmp_path):
    return IvfPqIndex(spark, str(tmp_path / "ivfpq"), n_buckets=8,
                      **PARAMS)


def test_search_matches_batch_operator(spark, tmp_path):
    """Trained on the same corpus with the same parameters, the index
    search must reproduce ivfpq_topk exactly (identical training
    computations re-run in one session; sims rounded at 6dp)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.filter("vec_id >= 10")
    queries = emb.filter("vec_id < 5")
    idx = _mk(spark, tmp_path)
    idx.train(corpus)
    got = sorted(
        tuple(r) for r in idx.search(queries, k=5, nprobe=3).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivfpq_topk(
            corpus, queries, "vec_id", "embedding", k=5,
            n_centroids=PARAMS["n_centroids"], nprobe=3,
            m=PARAMS["pq_m"], n_codes=PARAMS["pq_codes"],
            kmeans_iters=PARAMS["kmeans_iters"],
            pq_iters=PARAMS["pq_iters"],
        ).collect()
    )
    assert got == want and got


def test_rows_store_codes_not_vectors(spark, tmp_path):
    """The 100 TB point: stored rows are (id, centroid_id, codes,
    epoch) — no vector, no norm; codes are pq_m small ints."""
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = _mk(spark, tmp_path)
    idx.train(emb.filter("vec_id >= 10 and vec_id < 80"))
    rows = idx.vectors.read()
    assert set(rows.columns) == {"id", "centroid_id", "codes", "epoch"}
    first = rows.first()
    assert len(first["codes"]) == PARAMS["pq_m"]
    assert all(0 <= c < PARAMS["pq_codes"] for c in first["codes"])


def test_incremental_add_and_recall_floor(spark, tmp_path):
    """add_if_absent encodes against the existing codebook; a twin of
    an added vector must surface it (ADC self-similarity is maximal
    among candidates sharing its cell)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = _mk(spark, tmp_path)
    idx.train(emb.filter("vec_id >= 10 and vec_id < 80"))
    idx.add_if_absent(emb.filter("vec_id >= 80 and vec_id < 90"))

    twin85 = emb.filter("vec_id = 85").select(
        F.lit(9001).alias("vec_id"), "embedding"
    ).localCheckpoint()
    hits = [r["match_id"] for r in idx.search(
        twin85, k=5, nprobe=8
    ).collect()]
    assert 85 in hits
    # replay-safe: re-adding the same batch lands zero duplicate rows
    idx.add_if_absent(emb.filter("vec_id >= 80 and vec_id < 90"))
    per_id = idx.vectors.read().groupBy("id").count().collect()
    assert all(r["count"] == 1 for r in per_id)


def test_delete_and_cdc_apply_changes(spark, tmp_path):
    """Inherited CDC surface: deletes drop the id from its cell
    without touching the codebook; apply_changes converges under
    replay."""
    from nextbus2pg_spark.pipelines.change_feed import ChangeFeedFollower
    from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable

    emb = load_table(spark, SF_DIR, "embeddings")
    corpus_df = emb.filter("vec_id >= 10 and vec_id < 80")
    store = ParquetUpsertTable(
        spark, str(tmp_path / "emb"), key_cols=["vec_id"],
        update_cols=["embedding"], n_buckets=4,
    )
    store.store.keep_generations = 10
    store.upsert(corpus_df)

    idx = _mk(spark, tmp_path)
    follower = ChangeFeedFollower(store.store, str(tmp_path / "marker"))
    follower.resync(lambda df: idx.train(df))

    twin42 = corpus_df.filter("vec_id = 42").select(
        F.lit(9001).alias("vec_id"), "embedding"
    ).localCheckpoint()
    assert 42 in {
        r["match_id"] for r in idx.search(twin42, k=5, nprobe=8).collect()
    }
    store.delete(spark.createDataFrame([(42,)], "vec_id long"))
    marker = follower.last_applied()
    assert follower.poll(lambda df: idx.apply_changes(df)) is not None
    assert 42 not in {
        r["match_id"] for r in idx.search(twin42, k=5, nprobe=8).collect()
    }
    # replay the delta: converged, codebook untouched
    follower._advance(marker)
    follower.poll(lambda df: idx.apply_changes(df))
    assert 42 not in {
        r["match_id"] for r in idx.search(twin42, k=5, nprobe=8).collect()
    }
    assert idx.codebook.read().count() == (
        PARAMS["pq_m"] * PARAMS["pq_codes"]
    )


def test_retrain_swap_flips_codebook_with_centroids(spark, tmp_path):
    """The codebook is inside the atomic flip: a pinned old-epoch
    search still scores against the OLD codebook (identical results),
    the new epoch serves the retrained triple, and prune sweeps all
    three stores."""
    emb = load_table(spark, SF_DIR, "embeddings")
    corpus_a = emb.filter("vec_id >= 10 and vec_id < 60")
    corpus_b = emb.filter("vec_id >= 10 and vec_id < 90")
    idx = _mk(spark, tmp_path)
    idx.train(corpus_a)
    twin42 = corpus_a.filter("vec_id = 42").select(
        F.lit(9001).alias("vec_id"), "embedding"
    ).localCheckpoint()
    r_old = sorted(
        tuple(r) for r in idx.search(twin42, k=5, nprobe=3).collect()
    )

    reader_epoch = idx.current_epoch()
    assert idx.retrain_swap(corpus_b) == 1
    assert sorted(
        tuple(r)
        for r in idx.search(twin42, k=5, nprobe=3,
                            epoch=reader_epoch).collect()
    ) == r_old

    twin85 = emb.filter("vec_id = 85").select(
        F.lit(9002).alias("vec_id"), "embedding"
    ).localCheckpoint()
    assert 85 in {
        r["match_id"] for r in idx.search(twin85, k=5, nprobe=8).collect()
    }

    idx.prune_stale_epochs()
    for st in (idx.vectors, idx.codebook, idx.centroids):
        epochs = {r["epoch"] for r in st.read().select(
            "epoch").distinct().collect()}
        assert epochs == {1}, st.path


def test_crash_before_flip_invisible_even_with_codebook_debris(
    spark, tmp_path
):
    """A crash after codes AND codebook landed but before the centroid
    flip leaves readers on the old epoch; the retry skips the debris
    epoch and prune sweeps it from all three stores."""
    emb = load_table(spark, SF_DIR, "embeddings")
    corpus_a = emb.filter("vec_id >= 10 and vec_id < 60")
    corpus_b = emb.filter("vec_id >= 10 and vec_id < 90")
    idx = _mk(spark, tmp_path)
    idx.train(corpus_a)
    twin42 = corpus_a.filter("vec_id = 42").select(
        F.lit(9001).alias("vec_id"), "embedding"
    ).localCheckpoint()
    r_old = sorted(
        tuple(r) for r in idx.search(twin42, k=5, nprobe=3).collect()
    )

    real = idx.centroids.append
    idx.centroids.append = lambda df, **kw: (_ for _ in ()).throw(
        RuntimeError("crash before flip")
    )
    with pytest.raises(RuntimeError):
        idx.retrain_swap(corpus_b)
    idx.centroids.append = real

    assert idx.current_epoch() == 0
    assert sorted(
        tuple(r) for r in idx.search(twin42, k=5, nprobe=3).collect()
    ) == r_old

    assert idx.retrain_swap(corpus_b) == 2  # 1 is the debris epoch
    idx.prune_stale_epochs()
    for st in (idx.vectors, idx.codebook, idx.centroids):
        epochs = {r["epoch"] for r in st.read().select(
            "epoch").distinct().collect()}
        assert epochs == {2}, st.path


def test_streaming_embedding_index_with_pq_codec(spark, tmp_path):
    """The streaming embedding stage (streaming/curation.py
    start_embedding_index) is codec-agnostic: file-streamed vectors
    land as PQ codes across two availableNow runs (restart included),
    and a twin query surfaces the streamed vector via ADC search."""
    import json
    import os

    from nextbus2pg_spark.streaming.curation import start_embedding_index

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IvfPqIndex(
        spark, str(tmp_path / "ivfpq"), n_centroids=4, kmeans_iters=0,
        pq_m=4, pq_codes=16, pq_iters=1,
    )
    idx.train(emb.filter("vec_id < 30"))

    rows = emb.filter("vec_id >= 30 and vec_id < 34").collect()
    spool = str(tmp_path / "spool")
    os.makedirs(spool)

    def write_batch(name, rs):
        with open(os.path.join(spool, name), "w") as f:
            for r in rs:
                f.write(json.dumps(
                    {"vec_id": r["vec_id"],
                     "embedding": [float(x) for x in r["embedding"]]}
                ) + "\n")

    stream_schema = "vec_id long, embedding array<float>"
    write_batch("b1.json", rows[:2])
    q = start_embedding_index(
        spark.readStream.schema(stream_schema).json(spool),
        idx, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    write_batch("b2.json", rows[2:])
    q = start_embedding_index(
        spark.readStream.schema(stream_schema).json(spool),
        idx, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    stored = idx.vectors.read().filter("id >= 30 and id < 34")
    assert stored.count() == 4
    assert set(stored.columns) == {"id", "centroid_id", "codes", "epoch"}
    twin = spark.createDataFrame(
        [(9000, rows[3]["embedding"])], stream_schema
    )
    res = idx.search(twin, k=1, nprobe=4).collect()
    assert res and res[0]["match_id"] == rows[3]["vec_id"]


def test_retrain_swap_after_all_vectors_deleted(spark, tmp_path):
    """Mirrors the IvfIndex test of the same name: with every vector
    delete()d the vector store's max epoch is NULL, and the retrain
    must still publish a complete next epoch (codes, codebook,
    centroids) that search serves."""
    emb = load_table(spark, SF_DIR, "embeddings")
    corpus = emb.filter("vec_id < 30")
    idx = IvfPqIndex(
        spark, str(tmp_path / "ivfpq"), n_centroids=4, kmeans_iters=1,
        pq_m=4, pq_codes=16, pq_iters=1,
    )
    idx.train(corpus)
    idx.delete(corpus)  # empty the vectors store entirely
    assert idx.vectors.read().count() == 0

    epoch = idx.retrain_swap(corpus)
    assert epoch == idx.current_epoch() and epoch >= 1
    for st, n in ((idx.vectors, 30), (idx.codebook, 4 * 16),
                  (idx.centroids, 4)):
        assert st.read().filter(F.col("epoch") == epoch).count() == n
    twin = corpus.filter("vec_id = 7").select(
        F.lit(9001).alias("vec_id"), "embedding"
    )
    assert 7 in {
        r["match_id"] for r in idx.search(twin, k=5, nprobe=4).collect()
    }
