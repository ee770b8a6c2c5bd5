"""BucketedParquetStore contracts: bucket-pruned rewrites leave
untouched buckets byte-identical, publishes are atomic (a crash before
the manifest rename is invisible), appends never rewrite existing
files, and SCD2 history survives a crashed merge."""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from nextbus2pg_spark.sinks.scd2 import Scd2Table
from nextbus2pg_spark.sinks.store import BucketedParquetStore, bucket_expr
from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable


def _file_hashes(root: str) -> dict[str, str]:
    """md5 of every parquet part file under root, keyed by path."""
    out = {}
    for p in glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                       recursive=True):
        with open(p, "rb") as f:
            out[p] = hashlib.md5(f.read()).hexdigest()
    return out


def _routes(spark, rows):
    return spark.createDataFrame(
        rows, "route_id string, agency_id string, tag string, name string"
    )


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The Delta-MERGE-shaped contract: after an upsert touching one
    key, every file of every untouched bucket is byte-identical (same
    path, same bytes) — per-batch IO is O(touched buckets)."""
    path = str(tmp_path / "t")
    t = ParquetUpsertTable(
        spark, path, key_cols=["agency_id", "tag"], update_cols=["name"],
        n_buckets=8,
    )
    seed = _routes(
        spark, [(f"u{i}", "sf", f"tag{i}", f"name{i}") for i in range(64)]
    )
    t.upsert(seed)
    before = _file_hashes(path)
    man_before = t.store.current_manifest()
    assert len(man_before["buckets"]) > 4, "seed should span many buckets"

    t.upsert(_routes(spark, [("uX", "sf", "tag7", "renamed")]))

    after = _file_hashes(path)
    man_after = t.store.current_manifest()
    touched = t.store.touched_buckets(
        _routes(spark, [("uX", "sf", "tag7", "renamed")])
    )
    assert len(touched) == 1
    untouched = [
        b for b in man_before["buckets"] if int(b) not in touched
    ]
    assert untouched, "fixture degenerate: every bucket touched"
    for b in untouched:
        assert man_after["buckets"][b] == man_before["buckets"][b]
        for d in man_before["buckets"][b]:
            files = [p for p in before if p.startswith(os.path.join(path, d))]
            assert files, f"bucket {b} had no files"
            for p in files:
                assert after.get(p) == before[p], f"untouched file rewrote: {p}"
    # and the merge itself is correct
    rows = {r.tag: r for r in t.read().collect()}
    assert rows["tag7"].name == "renamed" and rows["tag7"].route_id == "u7"
    assert len(rows) == 64

    # a merge whose incoming touches no bucket publishes nothing
    gens = t.store.generations()
    t.store.merge(seed.where(F.lit(False)), lambda existing, _: existing)
    assert t.store.generations() == gens


def test_merge_evaluates_its_input_once(spark, tmp_path):
    """A keyed write runs ``incoming``'s plan once, on the first write
    and on an upsert into an existing table alike: the touched-bucket
    probe is read off the job that stages the input, so a Python UDF in
    the input sees each row once per write. The UDF yields a key
    column, so the probe cannot prune it away."""
    evaluated = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(tag):
        evaluated.add(1)
        return tag

    def incoming(suffix):
        rows = [(f"u{i}", "sf", f"tag{i}", f"name{i}{suffix}")
                for i in range(20)]
        return _routes(spark, rows).withColumn("tag", counted("tag"))

    t = ParquetUpsertTable(
        spark, str(tmp_path / "t"), key_cols=["agency_id", "tag"],
        update_cols=["name"], n_buckets=8,
    )
    t.upsert(incoming(""))
    assert evaluated.value == 20
    t.upsert(incoming("-v2"))
    assert evaluated.value == 40
    got = {r.tag: r.name for r in t.read().collect()}
    assert got == {f"tag{i}": f"name{i}-v2" for i in range(20)}


def test_replayed_merge_runs_no_job(spark, tmp_path):
    """``merge`` inside a replayed transaction returns on the manifest
    it has read, before it stages ``incoming``: no Spark job runs and
    no generation is published."""
    from tests.conftest import count_jobs

    store = BucketedParquetStore(
        spark, str(tmp_path / "t"), ["k"], n_buckets=4
    )
    df = spark.range(8).select(
        F.col("id").cast("string").alias("k"), F.lit("v").alias("v")
    )
    store.init(df)
    with store.transaction("app", 0):
        store.merge(df, lambda existing, incoming: incoming)
    gens = store.generations()
    with count_jobs(spark) as jobs:
        with store.transaction("app", 0):
            store.merge(df, lambda existing, incoming: incoming)
    assert jobs.n == 0
    assert store.generations() == gens


def test_crash_before_publish_is_invisible(spark, tmp_path):
    """Simulated crash: a data generation written but never published
    (the manifest rename is the commit point) must not change reads,
    and the next successful write reclaims the orphan dir."""
    path = str(tmp_path / "t")
    store = BucketedParquetStore(spark, path, ["k"], n_buckets=4)
    df1 = spark.range(20).select(
        F.col("id").cast("string").alias("k"), F.lit("v1").alias("v")
    )
    store.init(df1)
    want = sorted((r.k, r.v) for r in store.read().collect())

    # Crash: land gen files with no manifest (orphan), plus a torn
    # manifest .tmp — readers must see neither.
    gen = store._next_gen()
    store._write_generation(
        spark.range(5).select(
            F.col("id").cast("string").alias("k"), F.lit("BAD").alias("v")
        ),
        gen,
    )
    with open(os.path.join(path, f"_manifest-{gen}.json.tmp"), "w") as f:
        f.write('{"truncated')

    assert sorted((r.k, r.v) for r in store.read().collect()) == want

    # Next real write (same gen number) reclaims the orphan and lands.
    df2 = spark.range(5).select(
        F.col("id").cast("string").alias("k"), F.lit("v2").alias("v")
    )
    touched = store.touched_buckets(df2)
    merged = store.read(touched).where(F.lit(False)).unionByName(df2)
    store.replace_buckets(merged, touched)
    got = {r.k: r.v for r in store.read().collect()}
    assert all(got[str(i)] == "v2" for i in range(5))


def test_scd2_history_survives_crashed_merge(spark, tmp_path):
    """The advisor's history-loss scenario, re-run against the manifest
    store: after a crash mid-write, exists() is still True and the full
    history is intact — apply() can never re-bootstrap over it."""
    path = str(tmp_path / "dim")
    t = Scd2Table(spark, path, key="k", tracked=["v"], n_buckets=4)
    snap = lambda v: spark.createDataFrame(  # noqa: E731
        [(str(i), f"{v}-{i}") for i in range(10)], "k string, v string"
    )
    t.apply(snap("a"), "2024-01-01")
    t.apply(snap("b"), "2024-02-01")  # closes 10, opens 10
    want = sorted(map(tuple, t.read().collect()))
    assert len(want) == 20

    # Crash mid-merge: generation written, manifest never renamed.
    t.store._write_generation(
        spark.createDataFrame([("9", "junk")], "k string, v string"),
        t.store._next_gen(),
    )
    assert t.exists(), "crash must not make the table look absent"
    assert sorted(map(tuple, t.read().collect())) == want

    # A post-crash apply merges on top of the intact history.
    t.apply(snap("c"), "2024-03-01")
    assert t.read().count() == 30
    assert t.current().count() == 10


def test_append_never_rewrites_existing_files(spark, tmp_path):
    """K6 event-log shape: appends add files; every pre-existing file
    is still there, byte-identical (O(batch) IO)."""
    path = str(tmp_path / "log")
    t = ParquetUpsertTable(
        spark, path, key_cols=["k", "ts"], n_buckets=4
    )
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").cast("string").alias("k"), F.col("id").alias("ts")
    )
    t.append_dedup(mk(0, 50))
    before = _file_hashes(path)
    t.append_dedup(mk(50, 100))
    after = _file_hashes(path)
    for p, h in before.items():
        assert after.get(p) == h, f"append rewrote {p}"
    assert t.read().count() == 100


def test_transaction_records_batch_and_skips_replays(spark, tmp_path):
    """store.transaction(app_id, version): the manifest that publishes
    a write records {app_id: version}; a write at or below the recorded
    version publishes nothing; every publish carries the map forward;
    apps are independent."""
    store = BucketedParquetStore(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    mk = lambda *ks: spark.createDataFrame(  # noqa: E731
        [(k, 1) for k in ks], "k string, v int"
    )
    with store.transaction("a", 0):
        store.append(mk("x", "y"))
    with store.transaction("a", 0):  # replay
        store.append(mk("x", "y"))
    assert store.generations() == [0]
    assert store.txn_version("a") == 0 and store.txn_version("b") == -1
    store.append(mk("z"))  # outside a transaction: carried forward
    with store.transaction("b", 0):  # another app's batch 0 lands
        store.append(mk("w"))
    assert store.current_manifest()["txn"] == {"a": 0, "b": 0}
    upsert = lambda e, i: e.unionByName(i)  # noqa: E731
    with store.transaction("a", 1):
        store.merge(mk("q"), upsert)
    with store.transaction("a", 1):  # a replayed merge
        store.merge(mk("q"), upsert)
    with store.transaction("a", 0):  # an older batch
        store.append(mk("old"))
    assert store.current_manifest()["gen"] == 3
    assert store.current_manifest()["txn"] == {"a": 1, "b": 0}
    assert sorted(r.k for r in store.read().collect()) == [
        "q", "w", "x", "y", "z"
    ]


def test_null_safe_bucket_collocation(spark):
    """NULL and '' key forms must hash to the same bucket, or the
    COALESCE(key, '') merge would pair rows across bucket boundaries."""
    df = spark.createDataFrame([(None, 1), ("", 2)], "tag string, x int")
    got = df.select(
        bucket_expr(["tag"], 16, null_safe=True).alias("b")
    ).distinct().collect()
    assert len(got) == 1


def test_vacuum_bounds_generations(spark, tmp_path):
    """Old generations are garbage-collected: after many upserts only
    keep_generations manifests remain and unreferenced data dirs are
    gone (state does not grow without bound)."""
    path = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, path, key_cols=["k"], n_buckets=2)
    for i in range(6):
        t.upsert(spark.createDataFrame([("a", i)], "k string, v int"))
    manifests = glob.glob(os.path.join(path, "_manifest-*.json"))
    assert len(manifests) == 2  # keep_generations default
    live = set()
    for b, dirs in t.store.current_manifest()["buckets"].items():
        live.update(dirs)
    prev_gen = sorted(
        int(m.split("-")[-1].split(".")[0]) for m in manifests
    )[0]
    for b, dirs in t.store._read_manifest(prev_gen)["buckets"].items():
        live.update(dirs)
    on_disk = {
        os.path.relpath(d, path)
        for d in glob.glob(os.path.join(path, "data", "g*", "__bucket=*"))
    }
    assert on_disk == live
    assert t.read().count() == 1
    assert t.read().collect()[0].v == 5


def test_store_random_sequences_match_dict_model(spark, tmp_path):
    """Property: any interleaving of upsert / insert_if_absent batches
    over a bucketed store matches a dict model of the keyed-write
    algebra: surrogate ids never churn once a key exists, upsert
    overwrites payloads, insert-if-absent keeps the first, and exactly
    one row survives per null-safe key. Which of several IN-BATCH
    colliding rows survives is contractually unspecified
    (upsert_batch docstring), so the model tracks candidate sets for
    batch-introduced values. Deterministic seed; adversarial keys
    include NULL/'' collisions and duplicate in-batch rows."""
    import random

    rnd = random.Random(7)
    keyspace = [None, "", "a", "b", "c", "d", "e", "f", "g", "h"]
    path = str(tmp_path / "t")
    t = ParquetUpsertTable(
        spark, path, key_cols=["k"], update_cols=["v"], n_buckets=4
    )
    # normalized key -> {"rids": allowed surrogate ids,
    #                    "vs": allowed payloads}
    model: dict[str, dict] = {}

    def norm(k):  # null_safe=True: NULL and '' collide
        return "" if k is None else k

    for step in range(8):
        rows = [
            (f"id{step}-{i}", rnd.choice(keyspace), f"v{step}-{i}")
            for i in range(rnd.randint(1, 6))
        ]
        batch = spark.createDataFrame(rows, "rid string, k string, v string")
        op = rnd.choice(["upsert", "insert_if_absent"])
        by_key: dict[str, list] = {}
        for rid, k, v in rows:
            by_key.setdefault(norm(k), []).append((rid, v))
        if op == "upsert":
            t.upsert(batch)
            for nk, cands in by_key.items():
                if nk in model:
                    # key exists: id stable, payload becomes one of
                    # the batch's candidate values
                    model[nk]["vs"] = {v for _, v in cands}
                else:
                    model[nk] = {
                        "rids": {r for r, _ in cands},
                        "vs": {v for _, v in cands},
                    }
        else:
            t.insert_if_absent(batch)
            for nk, cands in by_key.items():
                model.setdefault(
                    nk,
                    {"rids": {r for r, _ in cands},
                     "vs": {v for _, v in cands}},
                )

    out = t.read().collect()
    got = {norm(r.k): (r.rid, r.v) for r in out}
    assert len(out) == len(model), "exactly one row per null-safe key"
    assert set(got) == set(model)
    for nk, m in model.items():
        assert got[nk][0] in m["rids"], f"surrogate churned for {nk!r}"
        assert got[nk][1] in m["vs"], f"payload wrong for {nk!r}"


def test_time_travel_read_previous_generation(spark, tmp_path):
    """Manifests pin immutable files, so the previous publish stays
    readable as-of (Delta VERSION AS OF, bounded by keep_generations)."""
    path = str(tmp_path / "t")
    t = ParquetUpsertTable(
        spark, path, key_cols=["k"], update_cols=["v"], n_buckets=2
    )
    t.upsert(spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int"))
    t.upsert(spark.createDataFrame([("a", 2)], "k string, v int"))
    gens = t.store.generations()
    assert len(gens) == 2
    prev = {r.k: r.v for r in t.store.read_generation(gens[0]).collect()}
    cur = {r.k: r.v for r in t.store.read_generation(gens[-1]).collect()}
    assert prev == {"a": 1, "b": 1}
    assert cur == {"a": 2, "b": 1}
    with pytest.raises(ValueError, match="not retained"):
        t.store.read_generation(999)


def test_reopen_with_different_n_buckets_uses_stored_bucketing(spark, tmp_path):
    """The manifest's n_buckets is authoritative: reopening a table
    with a different constructor value must keep pruning against the
    STORED modulus (a mismatched modulus would miss existing keys and
    silently duplicate them)."""
    path = str(tmp_path / "t")
    t16 = ParquetUpsertTable(
        spark, path, key_cols=["k"], update_cols=["v"], n_buckets=16
    )
    seed = spark.createDataFrame(
        [(f"k{i}", 0) for i in range(40)], "k string, v int"
    )
    t16.upsert(seed)
    # reopen claiming 4 buckets; upsert every key again with v=1
    t4 = ParquetUpsertTable(
        spark, path, key_cols=["k"], update_cols=["v"], n_buckets=4
    )
    t4.upsert(
        spark.createDataFrame([(f"k{i}", 1) for i in range(40)],
                              "k string, v int")
    )
    rows = t4.read().collect()
    assert len(rows) == 40, "duplicated keys -> modulus mismatch"
    assert all(r.v == 1 for r in rows)
    assert int(t4.store.current_manifest()["n_buckets"]) == 16


def test_reader_survives_concurrent_publish_and_gc(spark, tmp_path):
    """The concurrent-reader grace window (round-3 verdict #6): a
    reader that resolved the CURRENT generation's file list keeps
    working across the writer's next publish+vacuum cycle, because
    vacuum always retains the previous manifest's files
    (keep_generations is floored at 2 — an explicit 1 must not be able
    to break in-flight readers)."""
    path = str(tmp_path / "t")
    # an explicit keep_generations=1 is floored to 2
    assert BucketedParquetStore(
        spark, path, ["k"], keep_generations=1
    ).keep_generations == 2
    t = ParquetUpsertTable(spark, path, key_cols=["k"], n_buckets=2)
    t.upsert(spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int"))
    gen = t.store.generations()[-1]

    # Reader resolves gen's manifest NOW; execution is deferred (lazy
    # DataFrame) — the in-flight-read model.
    snapshot = t.store.read_generation(gen)

    # Writer publishes the next generation and vacuums.
    t.upsert(spark.createDataFrame([("a", 2)], "k string, v int"))

    # The reader's deferred execution still sees gen's exact state.
    got = {(r.k, r.v) for r in snapshot.collect()}
    assert got == {("a", 1), ("b", 1)}

    # The bound is ONE publish cycle: after a second publish, gen's
    # files are legitimately vacuumed (documented retention window).
    t.upsert(spark.createDataFrame([("a", 3)], "k string, v int"))
    assert gen not in t.store.generations()


def test_data_skipping_prunes_appended_dirs(spark, tmp_path):
    """Manifest min/max stats: a range read over an appended log must
    open ONLY the generation dirs whose recorded [min, max] intersects
    the bounds — and still return exactly filter()'s rows."""
    path = str(tmp_path / "skiplog")
    store = BucketedParquetStore(
        spark, path, key_cols=["k"], n_buckets=2, stats_cols=["ts", "v"]
    )
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").cast("string").alias("k"),
        F.col("id").alias("ts"),
        (F.col("id") * 2).alias("v"),
    )
    store.append(mk(0, 100))
    store.append(mk(100, 200))
    store.append(mk(200, 300))
    man = store.current_manifest()
    n_dirs = sum(len(d) for d in man["buckets"].values())
    assert set(man.get("stats", {})) == {
        d for dirs in man["buckets"].values() for d in dirs
    }, "every data dir should carry stats"
    # bounds inside the middle batch → only its dirs survive pruning
    kept = store.dirs_for_range("ts", 120, 180)
    assert 0 < len(kept) < n_dirs
    assert all("/g1/" in d for d in kept), kept
    got = sorted(r[0] for r in store.read_range("ts", 120, 180).select("ts").collect())
    want = sorted(
        r[0]
        for r in store.read().filter("ts between 120 and 180").select("ts").collect()
    )
    assert got == want == list(range(120, 181))
    # column with no recorded stats → conservative: keep everything
    assert len(store.dirs_for_range("k", "0", "1")) == n_dirs
    # open-ended bound prunes too
    assert all("/g2/" in d for d in store.dirs_for_range("ts", lower=250))


def test_data_skipping_survives_bucket_merge(spark, tmp_path):
    """replace_buckets: rewritten buckets get fresh stats, untouched
    buckets keep their old stats entries, and pruned range reads stay
    exactly equal to the unpruned filter."""
    path = str(tmp_path / "skipmerge")
    t = ParquetUpsertTable(
        spark, path, key_cols=["k"], update_cols=["v"], n_buckets=8,
        stats_cols=["v"],
    )
    base = spark.range(64).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    t.upsert(base)
    # shift ONE key's v far outside the original range
    t.upsert(
        spark.createDataFrame([("k7", 10_000)], "k string, v long")
    )
    man = t.store.current_manifest()
    dirs = {d for dd in man["buckets"].values() for d in dd}
    assert set(man["stats"]) == dirs
    kept = t.store.dirs_for_range("v", 9_000, 11_000)
    assert len(kept) < len(dirs), "needle query must prune most buckets"
    rows = t.store.read_range("v", 9_000, 11_000).collect()
    assert [(r["k"], r["v"]) for r in rows] == [("k7", 10_000)]
    full = t.read().filter("v between 9000 and 11000").collect()
    assert [(r["k"], r["v"]) for r in full] == [("k7", 10_000)]


def test_data_skipping_handles_nulls_and_plain_manifests(spark, tmp_path):
    """All-null dirs are prunable (range predicates reject NULL); a
    store written without stats_cols keeps every dir — pruning is never
    a correctness filter."""
    path = str(tmp_path / "skipnull")
    store = BucketedParquetStore(
        spark, path, key_cols=["k"], n_buckets=1, stats_cols=["ts"]
    )
    store.append(
        spark.createDataFrame([("a", None), ("b", None)], "k string, ts long")
    )
    store.append(spark.createDataFrame([("c", 5)], "k string, ts long"))
    kept = store.dirs_for_range("ts", 0, 10)
    assert all("/g1/" in d for d in kept), "all-null dir should be pruned"
    assert [r["k"] for r in store.read_range("ts", 0, 10).collect()] == ["c"]
    # no-stats store: everything kept
    plain = BucketedParquetStore(spark, str(tmp_path / "plain"), ["k"], n_buckets=1)
    plain.append(spark.createDataFrame([("a", 1)], "k string, ts long"))
    assert len(plain.dirs_for_range("ts", 100, 200)) == 1
    assert plain.read_range("ts", 100, 200).count() == 0


def test_compaction_folds_append_dirs(spark, tmp_path):
    """After N appends a bucket holds up to N dirs; compact() folds
    each to ONE dir in one atomic publish — same rows, stats refreshed,
    buckets below the threshold untouched byte-for-byte."""
    path = str(tmp_path / "clog")
    store = BucketedParquetStore(
        spark, path, key_cols=["k"], n_buckets=4, stats_cols=["ts"]
    )
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").cast("string").alias("k"), F.col("id").alias("ts")
    )
    for i in range(4):
        store.append(mk(i * 25, (i + 1) * 25))
    man = store.current_manifest()
    assert max(len(d) for d in man["buckets"].values()) >= 3
    before_rows = sorted(r["ts"] for r in store.read().collect())

    compacted = store.compact(min_dirs_per_bucket=2)
    assert compacted, "multi-dir buckets should have been compacted"
    man2 = store.current_manifest()
    for b, dirs in man2["buckets"].items():
        assert len(dirs) == 1, f"bucket {b} still has {len(dirs)} dirs"
    assert sorted(r["ts"] for r in store.read().collect()) == before_rows
    # stats follow the compacted dirs (skipping still works)
    assert set(man2.get("stats", {})) == {
        d for dd in man2["buckets"].values() for d in dd
    }
    assert store.read_range("ts", 10, 12).count() == 3
    # idempotent: nothing left above threshold
    assert store.compact(min_dirs_per_bucket=2) == {}


def test_compaction_leaves_single_dir_buckets_alone(spark, tmp_path):
    path = str(tmp_path / "c1")
    store = BucketedParquetStore(spark, path, key_cols=["k"], n_buckets=2)
    store.append(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    )
    before = _file_hashes(path)
    assert store.compact() == {}
    assert _file_hashes(path) == before, "no-op compact must not write"


def test_data_skipping_timestamp_bounds(spark, tmp_path):
    """Datetime stats serialize to isoformat (order-preserving) and
    datetime bounds prune correctly — the time-bounded needle-query
    shape over an event log."""
    import datetime as dt

    path = str(tmp_path / "tslog")
    store = BucketedParquetStore(
        spark, path, key_cols=["k"], n_buckets=1, stats_cols=["ts"]
    )
    day = lambda d, n: spark.createDataFrame(  # noqa: E731
        [(f"{d}-{i}", dt.datetime(2024, 3, d, i)) for i in range(n)],
        "k string, ts timestamp",
    )
    store.append(day(1, 5))
    store.append(day(2, 5))
    store.append(day(3, 5))
    kept = store.dirs_for_range(
        "ts", dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23)
    )
    assert kept and all("/g1/" in d for d in kept), kept
    got = store.read_range(
        "ts", dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23)
    ).count()
    assert got == 5


def test_inflight_claim_rejects_second_writer_loudly(spark, tmp_path):
    """Two concurrent writers: once writer B claims the next
    generation, writer A's publish is REJECTED with
    ConcurrentWriteError before any data lands — last-rename-wins can
    no longer drop B's generation silently."""
    from nextbus2pg_spark.sinks.store import ConcurrentWriteError

    path = str(tmp_path / "t")
    a = BucketedParquetStore(spark, path, ["k"], n_buckets=2)
    b = BucketedParquetStore(spark, path, ["k"], n_buckets=2)
    df = spark.range(8).select(
        F.col("id").cast("string").alias("k"), F.lit("v").alias("v")
    )
    a.init(df)

    claimed = b.claim_next_generation()  # B is mid-write
    with pytest.raises(ConcurrentWriteError):
        a.append(df)
    # B publishes normally on its claimed generation ... (simulated by
    # releasing) and A's retry then succeeds on a fresh number.
    b._release_claim(claimed)
    a.append(df)
    assert a.read().count() == 16


def test_expected_gen_rejects_interleaved_merge(spark, tmp_path):
    """Read-merge-write OCC: a merge computed against generation g must
    not publish after another writer advanced the table — its merge
    never saw the interleaved rows, so publishing would erase them.
    With expected_gen the store rejects loudly and the interleaved
    rows survive."""
    from nextbus2pg_spark.sinks.store import ConcurrentWriteError

    path = str(tmp_path / "t")
    store = BucketedParquetStore(spark, path, ["k"], n_buckets=1)
    df1 = spark.createDataFrame([("a", "v1")], "k string, v string")
    store.init(df1)
    base_gen = store.current_manifest()["gen"]
    touched = store.touched_buckets(df1)
    stale_merge = store.read(touched)  # computed at base_gen

    # Interleaved writer lands a row the merge never saw.
    store.append(spark.createDataFrame([("b", "v2")], "k string, v string"))

    with pytest.raises(ConcurrentWriteError):
        store.replace_buckets(stale_merge, touched, expected_gen=base_gen)
    assert sorted(r.k for r in store.read().collect()) == ["a", "b"]
    # The rejected attempt released its claim: a fresh merge succeeds.
    base_gen = store.current_manifest()["gen"]
    store.replace_buckets(
        store.read(touched), store.touched_buckets(store.read()),
        expected_gen=base_gen,
    )
    assert sorted(r.k for r in store.read().collect()) == ["a", "b"]


def test_stale_claim_of_crashed_writer_is_taken_over(spark, tmp_path):
    """A claim left by a crashed writer blocks its generation only
    until claim_ttl_sec; after that the next writer takes it over (and
    the crashed writer's never-published data dirs are reclaimed)."""
    from nextbus2pg_spark.sinks.store import ConcurrentWriteError

    path = str(tmp_path / "t")
    fast = BucketedParquetStore(
        spark, path, ["k"], n_buckets=2, claim_ttl_sec=0.0
    )
    slow = BucketedParquetStore(
        spark, path, ["k"], n_buckets=2, claim_ttl_sec=3600.0
    )
    df = spark.createDataFrame([("a", "v")], "k string, v string")
    fast.init(df)
    crashed_gen = fast.claim_next_generation()  # writer dies here

    with pytest.raises(ConcurrentWriteError):
        slow.append(df)  # within TTL: blocked loudly
    fast.append(df)  # ttl 0: takes the stale claim over
    assert fast.read().count() == 2
    assert fast.current_manifest()["gen"] == crashed_gen


def test_failed_loser_release_spares_successor_claim(spark, tmp_path):
    """Instance-keyed release (ADVICE round-5): a slow-but-live writer
    that exceeded the TTL, was taken over, and THEN fails must not
    delete the successor's fresh claim — otherwise a third writer
    could claim the same generation and race the successor's in-flight
    write. Release verifies the on-disk claim is still the instance it
    recorded at claim time before deleting anything."""
    import time as _time

    from nextbus2pg_spark.sinks.store import ConcurrentWriteError

    path = str(tmp_path / "t")
    slow = BucketedParquetStore(
        spark, path, ["k"], n_buckets=2, claim_ttl_sec=0.05
    )
    successor = BucketedParquetStore(
        spark, path, ["k"], n_buckets=2, claim_ttl_sec=0.05
    )
    third = BucketedParquetStore(
        spark, path, ["k"], n_buckets=2, claim_ttl_sec=3600.0
    )
    df = spark.createDataFrame([("a", "v")], "k string, v string")
    slow.init(df)

    gen = slow.claim_next_generation()  # slow writer starts its job
    _time.sleep(0.2)  # ... and blows past the TTL mid-write
    assert successor.claim_next_generation() == gen  # takeover

    # The slow writer's job now fails and its except-handler releases.
    slow._release_claim(gen)

    # The successor's claim must still stand: a third writer is
    # rejected loudly instead of double-claiming the generation.
    with pytest.raises(ConcurrentWriteError):
        third.claim_next_generation()
    # And the successor itself can still publish on its claim.
    successor._release_claim(gen)
    third.append(df)
    assert third.read().count() == 2


def test_manifest_overwrite_is_refused(spark, tmp_path):
    """Belt-and-braces: even if the claim protocol were bypassed,
    _publish never overwrites an existing manifest file."""
    from nextbus2pg_spark.sinks.store import ConcurrentWriteError

    path = str(tmp_path / "t")
    store = BucketedParquetStore(spark, path, ["k"], n_buckets=1)
    store.init(spark.createDataFrame([("a", "v")], "k string, v string"))
    man = store.current_manifest()
    with pytest.raises(ConcurrentWriteError):
        store._publish(
            int(man["gen"]),
            {int(b): list(d) for b, d in man["buckets"].items()},
        )


def test_read_range_null_semantics_are_layout_independent(spark, tmp_path):
    """read_range is NULL-rejecting regardless of apply_filter: NULL
    rows never appear, whether they sit in an all-null dir (pruned by
    stats) or share a dir with matching rows (caught by the explicit
    IS NOT NULL filter) — results no longer depend on dir layout."""
    path = str(tmp_path / "t")
    store = BucketedParquetStore(
        spark, path, ["k"], n_buckets=1, stats_cols=["ts"]
    )
    # dir 1: NULL row mixed WITH a matching row (stats exist: 5..5)
    store.append(
        spark.createDataFrame(
            [("a", None), ("b", 5)], "k string, ts long"
        )
    )
    # dir 2: all-null dir (stats record null min/max -> pruned)
    store.append(
        spark.createDataFrame([("c", None)], "k string, ts long")
    )
    for apply_filter in (True, False):
        got = sorted(
            r.k
            for r in store.read_range(
                "ts", 0, 10, apply_filter=apply_filter
            ).collect()
        )
        assert got == ["b"], f"apply_filter={apply_filter}: {got}"


def test_delete_keys_bucket_pruned_and_null_safe(spark, tmp_path):
    """DELETE analogue: rows matching the key set vanish, untouched
    buckets keep byte-identical files, NULL/'' keys are deletable under
    null_safe (the bucket_expr key notion), and deleting everything
    leaves an empty-but-existing table."""
    path = str(tmp_path / "t")
    t = ParquetUpsertTable(
        spark, path, key_cols=["k"], update_cols=["v"], n_buckets=8,
        null_safe=True,
    )
    rows = [(f"k{i}", f"v{i}") for i in range(32)] + [(None, "vnull")]
    t.upsert(spark.createDataFrame(rows, "k string, v string"))
    assert t.read().count() == 33
    before = _file_hashes(path)

    # delete two normal keys + the NULL key (probe uses '' for it)
    t.delete(
        spark.createDataFrame([("k3",), ("k7",), ("",)], "k string")
    )
    got = {r.k for r in t.read().collect()}
    assert "k3" not in got and "k7" not in got and None not in got
    assert len(got) == 30
    # untouched buckets byte-identical
    touched = t.store.touched_buckets(
        spark.createDataFrame([("k3",), ("k7",), ("",)], "k string")
    )
    after = _file_hashes(path)
    man = t.store.current_manifest()
    untouched_dirs = {
        d
        for b, dirs in man["buckets"].items()
        if int(b) not in touched
        for d in dirs
    }
    for p, h in after.items():
        rel = os.path.relpath(p, path)
        if any(rel.startswith(d) for d in untouched_dirs):
            assert before.get(p) == h, f"delete rewrote untouched {p}"

    # non-null-safe table: NULL-keyed delete rows match nothing
    t2 = ParquetUpsertTable(
        spark, str(tmp_path / "t2"), key_cols=["k"], update_cols=["v"],
        n_buckets=4, null_safe=False,
    )
    t2.upsert(
        spark.createDataFrame([("a", "v"), (None, "vn")], "k string, v string")
    )
    t2.delete(spark.createDataFrame([(None,)], "k string"))
    assert t2.read().count() == 2, "DELETE WHERE k = NULL matches nothing"

    # delete ALL rows -> empty but existing
    t.delete(spark.createDataFrame([(k,) for k in got], "k string"))
    assert t.exists()
    assert t.read().count() == 0


def test_read_changes_cdc(spark, tmp_path):
    """Change-data-feed read: an upsert surfaces as delete(old row) +
    insert(new row) + insert(brand-new row); an append surfaces its
    rows (duplicates included) as inserts WITHOUT reading pre-existing
    dirs; a delete surfaces as deletes; a compaction that rewrites
    bytes but not rows emits nothing."""
    # -- merge path (rewritten buckets -> multiset diff) --------------
    t = ParquetUpsertTable(
        spark, str(tmp_path / "m"), key_cols=["k"], update_cols=["v"],
        n_buckets=4,
    )
    t.upsert(
        spark.createDataFrame(
            [(f"k{i}", f"v{i}") for i in range(8)], "k string, v string"
        )
    )
    g0 = t.store.current_manifest()["gen"]
    t.upsert(
        spark.createDataFrame(
            [("k1", "v1-new"), ("k8", "v8")], "k string, v string"
        )
    )
    changes = {
        (r.k, r.v, r._change_type)
        for r in t.store.read_changes(g0).select(
            "k", "v", "_change_type"
        ).collect()
    }
    assert changes == {
        ("k1", "v1", "delete"),
        ("k1", "v1-new", "insert"),
        ("k8", "v8", "insert"),
    }

    # -- delete path --------------------------------------------------
    g1 = t.store.current_manifest()["gen"]
    t.delete(spark.createDataFrame([("k3",)], "k string"))
    dels = {
        (r.k, r._change_type)
        for r in t.store.read_changes(g1).select("k", "_change_type").collect()
    }
    assert dels == {("k3", "delete")}

    # -- append path: new dirs only, duplicate rows exact -------------
    a = BucketedParquetStore(spark, str(tmp_path / "a"), ["k"], n_buckets=2)
    a.init(spark.createDataFrame([("x", 1)], "k string, n int"))
    ga = a.current_manifest()["gen"]
    a.append(
        spark.createDataFrame([("y", 2), ("y", 2)], "k string, n int")
    )
    app = [
        (r.k, r.n, r._change_type)
        for r in a.read_changes(ga).collect()
    ]
    assert sorted(app) == [("y", 2, "insert"), ("y", 2, "insert")]

    # -- compaction: dirs change, rows don't -> empty feed ------------
    a.append(spark.createDataFrame([("z", 3)], "k string, n int"))
    gb = a.current_manifest()["gen"]
    assert a.compact(min_dirs_per_bucket=2)
    assert a.read_changes(gb).count() == 0

    # -- unretained generation refused --------------------------------
    import pytest as _pytest

    with _pytest.raises(ValueError):
        a.read_changes(ga)  # vacuumed out of the retention window


def test_schema_evolution_gate_and_pinned_reads(spark, tmp_path):
    """Writes into an existing table are schema-gated (silent
    mixed-schema dirs are the bug this prevents): new columns need
    allow_evolution=True, missing/retyped columns always raise. After
    a widening, reads are schema-PINNED — pre-widening dirs supply
    NULL for the added column no matter which dirs a read selects."""
    path = str(tmp_path / "t")
    store = BucketedParquetStore(spark, path, ["k"], n_buckets=2)
    store.init(spark.createDataFrame([("a", 1)], "k string, n int"))

    # new column without opt-in -> loud rejection
    wider = spark.createDataFrame(
        [("b", 2, "x")], "k string, n int, extra string"
    )
    with pytest.raises(ValueError, match="allow_evolution"):
        store.append(wider)
    # missing column -> always rejected
    with pytest.raises(ValueError, match="missing"):
        store.append(spark.createDataFrame([("c",)], "k string"))
    # retyped column -> always rejected
    with pytest.raises(ValueError, match="type"):
        store.append(
            spark.createDataFrame([("c", "9")], "k string, n string")
        )

    # opt-in widening: publishes, and EVERY read (old dirs included)
    # now yields the widened schema with NULL backfill
    store.append(wider, allow_evolution=True)
    rows = {r.k: (r.n, r.extra) for r in store.read().collect()}
    assert rows == {"a": (1, None), "b": (2, "x")}
    # subsequent appends must carry the widened schema
    with pytest.raises(ValueError, match="missing"):
        store.append(spark.createDataFrame([("d", 3)], "k string, n int"))
    store.append(
        spark.createDataFrame(
            [("d", 3, None)], "k string, n int, extra string"
        )
    )
    assert store.read().count() == 3
    # claims were released by the rejected writes: gens stay compact
    assert store.current_manifest()["gen"] == store._manifest_gens()[-1]


def test_cdc_reconstructs_any_snapshot(spark, tmp_path):
    """Property: for ANY random interleaving of upserts, deletes and
    compactions, applying read_changes(g → head) to the generation-g
    snapshot reconstructs the head table exactly (as a row multiset):
        snapshot(g) − deletes + inserts == snapshot(head).
    This is the contract an incremental downstream consumer relies on
    instead of re-reading the table after every publish."""
    import random
    from collections import Counter

    rnd = random.Random(11)
    t = ParquetUpsertTable(
        spark, str(tmp_path / "t"), key_cols=["k"], update_cols=["v"],
        n_buckets=4,
    )
    t.store.keep_generations = 10  # retain a window to diff across
    keyspace = [f"k{i}" for i in range(12)]
    t.upsert(
        spark.createDataFrame(
            [(k, f"v0-{k}") for k in keyspace[:8]], "k string, v string"
        )
    )
    snapshots = {}
    for step in range(6):
        g = t.store.current_manifest()["gen"]
        snapshots[g] = Counter(
            (r.k, r.v) for r in t.read().collect()
        )
        op = rnd.choice(["upsert", "delete", "compact"])
        if op == "upsert":
            rows = [
                (rnd.choice(keyspace), f"v{step}-{i}")
                for i in range(rnd.randint(1, 4))
            ]
            t.upsert(spark.createDataFrame(rows, "k string, v string"))
        elif op == "delete":
            t.delete(
                spark.createDataFrame(
                    [(rnd.choice(keyspace),)], "k string"
                )
            )
        else:
            t.compact(min_dirs_per_bucket=2)

    head = Counter((r.k, r.v) for r in t.read().collect())
    for g, snap in snapshots.items():
        if g not in t.store.generations():
            continue
        want = Counter(snap)
        for r in t.store.read_changes(g).collect():
            if r._change_type == "insert":
                want[(r.k, r.v)] += 1
            else:
                want[(r.k, r.v)] -= 1
                if want[(r.k, r.v)] == 0:
                    del want[(r.k, r.v)]
        assert want == head, f"CDC from gen {g} fails to reconstruct head"


def test_read_changes_across_schema_evolution(spark, tmp_path):
    """The change feed spans a schema widening: appended dirs and
    rewritten buckets are all read with the TO-side schema (old dirs
    NULL-backfill the added column), the mixed union cannot fail, a
    backwards range is refused, and a row whose ONLY change is in the
    widened column still emits its delete+insert pair."""
    path = str(tmp_path / "t")
    store = BucketedParquetStore(spark, path, ["k"], n_buckets=2)
    store.keep_generations = 10
    store.init(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, n int")
    )
    g0 = store.current_manifest()["gen"]
    # widening append (new dirs) ...
    store.append(
        spark.createDataFrame([("c", 3, "x")], "k string, n int, extra string"),
        allow_evolution=True,
    )
    # ... then a rewrite that ONLY changes the widened column of 'a'
    full = store.read()
    rewritten = full.withColumn(
        "extra",
        F.when(F.col("k") == "a", F.lit("now-set")).otherwise(
            F.col("extra")
        ),
    )
    store.replace_buckets(rewritten, store.touched_buckets(full))

    changes = {
        (r.k, r.n, r.extra, r._change_type)
        for r in store.read_changes(g0).collect()
    }
    assert ("c", 3, "x", "insert") in changes
    assert ("a", 1, None, "delete") in changes, (
        "widened-column-only change must emit its preimage delete"
    )
    assert ("a", 1, "now-set", "insert") in changes
    # row 'b' is byte-unchanged by the rewrite: no change events at all
    assert not {c for c in changes if c[0] == "b"}
    # exact reconstruction (the CDC invariant), across the widening
    from collections import Counter

    want = Counter(
        (r.k, r.n, None) for r in store.read_generation(g0).collect()
    )
    for r in store.read_changes(g0).collect():
        key = (r.k, r.n, r.extra)
        if r._change_type == "insert":
            want[key] += 1
        else:
            want[key] -= 1
            if want[key] == 0:
                del want[key]
    head = Counter((r.k, r.n, r.extra) for r in store.read().collect())
    assert want == head

    with pytest.raises(ValueError, match="backwards"):
        store.read_changes(store.current_manifest()["gen"], g0)


def test_true_concurrent_appends_lose_nothing(spark, tmp_path):
    """REAL concurrency (two threads, one store path): each append
    either publishes or raises ConcurrentWriteError — and every row of
    every SUCCESSFUL append is present afterward. Lost updates are
    impossible regardless of interleaving; losers are told loudly and
    their retry lands."""
    import threading

    from nextbus2pg_spark.sinks.store import ConcurrentWriteError

    path = str(tmp_path / "t")
    store = BucketedParquetStore(spark, path, ["k"], n_buckets=2)
    store.init(spark.createDataFrame([("seed", -1)], "k string, n int"))

    results: dict[str, str] = {}
    barrier = threading.Barrier(2)

    def writer(tag: str):
        # each thread gets its OWN store handle (no shared state) but
        # the same path — the on-disk claim files are the arbiter
        s = BucketedParquetStore(spark, path, ["k"], n_buckets=2)
        df = spark.createDataFrame(
            [(f"{tag}{i}", i) for i in range(4)], "k string, n int"
        )
        barrier.wait()
        for attempt in range(10):
            try:
                s.append(df)
                results[tag] = f"ok(attempt {attempt})"
                return
            except ConcurrentWriteError:
                # loud rejection -> backoff and retry is the contract
                # (the claim is held for the winner's WHOLE write job,
                # so an immediate retry just burns attempts)
                import time as _time

                _time.sleep(2.0)
        results[tag] = "gave up"

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in ("a", "b")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    # A hung thread must fail HERE as a deadlock, not fall through to
    # a misleading 'lost rows' failure while the writer still runs.
    hung = [t.name for t in threads if t.is_alive()]
    assert not hung, f"writer threads deadlocked (still alive): {hung}"
    assert all(v.startswith("ok") for v in results.values()), results
    got = {r.k for r in store.read().collect()}
    want = {"seed"} | {f"a{i}" for i in range(4)} | {f"b{i}" for i in range(4)}
    assert got == want, f"lost rows: {want - got}"


def test_abandoned_reaper_blocks_loudly_not_silently(spark, tmp_path):
    """A reaper that crashed inside its (two metadata ops wide)
    critical section leaves a reap lock keyed to the claim INSTANCE;
    takeover of that instance then fails LOUDLY until an operator
    clears the pair — it must never let a second reaper race a
    delete/re-create into a silent double claim. A reap file keyed to
    an OLD instance is inert and never blocks a fresh takeover."""
    from nextbus2pg_spark.sinks.store import ConcurrentWriteError

    path = str(tmp_path / "t")
    store = BucketedParquetStore(
        spark, path, ["k"], n_buckets=2, claim_ttl_sec=0.0
    )
    df = spark.createDataFrame([("a", 1)], "k string, n int")
    store.init(df)

    gen = store.claim_next_generation()  # writer "crashes" here
    m = store._mtime_of(f"_claim-{gen}")
    # a reap keyed to a BOGUS old instance is inert: the takeover of
    # the live (stale, ttl=0) instance still succeeds around it
    assert store._create_exclusive(f"_claim-{gen}.reap-{m - 99999}")
    assert store._takeover_stale_claim(gen), (
        "old-instance reap file must not block a fresh takeover"
    )
    m2 = store._mtime_of(f"_claim-{gen}")
    assert m2 != m, "successor claim must be a distinct instance key"
    # crashed reaper: reap for the LIVE instance exists, claim remains
    assert store._create_exclusive(f"_claim-{gen}.reap-{m2}")
    with pytest.raises(ConcurrentWriteError):
        store.append(df)
    # operator remediation: clear the pair -> writes flow again
    _, fs, _ = store._fs()
    fs.delete(store._jpath(f"_claim-{gen}"), False)
    fs.delete(store._jpath(f"_claim-{gen}.reap-{m2}"), False)
    store.append(df)
    assert store.read().count() == 2
    # ...and the takeover path itself works with the stale-instance
    # reap still on disk (keyed to a mtime no live claim has)
    gen2 = store.claim_next_generation()
    store.append(df.selectExpr("k", "n + 1 as n"))
    assert store.current_manifest()["gen"] == gen2


def test_write_generation_refuses_published_generation(spark, tmp_path):
    """Belt behind the claim protocol: _write_generation must never
    delete/rewrite the data dirs of a generation whose manifest is
    already published (the corruption a stolen claim would cause)."""
    from nextbus2pg_spark.sinks.store import ConcurrentWriteError

    path = str(tmp_path / "t")
    store = BucketedParquetStore(spark, path, ["k"], n_buckets=1)
    df = spark.createDataFrame([("a", 1)], "k string, n int")
    store.init(df)
    published = store.current_manifest()["gen"]
    with pytest.raises(ConcurrentWriteError, match="already published"):
        store._write_generation(df, published)
    assert store.read().count() == 1  # published data untouched


def test_read_changes_legacy_manifests_stay_unpinned(spark, tmp_path):
    """read_changes between two LEGACY generations (manifests written
    before schemas were recorded) must read dirs with their native
    layout — pinning them to the CURRENT manifest's widened schema
    would emit a column neither generation's table shape has."""
    import json as _json

    path = str(tmp_path / "t")
    store = BucketedParquetStore(
        spark, path, ["k"], n_buckets=1, keep_generations=4
    )
    store.init(spark.createDataFrame([("a", 1)], "k string, n int"))
    store.append(spark.createDataFrame([("b", 2)], "k string, n int"))
    g1, g2 = store.generations()[-2:]
    # strip the recorded schema -> legacy manifests
    _, fs, _ = store._fs()
    for g in (g1, g2):
        man = store._read_manifest(g)
        man.pop("schema", None)
        p = store._jpath(f"_manifest-{g}.json")
        fs.delete(p, False)
        out = fs.create(p, True)
        out.write(_json.dumps(man).encode())
        out.close()
    # current head then records a WIDENED schema
    store.append(
        spark.createDataFrame([("c", 3, "x")], "k string, n int, extra string"),
        allow_evolution=True,
    )
    ch = store.read_changes(g1, g2)
    assert set(ch.columns) == {"k", "n", "_change_type"}, ch.columns
    assert [(r.k, r.n) for r in ch.collect()] == [("b", 2)]


def test_create_exclusive_is_atomic_under_thread_storm(spark, tmp_path):
    """The lock primitive itself: 16 threads racing the same lock path
    must produce EXACTLY one winner per round. RawLocalFileSystem's
    create(overwrite=False) is check-then-act (two racers can both
    'win'); the file:// path must go through POSIX O_CREAT|O_EXCL."""
    import threading

    store = BucketedParquetStore(spark, str(tmp_path / "t"), ["k"])
    for rnd in range(20):
        wins = []
        barrier = threading.Barrier(16)

        def racer():
            barrier.wait()
            if store._create_exclusive(f"_lock-{rnd}"):
                wins.append(1)

        ts = [threading.Thread(target=racer) for _ in range(16)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in ts)
        assert len(wins) == 1, f"round {rnd}: {len(wins)} winners"
