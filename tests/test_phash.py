"""Perceptual-hash media near-dup: hash stability, banded pairing
recall/precision, and the binaryFile ingestion path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nextbus2pg_spark.operators.multimodal import (
    fake_media_from_documents,
    perceptual_hash,
    phash_pairs,
)
from nextbus2pg_spark.sources.files import read_media_dir


def _media(spark, rows):
    """rows: (media_id, payload_bytes)"""
    return spark.createDataFrame(
        [(i, "image", bytearray(b)) for i, b in rows],
        "media_id long, kind string, payload binary",
    )


def test_phash_deterministic_and_null_safe(spark):
    blob = bytes(range(256)) * 8
    df = _media(spark, [(1, blob), (2, blob), (3, b"")])
    got = {r.media_id: r.phash for r in perceptual_hash(df).collect()}
    assert got[1] == got[2]          # identical payload → identical hash
    assert got[1] is not None and got[1] >= 0
    assert got[3] is None            # empty payload → NULL hash


def test_phash_pairs_finds_near_dups_not_distinct_media(spark):
    base = bytes(range(256)) * 16
    # a near-dup: flip a few bytes (small grayscale perturbation)
    near = bytearray(base)
    for i in range(0, 32):
        near[i] = (near[i] + 2) % 256
    # something entirely different
    other = bytes((i * 37 + 11) % 256 for i in range(len(base)))
    df = _media(spark, [(1, base), (2, bytes(near)), (3, other)])
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_pairs(perceptual_hash(df), max_hamming=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_phash_pairs_guard(spark):
    df = _media(spark, [(1, b"xx")])
    with pytest.raises(ValueError, match="max_hamming"):
        phash_pairs(perceptual_hash(df), band_bits=16, max_hamming=5)


def test_phash_end_to_end_on_fixture_corpus(spark):
    from nextbus2pg_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    media = fake_media_from_documents(docs)
    pairs = phash_pairs(perceptual_hash(media), max_hamming=2)
    # The fixture corpus contains exact duplicate texts → identical
    # payloads → hamming-0 pairs must exist.
    assert pairs.where(F.col("hamming") == 0).count() > 0


def test_read_media_dir_binary_source(spark, tmp_path):
    d = tmp_path / "imgs"
    d.mkdir()
    (d / "a.img").write_bytes(bytes(range(64)))
    (d / "b.img").write_bytes(bytes(range(64, 128)))
    (d / "skip.txt").write_bytes(b"not media")
    df = read_media_dir(spark, str(d), kind="image", glob="*.img")
    rows = df.collect()
    assert len(rows) == 2
    assert {len(r.payload) for r in rows} == {64}
    assert all(r.kind == "image" and r.media_id is not None for r in rows)
    # ids are deterministic across re-reads (retry-stable)
    again = {r.source_path: r.media_id for r in
             read_media_dir(spark, str(d), kind="image", glob="*.img").collect()}
    assert again == {r.source_path: r.media_id for r in rows}


def test_read_media_dir_streaming_reads_every_file(spark, tmp_path):
    """``streaming=True`` starts a file-watching stream (``binaryFile``
    streaming needs its explicit schema) and one available-now
    trigger reads both files."""
    d = tmp_path / "imgs"
    d.mkdir()
    (d / "a.img").write_bytes(bytes(range(64)))
    (d / "b.img").write_bytes(bytes(range(64, 128)))
    stream = read_media_dir(
        spark, str(d), kind="image", glob="*.img", streaming=True
    )
    rows = []
    (
        stream.writeStream.foreachBatch(
            lambda df, _: rows.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert sorted(r.source_path.rsplit("/", 1)[1] for r in rows) == [
        "a.img", "b.img",
    ]
    assert {len(r.payload) for r in rows} == {64}
