"""Round-14 edge-case hardening: the damping/skip machinery's corner
paths — schema changes defeat the content stamp, force_full bypasses
every skip, the implicit drift reference build, and the MP4 parser's
size conventions nested inside moov."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from veri_spark.store import DatasetConfig, FeatureStore

SF = "/root/testdata/sf0.001"

DATUM = (
    "feature array<float>, group_label string, label string, version bigint, "
    "dim1 int, dim2 int, size1 int, size2 int, expire_at timestamp"
)


def test_put_corpus_schema_change_always_writes(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("d", docs.select("doc_id", "text"))
    s1 = store._mutation_stamp("d")
    # same rows, one extra column: different schema -> no stamp compare,
    # the write must happen
    assert store.put_corpus("d", docs.select("doc_id", "text", "lang")) is True
    assert store._mutation_stamp("d") == s1 + 1
    # and back down to a subset of columns: also a write
    assert store.put_corpus("d", docs.select("doc_id", "text")) is True
    assert store._mutation_stamp("d") == s1 + 2


def test_force_full_bypasses_every_skip(spark, tmp_path):
    import random

    rng = random.Random(11)
    rows = [
        (
            [rng.uniform(-1, 1) for _ in range(8)],
            "g", str(i), 1, None, None, None, None, None,
        )
        for i in range(200)
    ]
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.create_dataset("d", DatasetConfig(target_n=100000))
    store.insert("d", spark.createDataFrame(rows, DATUM))
    store.refresh_index("d", n_centroids=4, if_needed=True)
    final = store._index_path("d")
    mt1 = sorted(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(final)
        for f in fs
    )
    # stamp unchanged + if_needed would skip; force_full must rebuild
    n = store.refresh_index("d", n_centroids=4, if_needed=True, force_full=True)
    assert n == 200
    assert store.last_index_refresh_info == {"cells_rewritten": -1}
    mt2 = sorted(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(final)
        for f in fs
    )
    assert mt2 != mt1  # files actually rewritten


def test_dedup_force_full_rebuilds_despite_fresh_stamp(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", docs)
    store.dedup_index_refresh("documents")
    info = store.dedup_index_refresh(
        "documents", if_needed=True, force_full=True
    )
    assert "skipped" not in info
    assert info["buckets_rewritten"] == FeatureStore.DEDUP_INDEX_BUCKETS
    # still serves fresh
    assert store._dedup_indexed("documents") is not None


def test_embedding_drift_check_builds_reference_implicitly(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "label", "embedding"
    )
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("emb", emb)
    ref_path = f"{store.root}/emb.emb_drift_ref.json"
    assert not os.path.exists(ref_path)
    out = store.embedding_drift_check("emb", emb, rel_tol=0.5).collect()
    assert os.path.exists(ref_path)  # built on first use
    # the corpus scored against its own reference: zero shift everywhere
    assert all(not r["drifted"] for r in out)
    assert all(abs(r["centroid_shift"]) < 1e-9 for r in out)


def test_drift_reference_empty_column_raises(spark, tmp_path):
    import pytest

    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus(
        "ev",
        spark.createDataFrame(
            [(1, None), (2, None)], "event_id bigint, value double"
        ),
    )
    with pytest.raises(ValueError, match="no.*non-NULL|non-NULL"):
        store.drift_reference("ev")


def test_mp4_size_conventions_nested_in_moov():
    import struct

    from veri_spark.multimodal.binary import parse_mp4_meta

    ftyp = (
        struct.pack(">I", 20) + b"ftyp" + b"isom"
        + struct.pack(">I", 0x200) + b"mp41"
    )
    mvhd_payload = b"\x00" * 12 + struct.pack(">II", 30000, 1500) + b"\x00" * 80
    # child mvhd written with the 64-bit largesize convention
    large_mvhd = (
        struct.pack(">I", 1) + b"mvhd"
        + struct.pack(">Q", 16 + len(mvhd_payload)) + mvhd_payload
    )
    moov = struct.pack(">I", 8 + len(large_mvhd)) + b"moov" + large_mvhd
    assert parse_mp4_meta(ftyp + moov) == ("isom", 30000, 1500)
    # child mvhd with size==0 extends to the end of moov (not the file)
    eof_mvhd = struct.pack(">I", 0) + b"mvhd" + mvhd_payload
    moov2 = struct.pack(">I", 8 + len(eof_mvhd)) + b"moov" + eof_mvhd
    assert parse_mp4_meta(ftyp + moov2) == ("isom", 30000, 1500)
    # truncated largesize inside moov is rejected cleanly
    bad = struct.pack(">I", 12) + b"moov" + struct.pack(">I", 1)
    assert parse_mp4_meta(ftyp + bad) is None
