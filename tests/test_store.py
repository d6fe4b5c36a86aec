"""FeatureStore facade: the reference's service-verb lifecycle end-to-end
(create -> insert -> search -> data_info -> delete -> export).
"""

import pytest
from pyspark.sql import functions as F

from veri_spark.operators.search import SearchConfig
from veri_spark.store import DatasetConfig, FeatureStore


@pytest.fixture()
def store(spark, tmp_path):
    return FeatureStore(spark, str(tmp_path / "datasets"))


def _batch(spark, rows):
    return spark.createDataFrame(
        [(f, g, l, v, None, None, None, None, None) for (f, g, l, v) in rows],
        "feature array<float>, group_label string, label string, version bigint, "
        "dim1 int, dim2 int, size1 int, size2 int, expire_at timestamp",
    )


@pytest.fixture()
def store_ds(spark, store):
    rows = [
        ([0.1, 0.2, 0.3], "g", "a", 0),
        ([0.2, 0.3, 0.4], "g", "b", 0),
        ([0.2, 0.3, 0.7], "h", "c", 0),
        ([0.9, 0.1, 0.0], "h", "d", 0),
    ]
    store.insert("idx", _batch(spark, rows))
    return store, "idx"


def test_lifecycle(spark, store):
    rows = [
        ([0.1, 0.2, 0.3], "g", "a", 0),
        ([0.2, 0.3, 0.4], "g", "b", 0),
        ([0.2, 0.3, 0.7], "h", "c", 0),
    ]
    assert store.insert("ds", _batch(spark, rows)) == 3

    out = store.search("ds", [[0.1, 0.2, 0.3]], SearchConfig(limit=2)).collect()
    assert [r["label"] for r in out] == ["a", "b"]

    info = store.data_info("ds")
    assert info["n"] == 3 and len(info["avg"]) == 3

    store.delete("ds", spark.createDataFrame([("a",)], "label string"), ["label"])
    assert store.export("ds").count() == 2


def test_upsert_on_reinsert(spark, store):
    rows = [([1.0, 0.0], "g", "x", 1)]
    store.insert("up", _batch(spark, rows))
    # same key (feature+group), higher version: replaces, does not duplicate
    store.insert("up", _batch(spark, [([1.0, 0.0], "g", "x2", 2)]), no_target=True)
    got = store.export("up").collect()
    assert len(got) == 1
    assert got[0]["label"] == "x2"


def test_capacity_gate(spark, store):
    store.create_dataset("cap", DatasetConfig(target_n=2))
    admitted = store.insert("cap", _batch(spark, [
        ([0.0, 1.0], "g", "a", 0), ([1.0, 0.0], "g", "b", 0), ([1.0, 1.0], "g", "c", 0),
    ]))
    assert admitted == 2  # third row rejected by TargetN (data/insert.go:12-14)
    assert store.export("cap").count() == 2


def test_config_version_bump(store):
    first = store.create_dataset("cfg", DatasetConfig(target_n=10, version=1))
    assert first.target_n == 10
    # lower/equal version does not replace (data/dataset.go:117-126)
    kept = store.create_dataset("cfg", DatasetConfig(target_n=99, version=1))
    assert kept.target_n == 10
    bumped = store.create_dataset("cfg", DatasetConfig(target_n=99, version=2))
    assert bumped.target_n == 99


def test_annoy_prefix_routes_to_ivf(spark, store):
    import random

    rng = random.Random(3)
    rows = [([rng.uniform(-1, 1) for _ in range(8)], "g", str(i), 0) for i in range(40)]
    store.insert("ann", _batch(spark, rows), no_target=True)
    q = rows[7][0]
    exact = store.search("ann", [q], SearchConfig(limit=3)).collect()
    approx = store.search(
        "ann", [q], SearchConfig(score_func="AnnoyVectorDistance", limit=3),
        n_centroids=4, nprobe=2,
    ).collect()
    assert exact[0]["label"] == "7"
    assert approx[0]["label"] == "7"  # self-match survives the IVF probe
    assert len(approx) == 3


def test_refresh_index_and_pruned_search(store_ds):
    """refresh_index builds the partitioned IVF index; an Annoy*-named
    search then serves from it and agrees with the exact ranking when
    nprobe covers all centroids."""
    store, name = store_ds
    n = store.refresh_index(name, n_centroids=2)
    assert n == store.export(name).count()
    import os

    idx_dir = store._index_path(name)
    assert any(p.startswith("centroid_id=") for p in os.listdir(idx_dir))
    cfg = SearchConfig(score_func="AnnoyVectorDistance", limit=2)
    got = store.search(name, [[0.1, 0.2, 0.3]], cfg, nprobe=2).collect()
    assert len(got) == 2
    exact = store.search(
        name, [[0.1, 0.2, 0.3]], SearchConfig(score_func="VectorDistance", limit=2)
    ).collect()
    assert [r["label"] for r in got] == [r["label"] for r in exact]


def test_result_cache_roundtrip(store_ds):
    store, name = store_ds
    cfg = SearchConfig(score_func="CosineSimilarity", limit=2)
    first = store.search(name, [[0.1, 0.2, 0.3]], cfg, cache_seconds=3600).collect()
    import os

    cache_dir = f"{store.root}/_cache"
    assert os.path.isdir(cache_dir) and len(os.listdir(cache_dir)) >= 2
    again = store.search(name, [[0.1, 0.2, 0.3]], cfg, cache_seconds=3600).collect()
    assert sorted(map(str, first)) == sorted(map(str, again))
    other = store.search(
        name, [[0.1, 0.2, 0.3]],
        SearchConfig(score_func="VectorDistance", limit=2), cache_seconds=3600,
    ).collect()
    assert len(other) == 2


def test_insert_stream_upserts(spark, store):
    """Streaming ingest drains into the same upsert as the batch path."""
    from veri_spark.streaming.windows import stream_events

    stream = stream_events(spark, "/root/testdata/sf0.001")
    datums = stream.select(
        F.array(F.col("value").cast("float")).alias("feature"),
        F.col("event_type").alias("group_label"),
        F.col("event_id").cast("string").alias("label"),
        F.col("event_id").alias("version"),
    )
    store.insert_stream("stream_ds", datums)
    # upsert keys on (feature, group_label): events sharing both collapse
    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        F.array(F.col("value").cast("float")).alias("feature"),
        F.col("event_type").alias("group_label"),
    )
    expected = batch.dropDuplicates(["feature", "group_label"]).count()
    assert store.export("stream_ds").count() == expected


def test_compact_reduces_files(spark, store):
    rows = [([float(i), 0.0], "g", f"r{i}", 0) for i in range(50)]
    store.insert("cmp", _batch(spark, rows), no_target=True)
    import os

    n = store.compact("cmp", target_files=2)
    assert n == 50
    # bucketed layout: each bucket dir holds exactly one file after compact
    root = store._data_path("cmp")
    buckets = [d for d in os.listdir(root) if d.startswith("bucket=")]
    assert buckets
    for b in buckets:
        files = [f for f in os.listdir(f"{root}/{b}") if f.endswith(".parquet")]
        assert len(files) == 1


def _bucket_snapshot(data_dir):
    """(file name, size, mtime) per bucket dir — identity of the physical
    files, to prove untouched buckets are byte-stable across mutations."""
    import os

    out = {}
    for b in sorted(os.listdir(data_dir)):
        if not b.startswith("bucket="):
            continue
        d = os.path.join(data_dir, b)
        out[b] = sorted(
            (f, os.path.getsize(os.path.join(d, f)), os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    return out


def test_insert_rewrites_only_touched_buckets(spark, store):
    """Partition-scoped mutation: an insert of keys hashing to one bucket
    leaves every other bucket's files physically unmodified, and a
    value-identical re-insert (CloseEnough, data/newsync.go:22-25,43-57)
    rewrites NOTHING."""
    from veri_spark.store import DatasetConfig

    store.create_dataset("pb", DatasetConfig(n_buckets=4))
    rows = [([float(i), 1.0], "g", f"r{i}", 1) for i in range(20)]
    store.insert("pb", _batch(spark, rows), no_target=True)
    data_dir = store._data_path("pb")
    before = _bucket_snapshot(data_dir)
    assert len(before) >= 2  # keys spread over multiple buckets

    # CloseEnough skip: identical values, no TTL -> zero buckets rewritten
    store.insert("pb", _batch(spark, rows), no_target=True)
    assert _bucket_snapshot(data_dir) == before

    # single-key update -> exactly one bucket rewritten
    store.insert(
        "pb", _batch(spark, [([0.0, 1.0], "g", "r0-updated", 2)]), no_target=True
    )
    after = _bucket_snapshot(data_dir)
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1
    got = {r["label"] for r in store.export("pb").collect()}
    assert "r0-updated" in got and "r0" not in got and len(got) == 20


def test_delete_rewrites_only_hit_buckets(spark, store):
    from veri_spark.store import DatasetConfig

    store.create_dataset("pd", DatasetConfig(n_buckets=4))
    rows = [([float(i), 2.0], "g", f"d{i}", 1) for i in range(20)]
    store.insert("pd", _batch(spark, rows), no_target=True)
    data_dir = store._data_path("pd")
    before = _bucket_snapshot(data_dir)
    store.delete("pd", spark.createDataFrame([("d3",)], "label string"), ["label"])
    after = _bucket_snapshot(data_dir)
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1
    assert store.export("pd").count() == 19
    # deleting a key that matches nothing touches nothing
    store.delete("pd", spark.createDataFrame([("nope",)], "label string"), ["label"])
    assert _bucket_snapshot(data_dir) == after


def test_result_cache_invalidated_by_write(spark, store):
    """K14 + mutation stamp: a write after a cached search changes the next
    result instead of serving the stale cache."""
    rows = [([1.0, 0.0], "g", "a", 1), ([0.0, 1.0], "g", "b", 1)]
    store.insert("inv", _batch(spark, rows), no_target=True)
    cfg = SearchConfig(limit=1)
    first = store.search("inv", [[0.9, 0.05]], cfg, cache_seconds=3600).collect()
    assert first[0]["label"] == "a"
    # new nearest neighbor lands after the cache was written
    store.insert("inv", _batch(spark, [([0.9, 0.05], "g", "c", 1)]), no_target=True)
    second = store.search("inv", [[0.9, 0.05]], cfg, cache_seconds=3600).collect()
    assert second[0]["label"] == "c"


def test_insert_stream_drops_expired(spark, store, tmp_path):
    """Streaming ingest TTL (ST2 on the ingest path): rows already expired
    when their micro-batch merges never land, matching batch expire()."""
    import datetime

    src = str(tmp_path / "stream_src")
    now = datetime.datetime.now()
    spark.createDataFrame(
        [
            ([1.0, 0.0], "g", "live", 1, None, None, None, None,
             now + datetime.timedelta(hours=1)),
            ([0.0, 1.0], "g", "dead", 1, None, None, None, None,
             now - datetime.timedelta(hours=1)),
            ([0.5, 0.5], "g", "forever", 1, None, None, None, None, None),
        ],
        "feature array<float>, group_label string, label string, version bigint, "
        "dim1 int, dim2 int, size1 int, size2 int, expire_at timestamp",
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "feature array<float>, group_label string, label string, version bigint, "
        "dim1 int, dim2 int, size1 int, size2 int, expire_at timestamp"
    ).parquet(src)
    store.insert_stream("ttl_stream", stream)
    got = {r["label"] for r in store.export("ttl_stream").collect()}
    assert got == {"live", "forever"}


def test_approx_search_honors_config(spark, store):
    """The Annoy* path scores with the CONFIGURED function and applies
    TTL + JSON filters (data/search.go:311-327), not hardcoded euclidean."""
    import json as _json
    import random

    rng = random.Random(11)
    rows = []
    for i in range(40):
        v = [rng.uniform(0.1, 1.0) for _ in range(6)]
        rows.append((v, _json.dumps({"kind": "even" if i % 2 == 0 else "odd"}),
                     f"{i}", 1))
    batch = spark.createDataFrame(
        [(f, g, l, v, None, None, None, None, None) for (f, g, l, v) in rows],
        "feature array<float>, group_label string, label string, version bigint, "
        "dim1 int, dim2 int, size1 int, size2 int, expire_at timestamp",
    )
    store.insert("acfg", batch, no_target=True)
    q = rows[6][0]
    # cosine-ranked approximate search must agree with exact cosine when
    # nprobe covers every centroid (same candidates, same scoring)
    exact = store.search(
        "acfg", [q], SearchConfig(score_func="CosineSimilarity", limit=5)
    ).collect()
    approx = store.search(
        "acfg", [q], SearchConfig(score_func="AnnoyCosineSimilarity", limit=5),
        n_centroids=4, nprobe=4,
    ).collect()
    assert [r["label"] for r in approx] == [r["label"] for r in exact]
    assert approx[0]["score"] == pytest.approx(1.0)  # cosine self-match, not euclid 0
    # group_filters apply on the approximate path too
    filtered = store.search(
        "acfg", [q],
        SearchConfig(score_func="AnnoyCosineSimilarity", limit=40,
                     group_filters=["kind"]),
        n_centroids=4, nprobe=4,
    ).collect()
    assert len(filtered) == 40  # every row's group_label has .kind
    bad = store.search(
        "acfg", [q],
        SearchConfig(score_func="AnnoyCosineSimilarity", limit=40,
                     group_filters=["missing_path"]),
        n_centroids=4, nprobe=4,
    ).collect()
    assert bad == []


def test_live_count_sidecar_tracks_mutations(spark, store):
    """The capacity gate's row count comes from a sidecar maintained by
    batch-scale deltas (no full-table scan per insert); it must agree with
    the real count across insert / upsert / delete / expire / compact."""
    import os

    rows = [([float(i), 3.0], "g", f"c{i}", 1) for i in range(10)]
    store.insert("cnt", _batch(spark, rows), no_target=True)
    assert os.path.exists(store._count_path("cnt"))
    assert store._live_count("cnt") == 10 == store._read("cnt").count()
    # upsert of an existing key: count unchanged
    store.insert("cnt", _batch(spark, [([0.0, 3.0], "g", "c0-upd", 2)]), no_target=True)
    assert store._live_count("cnt") == 10 == store._read("cnt").count()
    # new key: +1
    store.insert("cnt", _batch(spark, [([99.0, 3.0], "g", "new", 1)]), no_target=True)
    assert store._live_count("cnt") == 11 == store._read("cnt").count()
    # delete: -1
    store.delete("cnt", spark.createDataFrame([("c3",)], "label string"), ["label"])
    assert store._live_count("cnt") == 10 == store._read("cnt").count()
    # expire: insert an already-expired row, then compact it away
    import datetime

    past = datetime.datetime.now() - datetime.timedelta(hours=1)
    dead = spark.createDataFrame(
        [([7.0, 7.0], "g", "dead", 1, None, None, None, None, past)],
        "feature array<float>, group_label string, label string, version bigint, "
        "dim1 int, dim2 int, size1 int, size2 int, expire_at timestamp",
    )
    store.insert("cnt", dead, no_target=True)
    assert store._live_count("cnt") == 11
    store.expire_now("cnt")
    assert store._live_count("cnt") == 10 == store._read("cnt").count()
    assert store.compact("cnt") == 10
    assert store._live_count("cnt") == 10
    # the capacity gate consumes the sidecar: a capped dataset still admits
    # correctly when the sidecar is warm
    store.create_dataset("cnt2", DatasetConfig(target_n=3))
    assert store.insert("cnt2", _batch(spark, rows[:2])) == 2
    assert store.insert("cnt2", _batch(spark, rows[2:6])) == 1  # budget left: 1


def test_index_stale_after_mutation(spark, store):
    """A persisted IVF index built before a mutation must NOT serve: the
    mutation stamp bumps, _indexed reads as stale, and approximate search
    falls back to on-the-fly assignment — so a post-refresh insert is
    visible in approximate results."""
    import random

    rng = random.Random(5)
    rows = [([rng.uniform(-1, 1) for _ in range(4)], "g", str(i), 1) for i in range(30)]
    store.insert("stale", _batch(spark, rows), no_target=True)
    store.refresh_index("stale", n_centroids=3)
    assert store._indexed("stale") is not None
    # a new exact-match row lands AFTER the index was built
    q = [0.123, 0.456, 0.789, 0.321]
    store.insert("stale", _batch(spark, [(q, "g", "fresh", 1)]), no_target=True)
    assert store._indexed("stale") is None  # stale: stamp mismatch
    got = store.search(
        "stale", [q], SearchConfig(score_func="AnnoyVectorDistance", limit=1),
        n_centroids=3, nprobe=3,
    ).collect()
    assert got[0]["label"] == "fresh"
    # re-refresh re-serves the fast path
    store.refresh_index("stale", n_centroids=3)
    assert store._indexed("stale") is not None


def test_parquet_path_used_when_delta_absent(spark, store):
    """The store writes through the parquet bucket-overwrite path."""
    import glob
    import os

    rows = [([0.1, 0.2, 0.3], "g", "a", 0)]
    store.insert("plainfmt", _batch(spark, rows))
    assert store.export("plainfmt").count() == 1
    data = store._data_path("plainfmt")
    assert glob.glob(f"{data}/bucket=*/*.parquet")
    assert not os.path.exists(f"{data}/_delta_log")


def test_insert_stream_dedup_within_watermark(spark, store, tmp_path):
    """Stream-side datum dedup (dropDuplicatesWithinWatermark on the datum
    key): a datum REPLAYED in a later micro-batch within the watermark delay
    never reaches the merge — at-least-once sources don't trigger
    read-modify-write. The replay carries a higher version and different
    label; if it reached the upsert it would win, so label 'first'
    surviving proves the drop happened stream-side."""
    import datetime
    import glob
    import os
    import shutil
    import time

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    T = datetime.datetime(2026, 1, 1, 10, 0, 0)
    schema = (
        "feature array<float>, group_label string, label string, version bigint, "
        "dim1 int, dim2 int, size1 int, size2 int, expire_at timestamp, ts timestamp"
    )

    def land(rows, name, mtime):
        stage = str(tmp_path / f"dstage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = os.path.join(src, f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    land([([1.0, 0.0], "g", "first", 1, None, None, None, None, None, T)], "a", now - 100)
    land(
        [([1.0, 0.0], "g", "replay", 2, None, None, None, None, None,
          T + datetime.timedelta(minutes=1))],
        "b", now,
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    store.insert_stream(
        "dedup_stream", stream, watermark=("ts", "1 hour"),
        dedup_within_watermark=True,
    )
    got = store.export("dedup_stream").collect()
    assert len(got) == 1
    assert got[0]["label"] == "first"


def test_ivf_pq_index_roundtrip(spark, store):
    """refresh_index(pq_m=...) persists PQ codes + codebooks next to the IVF
    assignment; approximate search then ADC-prunes candidates on codes and
    exact-rescores survivors — the self-match must still rank first, and a
    plain re-refresh (no pq_m) must drop the PQ sidecar."""
    import random

    rng = random.Random(9)
    rows = [([rng.uniform(-1, 1) for _ in range(8)], "g", str(i), 1) for i in range(40)]
    store.insert("pq", _batch(spark, rows), no_target=True)
    store.refresh_index("pq", n_centroids=4, pq_m=4, pq_k=8)
    assigned, cents, books = store._indexed("pq")
    assert "pq_code" in assigned.columns
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 2
    q = rows[17][0]
    got = store.search(
        "pq", [q], SearchConfig(score_func="AnnoyVectorDistance", limit=3),
        nprobe=4,
    ).collect()
    assert got[0]["label"] == "17"
    assert got[0]["score"] < 1e-6
    # rebuilding without PQ removes the sidecar; search still works
    store.refresh_index("pq", n_centroids=4)
    assigned2, _, books2 = store._indexed("pq")
    assert books2 is None and "pq_code" not in assigned2.columns
    got2 = store.search(
        "pq", [q], SearchConfig(score_func="AnnoyVectorDistance", limit=3),
        nprobe=4,
    ).collect()
    assert got2[0]["label"] == "17"


def test_pq_index_stale_after_stream_insert(spark, store, tmp_path):
    """insert_stream merges micro-batches into the store, but a persisted
    IVF-PQ index only updates on an explicit refresh_index — the staleness
    stamp must route approximate search to the on-the-fly fallback so rows
    ingested through the stream AFTER the index build are still visible."""
    import random

    from veri_spark.store import DATUM_SCHEMA

    rng = random.Random(7)
    rows = [
        ([rng.uniform(-1, 1) for _ in range(8)], "g", str(i), 1)
        for i in range(40)
    ]
    store.insert("pqs", _batch(spark, rows), no_target=True)
    store.refresh_index("pqs", n_centroids=4, pq_m=4)
    idx = store._indexed("pqs")
    assert idx is not None and idx[2] is not None  # PQ codebooks persisted

    # a fresh exact-match datum arrives VIA THE STREAM after the build
    q = [0.5] * 8
    src = tmp_path / "pq_stream_src"
    _batch(spark, [(q, "g", "fresh", 9)]).write.parquet(str(src))
    stream = spark.readStream.schema(DATUM_SCHEMA).parquet(str(src))
    store.insert_stream("pqs", stream)

    assert store._indexed("pqs") is None  # stream insert bumped the stamp
    got = store.search(
        "pqs", [q], SearchConfig(score_func="AnnoyVectorDistance", limit=1),
        n_centroids=4, nprobe=4,
    ).collect()
    assert got[0]["label"] == "fresh"

    # re-refresh re-serves the PQ fast path and still finds the row
    store.refresh_index("pqs", n_centroids=4, pq_m=4)
    idx = store._indexed("pqs")
    assert idx is not None and idx[2] is not None
    got2 = store.search(
        "pqs", [q], SearchConfig(score_func="AnnoyVectorDistance", limit=1),
        n_centroids=4, nprobe=4,
    ).collect()
    assert got2[0]["label"] == "fresh"


def test_refresh_index_kmeans_refined(spark, store):
    """refresh_index(kmeans_iters=...) trains the IVF centroids with Lloyd
    iterations before assignment: two tight blobs must land in different
    cells (balanced index), and approximate search still self-matches."""
    import random

    rng = random.Random(4)
    rows = [([rng.gauss(0.0, 0.05) for _ in range(8)], "g", f"a{i}", 1)
            for i in range(20)]
    rows += [([5.0 + rng.gauss(0.0, 0.05) for _ in range(8)], "g", f"b{i}", 1)
             for i in range(20)]
    store.insert("km", _batch(spark, rows), no_target=True)
    store.refresh_index("km", n_centroids=2, kmeans_iters=3)
    assigned, cents, _ = store._indexed("km")
    cells = {
        r["label"]: r["centroid_id"]
        for r in assigned.select("label", "centroid_id").collect()
    }
    a_cells = {c for l, c in cells.items() if l.startswith("a")}
    b_cells = {c for l, c in cells.items() if l.startswith("b")}
    assert len(a_cells) == 1 and len(b_cells) == 1 and a_cells != b_cells
    q = rows[25][0]
    got = store.search(
        "km", [q], SearchConfig(score_func="AnnoyVectorDistance", limit=2),
        nprobe=1,
    ).collect()
    assert got[0]["label"] == "b5"
    assert got[0]["score"] < 1e-6


# -- K15 query-UUID recursion guard + K16 timeout budget ---------------------

def test_uuid_guard_first_call_executes_repeat_returns_empty(spark, store_ds):
    """K15 (node/nodeservice.go:118-135): first submission with a UUID
    returns results; a repeat of the same UUID inside the TTL answers
    EMPTY with the SAME schema (the reference's empty response that
    breaks peer recursion). A different UUID is unaffected."""
    store, name = store_ds
    q = [[0.1, 0.2, 0.3]]
    first = store.search(name, q, SearchConfig(limit=2), query_uuid="u-1")
    rows = first.collect()
    assert [r["label"] for r in rows] == ["a", "b"]

    repeat = store.search(name, q, SearchConfig(limit=2), query_uuid="u-1")
    assert repeat.collect() == []
    assert repeat.schema == first.schema

    other = store.search(name, q, SearchConfig(limit=2), query_uuid="u-2")
    assert [r["label"] for r in other.collect()] == ["a", "b"]


def test_uuid_guard_expires_after_ttl(spark, store_ds):
    """Entries leave the guard after uuid_ttl_seconds, like the
    reference's QueryUUIDCache expiry — the same UUID works again."""
    store, name = store_ds
    q = [[0.1, 0.2, 0.3]]
    store.search(name, q, SearchConfig(limit=1), query_uuid="exp-1",
                 uuid_ttl_seconds=0.0).collect()
    # ttl 0: the entry is already expired at the next call
    again = store.search(name, q, SearchConfig(limit=1), query_uuid="exp-1",
                         uuid_ttl_seconds=0.0)
    assert [r["label"] for r in again.collect()] == ["a"]


def test_uuid_guard_duplicate_skips_cache_store(spark, store_ds, monkeypatch):
    """Advisor round-5 (store.py:622): a duplicate UUID with cache_seconds
    set must NOT run _store_result — the guard exists to answer empty
    WITHOUT paying the search job, and the cache-store path executes it
    eagerly. Also covers per-entry TTL deadlines: an interleaved call with
    a short TTL must not evict the long-TTL entry."""
    store, name = store_ds
    q = [[0.1, 0.2, 0.3]]
    calls = []
    orig = store._store_result

    def counting(cache_key, df):
        calls.append(cache_key)
        return orig(cache_key, df)

    monkeypatch.setattr(store, "_store_result", counting)
    first = store.search(name, q, SearchConfig(limit=1), query_uuid="dup-1",
                         cache_seconds=60)
    first.collect()
    n_after_first = len(calls)
    assert n_after_first >= 1  # the first call does store

    # an interleaved DIFFERENT uuid with ttl 0 must not evict dup-1
    store.search(name, q, SearchConfig(limit=1), query_uuid="other",
                 uuid_ttl_seconds=0.0).collect()

    repeat = store.search(name, q, SearchConfig(limit=1), query_uuid="dup-1",
                          cache_seconds=60)
    assert repeat.collect() == []           # still guarded (not evicted)
    assert len(calls) == n_after_first      # and nothing was re-stored


def test_uuid_guard_without_uuid_is_inert(spark, store_ds):
    """No UUID -> no guard state, repeated identical searches all answer."""
    store, name = store_ds
    q = [[0.1, 0.2, 0.3]]
    for _ in range(2):
        assert store.search(name, q, SearchConfig(limit=1)).collect() != []
    assert store._seen_query_uuids == {}


def test_search_with_timeout_completes_within_budget(spark, store_ds):
    """K16 happy path: a generous budget returns the same rows as a plain
    collect."""
    store, name = store_ds
    rows = store.search_with_timeout(
        name, [[0.1, 0.2, 0.3]], timeout_ms=120_000, config=SearchConfig(limit=2)
    )
    assert [r["label"] for r in rows] == ["a", "b"]


def test_collect_with_timeout_cancels_and_raises(spark):
    """K16 deadline path: a job that cannot finish inside the budget is
    cancelled (job group interrupt) and SearchTimeout raises. Uses a
    deliberately heavy aggregate so the 150 ms budget is unreachable."""
    from veri_spark.store import SearchTimeout, collect_with_timeout

    heavy = spark.range(5_000_000_000).selectExpr("sum(id * 2 + 1) AS s")
    with pytest.raises(SearchTimeout):
        collect_with_timeout(heavy, timeout_ms=150)


def test_collect_with_timeout_refuses_unpinned_gateway(spark, monkeypatch):
    """Round-7 advisor fix: on an unpinned gateway (PYSPARK_PIN_THREAD not
    exactly 'true'), job-group cancel is unreliable and the only working
    cancel kills EVERY job on the shared context — so the call must fail
    fast BEFORE starting any work, unless the caller opts into the coarse
    cancel explicitly."""
    from veri_spark.store import collect_with_timeout

    monkeypatch.setenv("PYSPARK_PIN_THREAD", "false")
    df = spark.range(1).selectExpr("sum(id) AS s")
    with pytest.raises(RuntimeError, match="pinned-thread"):
        collect_with_timeout(df, timeout_ms=60_000)
    # explicit opt-in still runs (happy path completes inside the budget,
    # after the coarse-cancel warning)
    with pytest.warns(RuntimeWarning, match="cancelAllJobs"):
        rows = collect_with_timeout(
            df, timeout_ms=60_000, unpinned_fallback="cancel_all"
        )
    assert rows[0]["s"] == 0


def test_search_worker_died_is_distinct_from_timeout():
    """Round-7 advisor fix: the thread-died-without-result case raises
    SearchWorkerDied (a RuntimeError), NOT SearchTimeout — retry-with-
    bigger-budget handlers must not misdiagnose a dead worker."""
    from veri_spark.store import SearchTimeout, SearchWorkerDied

    assert issubclass(SearchWorkerDied, RuntimeError)
    assert not issubclass(SearchWorkerDied, SearchTimeout)
    assert not issubclass(SearchTimeout, SearchWorkerDied)


# -- A5 statistical identity + A6 bucket rebalance quotas --------------------

def test_statistical_identity_same_and_drifted(spark, store_ds):
    """A5 (data/data.go:183): a dataset is identical to its own snapshot
    (score 0); inserting far-away vectors breaks identity."""
    from veri_spark.operators.stats import statistical_identity

    store, name = store_ds
    base = store.data_info(name)
    same, score, _ = statistical_identity(base, base)
    assert same and score == 0.0

    far = [([9.0, 9.0, 9.0], "z", f"far{i}", 0) for i in range(4)]
    store.insert(name, _batch(spark, far))
    drifted = store.data_info(name)
    same2, score2, thr2 = statistical_identity(base, drifted)
    assert not same2 and score2 > thr2


def test_index_refresh_needed_damps_on_unchanged(spark, store_ds):
    """A5-as-maintenance-damping: no writes -> refresh skipped; a
    distribution-shifting insert -> refresh needed."""
    store, name = store_ds
    base = store.data_info(name)
    assert store.index_refresh_needed(name, base) is False
    store.insert(name, _batch(spark, [([8.0, 8.0, 8.0], "z", "shift", 0)]))
    assert store.index_refresh_needed(name, base) is True


def test_bucket_rebalance_plan_quota_formula(spark, store):
    """A6 (data/data.go:170-195): only over-mean buckets get a quota,
    quota == min((n - mean)//2 + 1, cap), never exceeding cap."""
    rows = [([float(i), float(i % 3), 0.5], "g", f"k{i}", 0) for i in range(40)]
    store.insert("reb", _batch(spark, rows))
    cfg = store.get_config("reb")
    plan = store.bucket_rebalance_plan("reb", cap=5).collect()
    total = sum(r["n"] for r in plan)
    mean = total / cfg.n_buckets
    import math

    for r in plan:
        if r["n"] > mean:
            expect = min(math.floor((r["n"] - mean) / 2) + 1, 5)
            assert r["transfer_quota"] == expect, r
        else:
            assert r["transfer_quota"] == 0, r
    assert all(r["transfer_quota"] <= 5 for r in plan)
