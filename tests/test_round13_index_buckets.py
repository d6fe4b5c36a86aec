"""Round-13: O(delta) WRITES for the persisted dedup signature index
(r12 verdict task 2 / What's wrong #5).

The round-12 refresh already recomputed only the delta (compute was
O(delta)) but rewrote the ENTIRE carried-union-new index parquet each
pass — O(corpus) I/O. The index is now partitioned by
``bucket = pmod(fp, DEDUP_INDEX_BUCKETS)`` and a refresh rewrites ONLY
bucket directories containing added/changed/removed fingerprints. The
load-bearing assertions here are on the FILES: untouched buckets keep
byte-identical part-file listings across a refresh (Spark part names
embed a fresh UUID per write, so an identical listing proves the
directory was not rewritten), and exactly the touched buckets change.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from veri_spark.store import FeatureStore

SF = "/root/testdata/sf0.001"
NB = FeatureStore.DEDUP_INDEX_BUCKETS




def _pin_mtime(path, order: int) -> None:
    """FileStreamSource batches files in MODIFICATION-TIME order; copies
    made microseconds apart can tie on coarse-mtime filesystems and flip
    batch assignment between runs. Pin an explicit, strictly increasing
    mtime per intended batch."""
    t = 1_600_000_000 + order * 60
    os.utime(path, (t, t))


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )


def _bucket_listings(root: str) -> dict[int, tuple[str, ...]]:
    out = {}
    for d in os.listdir(root):
        if d.startswith("bucket="):
            b = int(d.split("=", 1)[1])
            out[b] = tuple(
                sorted(
                    f
                    for f in os.listdir(os.path.join(root, d))
                    if f.endswith(".parquet")
                )
            )
    return out


def _fp_buckets(spark, texts: list[str]) -> set[int]:
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    return {
        r[0]
        for r in df.select(
            F.pmod(F.xxhash64("text"), F.lit(NB)).cast("int").alias("b")
        ).collect()
    }


def test_delta_rewrites_exactly_touched_buckets(spark, tmp_path):
    docs = _docs(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", docs)
    full = store.dedup_index_refresh("documents")
    assert full["buckets_rewritten"] == NB

    idx_root = store._dedup_index_path("documents")
    before = {
        sfx: _bucket_listings(idx_root + sfx)
        for sfx in (".bands", ".simhash")
    }

    # change ONE doc: its old fp bucket loses a row (superseded) and its
    # new fp bucket gains one — the dirty set is exactly those buckets
    victim = docs.orderBy("doc_id").limit(1).collect()[0]
    new_text = victim["text"] + " zz"
    docs2 = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == victim["doc_id"], F.lit(new_text)).otherwise(
            F.col("text")
        ),
    )
    store.put_corpus("documents", docs2)
    inc = store.dedup_index_refresh("documents")
    expected_dirty = _fp_buckets(spark, [victim["text"], new_text])
    assert inc["recomputed"] == 1
    assert inc["buckets_rewritten"] == len(expected_dirty)

    after = {
        sfx: _bucket_listings(idx_root + sfx)
        for sfx in (".bands", ".simhash")
    }
    for sfx in (".bands", ".simhash"):
        for b in set(before[sfx]) | set(after[sfx]):
            if b in expected_dirty:
                assert before[sfx].get(b) != after[sfx].get(b), (
                    f"dirty bucket {b} in {sfx} was not rewritten"
                )
            else:
                assert before[sfx].get(b) == after[sfx].get(b), (
                    f"untouched bucket {b} in {sfx} was rewritten"
                )

    # the bucket-scoped index still equals a from-scratch build
    scratch = FeatureStore(spark, str(tmp_path / "scr"))
    scratch.put_corpus("documents", docs2)
    scratch.dedup_index_refresh("documents")
    for got, want in zip(
        store._dedup_indexed("documents"), scratch._dedup_indexed("documents")
    ):
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def test_noop_refresh_rewrites_nothing(spark, tmp_path):
    docs = _docs(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", docs)
    store.dedup_index_refresh("documents")
    idx_root = store._dedup_index_path("documents")
    before = _bucket_listings(idx_root + ".bands")

    # content-identical rewrite of the corpus, FORCED past the round-14
    # identical-content skip, bumps the mutation stamp (index reads as
    # stale) but the refresh finds zero changed fps and must not touch a
    # single file
    store.put_corpus("documents", docs, skip_if_identical=False)
    assert store._dedup_indexed("documents") is None
    info = store.dedup_index_refresh("documents")
    assert info["recomputed"] == 0
    assert info["buckets_rewritten"] == 0
    assert _bucket_listings(idx_root + ".bands") == before
    assert store._dedup_indexed("documents") is not None


def test_removed_doc_dirties_its_bucket(spark, tmp_path):
    docs = _docs(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", docs)
    store.dedup_index_refresh("documents")
    victim = docs.orderBy("doc_id").limit(1).collect()[0]
    store.put_corpus(
        "documents", docs.filter(F.col("doc_id") != victim["doc_id"])
    )
    info = store.dedup_index_refresh("documents")
    assert info["recomputed"] == 0
    assert info["buckets_rewritten"] == len(
        _fp_buckets(spark, [victim["text"]])
    )
    bands, sim = store._dedup_indexed("documents")
    assert bands.filter(F.col("doc_id") == victim["doc_id"]).count() == 0
    assert sim.filter(F.col("doc_id") == victim["doc_id"]).count() == 0


def _stream_fixture(spark, tmp_path):
    from veri_spark.functions.hashing import portable_hash64

    docs = _docs(spark)
    shard = portable_hash64(F.col("doc_id").cast("string")) % 10 == 7
    delta, corpus = docs.filter(shard), docs.filter(~shard)
    b1 = delta.filter(F.col("doc_id") % 2 == 0)
    b2 = delta.filter(F.col("doc_id") % 2 == 1)
    import glob
    import shutil

    src = tmp_path / "src"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    b2.coalesce(1).write.parquet(str(src / "b2"))
    files = sorted(
        glob.glob(str(src / "b1" / "*.parquet"))
        + glob.glob(str(src / "b2" / "*.parquet"))
    )
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    return corpus, b1, b2, files, stream_dir


def _reader(spark, stream_dir):
    return (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )


def _matches_rows(spark, path):
    return sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .select("delta_doc", "corpus_doc")
            .collect(),
        )
    )


def test_dedup_stream_checkpoint_restart_and_replay_noop(spark, tmp_path):
    """Kill the stream between micro-batches, restart from the
    checkpoint, and the matches table + corpus + index must equal the
    uninterrupted run; a re-run against the INTACT checkpoint is a
    byte-level no-op; and after a WIPED checkpoint, new data delivered
    under recycled batch ids must still be ingested — the marker lives
    inside the checkpoint, so batch-id reuse can reprocess (at-least-
    once, duplicates) but can never silently DROP (at-most-once), the
    round-13 review's failure case."""
    import shutil

    corpus, b1, b2, files, stream_dir = _stream_fixture(spark, tmp_path)

    # uninterrupted reference run over both batches
    ref = FeatureStore(spark, str(tmp_path / "ref"))
    ref.put_corpus("documents", corpus)
    ref.dedup_index_refresh("documents")
    for i, f in enumerate(files):
        shutil.copy(f, stream_dir / f"{i}.parquet")
        _pin_mtime(stream_dir / f"{i}.parquet", i)
    ref_matches = ref.dedup_stream("documents", _reader(spark, stream_dir))
    want = _matches_rows(spark, ref_matches)
    want_corpus = sorted(map(tuple, ref._read("documents").collect()))

    # interrupted run: batch 1 only, stream stops (availableNow drains
    # what exists), then "restart" with batch 2 added — the checkpoint
    # must skip the already-processed file
    stream2 = tmp_path / "stream2"
    stream2.mkdir()
    shutil.copy(files[0], stream2 / "0.parquet")
    _pin_mtime(stream2 / "0.parquet", 0)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", corpus)
    store.dedup_index_refresh("documents")
    matches = store.dedup_stream("documents", _reader(spark, stream2))
    got_mid = _matches_rows(spark, matches)
    assert got_mid != want  # genuinely interrupted mid-stream
    shutil.copy(files[1], stream2 / "1.parquet")
    _pin_mtime(stream2 / "1.parquet", 1)
    store.dedup_stream("documents", _reader(spark, stream2))

    assert _matches_rows(spark, matches) == want
    assert sorted(map(tuple, store._read("documents").collect())) == want_corpus
    got_idx = store._dedup_indexed("documents")
    ref_idx = ref._dedup_indexed("documents")
    assert got_idx is not None and ref_idx is not None
    for g, r in zip(got_idx, ref_idx):
        assert sorted(map(tuple, g.collect())) == sorted(map(tuple, r.collect()))

    # re-run against the INTACT checkpoint with no new files: nothing is
    # re-delivered, nothing changes
    import os

    corpus_files = sorted(os.listdir(store._data_path("documents")))
    store.dedup_stream("documents", _reader(spark, stream2))
    assert _matches_rows(spark, matches) == want
    assert sorted(os.listdir(store._data_path("documents"))) == corpus_files

    # wipe the checkpoint AND add genuinely new docs: the fresh stream
    # recycles batch ids from 0, and the marker died with the checkpoint
    # — so the new docs MUST land in the corpus (no at-most-once drop)
    # while the re-delivered old batches may re-append (at-least-once)
    new_docs = b1.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq")).alias("text"),
    )
    new_docs.coalesce(1).write.parquet(str(tmp_path / "src" / "b3"))
    import glob

    shutil.copy(
        glob.glob(str(tmp_path / "src" / "b3" / "*.parquet"))[0],
        stream2 / "2.parquet",
    )
    _pin_mtime(stream2 / "2.parquet", 2)
    shutil.rmtree(f"{store.root}/documents.dedup_checkpoint")
    store.dedup_stream("documents", _reader(spark, stream2))
    got_ids = {
        r[0]
        for r in store._read("documents").select("doc_id").collect()
    }
    new_ids = {r[0] for r in new_docs.select("doc_id").collect()}
    assert new_ids <= got_ids  # the review's silent-drop case is closed
    # re-delivered old batches appended again: duplicates, never loss
    from collections import Counter

    counts = Counter(
        r[0] for r in store._read("documents").select("doc_id").collect()
    )
    b1_ids = {r[0] for r in b1.select("doc_id").collect()}
    assert all(counts[i] == 2 for i in b1_ids)
    assert all(counts[i] == 1 for i in new_ids)
    # and the index is consistent with the (duplicated) corpus state
    assert store._dedup_indexed("documents") is not None


# ---------------------------------------------------------------------------
# Round-13: the O(delta)-write discipline extended to the ANN IVF index
# (store.refresh_index). Same load-bearing file-listing assertions.
# ---------------------------------------------------------------------------


def _vec_batch(spark, rows):
    return spark.createDataFrame(
        [(f, g, l, v, None, None, None, None, None) for (f, g, l, v) in rows],
        "feature array<float>, group_label string, label string, "
        "version bigint, dim1 int, dim2 int, size1 int, size2 int, "
        "expire_at timestamp",
    )


def _cell_listings(root: str) -> dict[str, tuple[str, ...]]:
    out = {}
    for d in os.listdir(root):
        if d.startswith("centroid_id="):
            out[d] = tuple(
                sorted(
                    f
                    for f in os.listdir(os.path.join(root, d))
                    if f.endswith(".parquet")
                )
            )
    return out


def test_ivf_refresh_rewrites_exactly_touched_cells(spark, tmp_path):
    rows = [
        ([0.1, 0.2, 0.3], "g", "a", 0),
        ([0.2, 0.3, 0.4], "g", "b", 0),
        ([0.2, 0.3, 0.7], "h", "c", 0),
        ([0.9, 0.1, 0.0], "h", "d", 0),
    ]
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.insert("idx", _vec_batch(spark, rows))
    n = store.refresh_index("idx", n_centroids=2, vector_col="feature")
    assert n == 4
    assert store.last_index_refresh_info["cells_rewritten"] == -1  # full

    idx_dir = store._index_path("idx")
    before = _cell_listings(idx_dir)

    # seed centroids are the 2 lowest content hashes; add rows until one
    # hashes ABOVE both seeds so the derived centroids stay identical and
    # the incremental path engages deterministically
    seeds = sorted(cid for cid, _ in store._indexed("idx")[1])
    base = store._read("idx")
    cand = None
    for i in range(50):
        vec = [0.85 + i * 0.001, 0.15, 0.05]
        probe = _vec_batch(spark, [(vec, "h", f"e{i}", 0)])
        h = probe.select(
            F.xxhash64(*base.columns).alias("h")
        ).collect()[0]["h"]
        if h > max(seeds):
            cand = (vec, f"e{i}", h)
            break
    assert cand is not None
    store.insert("idx", _vec_batch(spark, [(cand[0], "h", cand[1], 0)]))
    n = store.refresh_index("idx", n_centroids=2, vector_col="feature")
    assert n == 5
    info = store.last_index_refresh_info
    assert info["cells_rewritten"] == 1  # the new row's cell only

    after = _cell_listings(idx_dir)
    changed = [c for c in set(before) | set(after)
               if before.get(c) != after.get(c)]
    assert len(changed) == 1

    # the incrementally maintained index equals a from-scratch build
    scratch = FeatureStore(spark, str(tmp_path / "scr"))
    scratch.insert("idx", store.export("idx"))
    scratch.refresh_index("idx", n_centroids=2, vector_col="feature")
    got = sorted(
        map(tuple, spark.read.parquet(idx_dir).collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(scratch._index_path("idx")).collect())
    )
    assert got == want

    # duplicate-row multiplicity: a raw corpus write with an exact
    # duplicate row changes that fingerprint's COUNT, so its cell is
    # rewritten with both copies (insert() itself upserts by key, so the
    # duplicate must be planted at the storage layer)
    dup = store._read("idx").filter(F.col("label") == cand[1])
    store.put_corpus("idx", store._read("idx").unionByName(dup))
    n = store.refresh_index("idx", n_centroids=2, vector_col="feature")
    assert n == 6
    assert store.last_index_refresh_info["cells_rewritten"] == 1

    # content-identical refresh touches nothing
    listings = _cell_listings(idx_dir)
    store.refresh_index("idx", n_centroids=2, vector_col="feature")
    assert store.last_index_refresh_info["cells_rewritten"] == 0
    assert _cell_listings(idx_dir) == listings


def test_ivf_refresh_falls_back_on_centroid_change(spark, tmp_path):
    """Deleting a SEED row changes the derived centroids; the guard must
    force a full rebuild (every cell rewritten), never a carry under
    mismatched centroids."""
    rows = [
        ([0.1, 0.2, 0.3], "g", "a", 0),
        ([0.2, 0.3, 0.4], "g", "b", 0),
        ([0.2, 0.3, 0.7], "h", "c", 0),
        ([0.9, 0.1, 0.0], "h", "d", 0),
    ]
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.insert("idx", _vec_batch(spark, rows))
    store.refresh_index("idx", n_centroids=2, vector_col="feature")
    idx_dir = store._index_path("idx")
    seed_min = min(cid for cid, _ in store._indexed("idx")[1])
    base = store._read("idx")
    victim_label = (
        base.withColumn("__h", F.xxhash64(*base.columns))
        .filter(F.col("__h") == seed_min)
        .collect()[0]["label"]
    )
    store.delete(
        "idx",
        spark.createDataFrame([(victim_label,)], "label string"),
        ["label"],
    )
    store.refresh_index("idx", n_centroids=2, vector_col="feature")
    assert store.last_index_refresh_info["cells_rewritten"] == -1  # full
    scratch = FeatureStore(spark, str(tmp_path / "scr"))
    scratch.insert("idx", store.export("idx"))
    scratch.refresh_index("idx", n_centroids=2, vector_col="feature")
    got = sorted(map(tuple, spark.read.parquet(idx_dir).collect()))
    want = sorted(
        map(tuple, spark.read.parquet(scratch._index_path("idx")).collect())
    )
    assert got == want


def test_persisted_incremental_search_serves_fresh_incremental_index(
    spark, tmp_path
):
    """The gate query's store recipe must actually take the incremental
    path on the second refresh (stable vec_id seeds) and serve from a
    FRESH persisted index (stamp matches after the delta append)."""
    from veri_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    table = emb.select(
        F.col("embedding").cast("array<float>").alias("feature"),
        F.col("vec_id").cast("string").alias("label"),
        "vec_id",
    )
    shard = (F.col("vec_id") % 10 == 7) & (F.col("vec_id") > 20)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("vectors", table.filter(~shard))
    store.refresh_index(
        "vectors", n_centroids=16, vector_col="feature", seed_col="vec_id"
    )
    assert store.last_index_refresh_info["cells_rewritten"] == -1
    store.put_corpus("vectors", table)
    assert store._indexed("vectors") is None  # stale after the append
    n = store.refresh_index(
        "vectors", n_centroids=16, vector_col="feature", seed_col="vec_id"
    )
    assert n == table.count()
    k = store.last_index_refresh_info["cells_rewritten"]
    assert 0 < k < 16  # incremental, and the delta touched < all cells
    assert store._indexed("vectors") is not None  # served fresh


# ---------------------------------------------------------------------------
# Round-13: continuous drift monitor (the A5 stats-refresh loop streamed)
# ---------------------------------------------------------------------------


def test_drift_stream_scores_batches_and_flags_shift(spark, tmp_path):
    """Per-micro-batch PSI equals a pure-Python recomputation from the
    same persisted reference; an in-distribution batch stays under the
    threshold while a shifted batch is flagged; replays are no-ops."""
    import glob
    import json
    import math
    import shutil

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "value"
    )
    corpus = ev.filter(F.col("event_id") % 3 != 0)
    b_ok = ev.filter(F.col("event_id") % 3 == 0)
    b_shift = b_ok.select(
        "event_id", (F.col("value") * 10 + 500).alias("value")
    )

    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("events", corpus)

    src = tmp_path / "src"
    b_ok.coalesce(1).write.parquet(str(src / "b0"))
    b_shift.coalesce(1).write.parquet(str(src / "b1"))
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    shutil.copy(glob.glob(str(src / "b0" / "*.parquet"))[0],
                stream_dir / "0.parquet")
    _pin_mtime(stream_dir / "0.parquet", 0)
    shutil.copy(glob.glob(str(src / "b1" / "*.parquet"))[0],
                stream_dir / "1.parquet")
    _pin_mtime(stream_dir / "1.parquet", 1)

    reader = (
        spark.readStream.schema("event_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    alerts = store.drift_stream("events", reader, threshold=0.2)
    rows = {
        r["batch_id"]: r
        for r in spark.read.parquet(alerts).collect()
    }
    assert set(rows) == {0, 1}

    # pure-Python PSI from the same persisted reference
    ref = json.load(open(f"{store.root}/events.drift_ref.json"))
    lo, width, bins = ref["lo"], ref["width"], ref["bins"]
    rc, rt = ref["counts"], sum(ref["counts"])

    def psi_of(df):
        got = [0] * bins
        for r in df.select("value").collect():
            b = min(bins - 1, max(0, math.floor((r["value"] - lo) / width)))
            got[b] += 1
        n = sum(got)
        return sum(
            ((g + 1) / (n + bins) - (c + 1) / (rt + bins))
            * math.log(((g + 1) / (n + bins)) / ((c + 1) / (rt + bins)))
            for g, c in zip(got, rc)
        )

    assert abs(rows[0]["psi"] - psi_of(b_ok)) < 1e-9
    assert abs(rows[1]["psi"] - psi_of(b_shift)) < 1e-9
    assert not rows[0]["drifted"] and rows[1]["drifted"]

    # replay with the intact checkpoint: no re-delivery, nothing changes
    before = sorted(glob.glob(f"{alerts}/batch=*/*.parquet"))
    want = sorted(map(tuple, spark.read.parquet(alerts).collect()))
    store.drift_stream("events", reader, threshold=0.2)
    assert sorted(glob.glob(f"{alerts}/batch=*/*.parquet")) == before
    assert sorted(map(tuple, spark.read.parquet(alerts).collect())) == want

    # at-least-once re-delivery: drop the last commit so the restarted
    # query runs batch 1 again; the last-applied marker makes it a no-op
    commits = f"{store.root}/events.drift_checkpoint/commits"
    for f in ("1", ".1.crc"):
        os.remove(f"{commits}/{f}")
    store.drift_stream("events", reader, threshold=0.2)
    assert sorted(glob.glob(f"{alerts}/batch=*/*.parquet")) == before
    assert sorted(map(tuple, spark.read.parquet(alerts).collect())) == want
