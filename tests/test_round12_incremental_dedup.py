"""Round-12: incremental delta-vs-corpus dedup via the persisted
signature index (round-11 verdict task 1).

The load-bearing proof here is INCREMENTAL == BATCH-RESTRICTED: the
index-backed delta candidates must equal the whole-corpus batch MinHash
LSH result restricted to pairs with exactly one endpoint in the delta.
The batch side runs through the long-gated ``minhash_candidate_pairs``
operator, so any divergence in the persisted path (carry-forward bug,
signature drift between fresh and stored band keys, superseded-row leak)
fails this equality rather than hiding behind a same-code comparison.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from veri_spark.functions.hashing import portable_hash64
from veri_spark.operators.dedup import minhash_candidate_pairs
from veri_spark.store import FeatureStore

SF = "/root/testdata/sf0.001"


def _slices(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    shard = portable_hash64(F.col("doc_id").cast("string")) % 10 == 7
    return docs, docs.filter(shard), docs.filter(~shard)


def _pairs(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_equals_batch_restricted(spark, tmp_path):
    docs, delta, corpus = _slices(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", corpus)
    info = store.dedup_index_refresh("documents")
    assert info["indexed"] == corpus.count()

    inc = _pairs(store.dedup_delta_candidates("documents", delta))

    # batch MinHash LSH over the WHOLE corpus, restricted to pairs with
    # exactly one endpoint in the delta (ordered delta-side first)
    delta_ids = {r[0] for r in delta.select("doc_id").collect()}
    batch = minhash_candidate_pairs(docs, num_hashes=16, bands=4)
    restricted = sorted(
        (a, b) if a in delta_ids else (b, a)
        for a, b in map(tuple, batch.collect())
        if (a in delta_ids) != (b in delta_ids)
    )
    assert inc == restricted
    assert len(inc) > 0  # the fixture's near-dup seeding must cross the split


def test_refresh_recomputes_only_changed_docs(spark, tmp_path):
    _, delta, corpus = _slices(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", corpus)
    full = store.dedup_index_refresh("documents")
    assert full["recomputed"] == full["indexed"] and full["carried"] == 0

    # mutate a deterministic subset, append the delta shard, drop one doc
    changed_pred = F.col("doc_id") % 97 == 0
    dropped = corpus.orderBy("doc_id").limit(1)
    dropped_id = dropped.collect()[0][0]
    n_changed = corpus.filter(
        changed_pred & (F.col("doc_id") != dropped_id)
    ).count()
    corpus2 = (
        corpus.filter(F.col("doc_id") != dropped_id)
        .withColumn(
            "text",
            F.when(changed_pred, F.concat(F.col("text"), F.lit(" zz"))).otherwise(
                F.col("text")
            ),
        )
        .unionByName(delta)
    )
    store.put_corpus("documents", corpus2)
    assert store._dedup_indexed("documents") is None  # stale after the write
    inc = store.dedup_index_refresh("documents")
    n_new = delta.count()
    assert inc["indexed"] == corpus2.count()
    assert inc["recomputed"] == n_changed + n_new
    assert inc["carried"] == inc["indexed"] - inc["recomputed"]

    # the incrementally maintained index must equal a from-scratch build
    bands_inc, sim_inc = store._dedup_indexed("documents")
    scratch = FeatureStore(spark, str(tmp_path / "scratch"))
    scratch.put_corpus("documents", corpus2)
    scratch.dedup_index_refresh("documents")
    bands_scr, sim_scr = scratch._dedup_indexed("documents")
    assert _pairs(bands_inc) == _pairs(bands_scr)
    assert _pairs(sim_inc) == _pairs(sim_scr)
    # the dropped doc's rows fell out of the carry semi-join
    assert bands_inc.filter(F.col("doc_id") == dropped_id).count() == 0


def test_stale_index_falls_back_and_stays_correct(spark, tmp_path):
    _, delta, corpus = _slices(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", corpus)
    store.dedup_index_refresh("documents")
    fresh = _pairs(store.dedup_delta_candidates("documents", delta))

    # round 14: an identical-content re-put is detected and SKIPPED — no
    # stamp bump, the index stays fresh (the content-stamp guarantees the
    # indexed state still describes the stored corpus)
    assert store.put_corpus("documents", corpus) is False
    assert store._dedup_indexed("documents") is not None

    # a FORCED corpus rewrite bumps the stamp even with identical bytes:
    # the index reads as stale and the query falls back to on-the-fly
    # signatures — same candidates, no wrong-state serve
    assert store.put_corpus("documents", corpus, skip_if_identical=False) is True
    assert store._dedup_indexed("documents") is None
    fallback = _pairs(store.dedup_delta_candidates("documents", delta))
    assert fallback == fresh


def test_simhash_incremental_equals_batch_restricted(spark, tmp_path):
    from veri_spark.operators.dedup import simhash_hamming_pairs

    docs, delta, corpus = _slices(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", corpus)
    store.dedup_index_refresh("documents")
    inc = sorted(
        (r["delta_doc"], r["corpus_doc"], r["hamming"])
        for r in store.dedup_delta_simhash("documents", delta).collect()
    )

    delta_ids = {r[0] for r in delta.select("doc_id").collect()}
    batch = simhash_hamming_pairs(docs, max_hamming=3)
    restricted = sorted(
        ((a, b, h) if a in delta_ids else (b, a, h))
        for a, b, h in (
            (r["doc_a"], r["doc_b"], r["hamming"]) for r in batch.collect()
        )
        if (a in delta_ids) != (b in delta_ids)
    )
    assert inc == restricted
    assert len(inc) > 0


def test_dedup_stream_matches_batch_path(spark, tmp_path):
    """Two micro-batches through dedup_stream must produce exactly the
    union of batch1-vs-corpus and batch2-vs-(corpus+batch1) candidates,
    with the index fresh and the corpus complete at the end."""
    docs, delta, corpus = _slices(spark)
    b1 = delta.filter(F.col("doc_id") % 2 == 0)
    b2 = delta.filter(F.col("doc_id") % 2 == 1)

    src = tmp_path / "src"
    b1.coalesce(1).write.parquet(str(src / "b1"))
    b2.coalesce(1).write.parquet(str(src / "b2"))
    # one file per micro-batch: a real 2-batch stream, not one big batch
    import glob
    import shutil

    files = sorted(
        glob.glob(str(src / "b1" / "*.parquet"))
        + glob.glob(str(src / "b2" / "*.parquet"))
    )
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for i, f in enumerate(files):
        shutil.copy(f, stream_dir / f"{i}.parquet")
        t = 1_600_000_000 + i * 60  # pin mtime: batch order is mtime order
        import os as _os

        _os.utime(stream_dir / f"{i}.parquet", (t, t))

    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", corpus)
    store.dedup_index_refresh("documents")

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    matches = store.dedup_stream("documents", stream)

    got = sorted(
        map(
            tuple,
            spark.read.parquet(matches)
            .select("delta_doc", "corpus_doc")
            .collect(),
        )
    )

    ref = FeatureStore(spark, str(tmp_path / "ref"))
    ref.put_corpus("documents", corpus)
    ref.dedup_index_refresh("documents")
    exp1 = _pairs(ref.dedup_delta_candidates("documents", b1))
    ref.put_corpus("documents", corpus.unionByName(b1))
    ref.dedup_index_refresh("documents")
    exp2 = _pairs(ref.dedup_delta_candidates("documents", b2))
    assert got == sorted(exp1 + exp2)
    assert len(got) > 0

    # corpus complete, index fresh (no stale fallback at the end)
    assert store._read("documents").count() == docs.count()
    assert store._dedup_indexed("documents") is not None
