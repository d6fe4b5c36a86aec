"""Round-14: A5-damped index maintenance (r13 verdict tasks 1 + 3).

Two disciplines under test:

1. **Shared dedup scratch store** — `dedup_incremental_delta` and
   `dedup_incremental_simhash` slice the same corpus and the persisted
   signature index holds BOTH families, so the pair now shares ONE
   scratch store: whichever query runs first pays the corpus write +
   index build, the second's ``put_corpus`` is an identical-content
   skip and its ``if_needed`` refresh a zero-rewrite stamp no-op.

2. **Damped refresh** — ``refresh_index(if_needed=True)`` is the
   reference's rebuild-on-dirty Process loop (data/data.go:158-164,
   data/newsync.go:97-100): stamp-unchanged skips with ZERO Spark jobs;
   a stamp bump whose live stats still pass the A5 statistical-identity
   test against the indexed-generation snapshot restamps and skips the
   rebuild; real drift rebuilds.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from veri_spark.functions.hashing import portable_hash64
from veri_spark.store import DatasetConfig, FeatureStore

SF = "/root/testdata/sf0.001"

DATUM = (
    "feature array<float>, group_label string, label string, version bigint, "
    "dim1 int, dim2 int, size1 int, size2 int, expire_at timestamp"
)


def _walk(root):
    out = []
    for dp, _, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            out.append((p, os.path.getmtime(p)))
    return sorted(out)


def _corpus_and_delta(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    shard = portable_hash64(F.col("doc_id").cast("string")) % 10 == 7
    return docs.filter(~shard), docs.filter(shard)


def test_second_refresh_is_zero_rewrite_noop(spark, tmp_path):
    """The gate pair's exact store protocol: put_corpus + refresh, then
    put_corpus (same content) + refresh(if_needed) — the second pass must
    write NOTHING (no corpus rewrite, no bucket rewrite, no stamp bump)
    and still serve both delta-dedup families correctly."""
    corpus, delta = _corpus_and_delta(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))

    assert store.put_corpus("documents", corpus) is True
    info1 = store.dedup_index_refresh("documents", if_needed=True)
    assert info1["buckets_rewritten"] == FeatureStore.DEDUP_INDEX_BUCKETS
    stamp1 = store._mutation_stamp("documents")
    files1 = _walk(str(tmp_path / "st"))

    # the second gate query's store interaction, verbatim
    assert store.put_corpus("documents", corpus) is False
    info2 = store.dedup_index_refresh("documents", if_needed=True)
    assert info2["buckets_rewritten"] == 0
    assert info2["skipped"] == "stamp"
    assert info2["indexed"] == info1["indexed"]
    assert store._mutation_stamp("documents") == stamp1
    assert _walk(str(tmp_path / "st")) == files1  # byte-for-byte untouched

    # and the index still serves BOTH signature families
    assert store.dedup_delta_candidates("documents", delta).count() >= 0
    sim = store.dedup_delta_simhash("documents", delta, max_hamming=3)
    assert sim.count() > 0


def test_gate_pair_shares_one_store(spark):
    """Running the two registered incremental-dedup queries back to back
    must leave the SECOND one with zero new/modified files in the shared
    session scratch store."""
    from veri_spark.plans._base import scratch_store_root
    from veri_spark.plans.registry import QUERIES

    r1 = QUERIES["dedup_incremental_delta"](spark, SF).collect()
    root = scratch_store_root("dedupidx_" + SF.strip("/").replace("/", "_"))
    files1 = _walk(root)
    r2 = QUERIES["dedup_incremental_simhash"](spark, SF).collect()
    assert _walk(root) == files1
    assert len(r1) > 0 and len(r2) > 0
    # refresh on the shared store is now a stamp-grain no-op
    store = FeatureStore(spark, root)
    assert store.dedup_index_refresh("documents", if_needed=True)[
        "buckets_rewritten"
    ] == 0


def test_put_corpus_content_change_still_writes(spark, tmp_path):
    corpus, delta = _corpus_and_delta(spark)
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.put_corpus("documents", corpus)
    s1 = store._mutation_stamp("documents")
    # one changed row is a different corpus: must write and bump
    changed = corpus.withColumn(
        "text",
        F.when(F.col("doc_id") == F.lit(2), F.lit("mutated")).otherwise(
            F.col("text")
        ),
    )
    assert store.put_corpus("documents", changed) is True
    assert store._mutation_stamp("documents") == s1 + 1
    # reordered-but-identical content is NOT a change (order-invariant stamp)
    assert (
        store.put_corpus("documents", changed.orderBy(F.col("doc_id").desc()))
        is False
    )
    assert store._mutation_stamp("documents") == s1 + 1


def _vec_rows(n, lo=-1.0, hi=1.0, prefix="r", seed=7, dim=8):
    rng = random.Random(seed)
    return [
        (
            [rng.uniform(lo, hi) for _ in range(dim)],
            "g", f"{prefix}{i}", 1, None, None, None, None, None,
        )
        for i in range(n)
    ]


def test_refresh_index_stamp_skip_runs_zero_jobs(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.create_dataset("d", DatasetConfig(target_n=100000))
    store.insert("d", spark.createDataFrame(_vec_rows(400), DATUM))
    store.refresh_index("d", n_centroids=4, if_needed=True)
    assert store.last_index_refresh_info == {"cells_rewritten": -1}

    sc = spark.sparkContext
    sc.setJobGroup("r14_stamp_probe", "damped refresh stamp probe")
    try:
        n = store.refresh_index("d", n_centroids=4, if_needed=True)
    finally:
        sc.setJobGroup("r14_stamp_probe_done", "")
    assert n == 400
    assert store.last_index_refresh_info["skipped"] == "stamp"
    # zero jobs: the untouched-corpus nightly run costs file reads only
    assert list(sc.statusTracker().getJobIdsForGroup("r14_stamp_probe")) == []


def test_refresh_index_identity_skip_and_drift_rebuild(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path / "st"))
    store.create_dataset("d", DatasetConfig(target_n=100000))
    base = _vec_rows(400)
    store.insert("d", spark.createDataFrame(base, DATUM))
    store.refresh_index("d", n_centroids=4, if_needed=True)
    final = store._index_path("d")
    assert os.path.exists(final + ".stats.json")
    files1 = _walk(final)

    # 2 NEW rows statistically inside the cloud: stamp moves, A5 passes
    near = [
        (v, "g", f"n{i}", 1, None, None, None, None, None)
        for i, (v, *_rest) in enumerate(_vec_rows(2, seed=99))
    ]
    store.insert("d", spark.createDataFrame(near, DATUM))
    stamp = store._mutation_stamp("d")
    store.refresh_index("d", n_centroids=4, if_needed=True)
    assert store.last_index_refresh_info["skipped"] == "identity"
    assert _walk(final) == files1  # index files untouched
    # restamped fresh: the NEXT damped call skips at stamp grain
    assert int(open(final + ".mutver").read()) == stamp
    store.refresh_index("d", n_centroids=4, if_needed=True)
    assert store.last_index_refresh_info["skipped"] == "stamp"

    # real drift (a far-away cluster bigger than the corpus tolerance):
    # the damped call must REBUILD, and refresh the A5 baseline with it
    stats1 = open(final + ".stats.json").read()
    far = [
        (v, "g", f"f{i}", 1, None, None, None, None, None)
        for i, (v, *_rest) in enumerate(_vec_rows(300, lo=40.0, hi=50.0, seed=3))
    ]
    store.insert("d", spark.createDataFrame(far, DATUM))
    n = store.refresh_index("d", n_centroids=4, if_needed=True)
    assert n == 702
    assert "skipped" not in store.last_index_refresh_info
    assert open(final + ".stats.json").read() != stats1


def test_bench_cadence_configuration():
    """Pin the round-14 bench wiring: the trained IVF-PQ audit is on the
    even-round deferral cadence, its seed-serving sibling and the other
    round-14 entries bench every round, and every benched name resolves
    in the registry (a rename would otherwise surface only at the next
    bench run)."""
    import bench
    from veri_spark.plans.registry import QUERIES

    assert "ann_ivfpq_trained_audit" in bench.EXACT_AUDIT_EVERY_OTHER_ROUND
    for name in [
        "ann_ivfpq_seed_serving",
        "curation_pipeline_ledger",
        "ann_damped_refresh_serving",
        "lepage_test_weekend_value",
        "bws_test_weekend_value",
        "dunn_posthoc_value_by_type",
        "obrien_scale_value_by_type",
        "goodman_kruskal_lambda_lang_source",
        "kuiper_value_drift",
        "sign_test_yoy_revenue",
    ]:
        assert name in bench.BENCH_QUERIES, name
    unknown = [n for n in bench.BENCH_QUERIES if n not in QUERIES]
    assert unknown == []
    unknown_defer = [
        n
        for n in bench.EXACT_AUDIT_EVERY_OTHER_ROUND
        + bench.TRIO_COLD_EVERY_OTHER_ROUND
        if n not in bench.BENCH_QUERIES
    ]
    assert unknown_defer == []
