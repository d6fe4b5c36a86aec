"""Skew utilities and ANN recall-vs-exact checks (SURVEY.md section 5:
approximate paths asserted on recall, exact paths on equality)."""

import pyspark.sql.functions as F
import pytest

from veri_spark.operators.skew import salted_join, salted_two_stage, with_salt

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (k=0) with 900 rows, 10 cold keys with 10 each
    rows = [(0, i, float(i % 7)) for i in range(900)]
    rows += [(k, 1000 + k * 10 + j, float(j)) for k in range(1, 11) for j in range(10)]
    return spark.createDataFrame(rows, "k int, row_id bigint, v double")


def test_salted_two_stage_count_sum(spark, skewed):
    got = {
        r["k"]: (r["n"], r["s"])
        for r in salted_two_stage(
            skewed,
            group_cols=["k"],
            partial_aggs=[F.count(F.lit(1)).alias("pc"), F.sum("v").alias("ps")],
            final_aggs=[F.sum("pc").alias("n"), F.sum("ps").alias("s")],
            entropy_cols=["row_id"],
            buckets=8,
        ).collect()
    }
    exact = {
        r["k"]: (r["n"], r["s"])
        for r in skewed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == exact


def test_salted_two_stage_distinct_set(spark, skewed):
    got = {
        r["k"]: sorted(r["vals"])
        for r in salted_two_stage(
            skewed,
            group_cols=["k"],
            partial_aggs=[F.collect_set("v").alias("s")],
            final_aggs=[
                F.array_distinct(F.flatten(F.collect_list("s"))).alias("vals")
            ],
            entropy_cols=["row_id"],
            buckets=8,
        ).collect()
    }
    exact = {
        r["k"]: sorted(r["vals"])
        for r in skewed.groupBy("k").agg(F.collect_set("v").alias("vals")).collect()
    }
    assert got == exact


def test_salted_join_matches_plain_join(spark, skewed):
    small = spark.createDataFrame(
        [(k, f"name-{k}") for k in range(11)], "k int, name string"
    )
    got = sorted(
        (r["row_id"], r["name"])
        for r in salted_join(skewed, small, on=["k"], entropy_cols=["row_id"]).collect()
    )
    exact = sorted(
        (r["row_id"], r["name"]) for r in skewed.join(small, "k").collect()
    )
    assert got == exact


def test_with_salt_deterministic_and_bounded(spark, skewed):
    a = with_salt(skewed, ["row_id"], 8).select("row_id", "__salt").collect()
    b = with_salt(skewed, ["row_id"], 8).select("row_id", "__salt").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(0 <= r["__salt"] < 8 for r in a)
    # the hot key's rows actually spread across shards
    n_shards = len({r["__salt"] for r in a})
    assert n_shards == 8


def test_ivf_recall_vs_exact(spark):
    """IVF with a modest probe count recovers most of the exact top-k
    (recall@10 threshold, not equality — the approximate path's contract)."""
    from veri_spark.operators.search import SearchConfig, search
    from veri_spark.operators.similarity import ivf_search, take_centroids
    from veri_spark.sources.catalog import load_table
    from veri_spark.plans.registry import _query_vector

    emb = load_table(spark, SF_DIR, "embeddings")
    q = _query_vector(spark, SF_DIR, 0)
    exact = search(
        emb, q, SearchConfig(score_func="VectorDistance", limit=10),
        vector_col="embedding", id_cols=["vec_id"],
    )
    exact_ids = {r["vec_id"] for r in exact.collect()}
    cents = take_centroids(emb, 8)
    approx = ivf_search(emb, cents, q, k=10, nprobe=4)
    approx_ids = {r["vec_id"] for r in approx.collect()}
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.5, f"recall@10 = {recall}"


def test_mllib_brp_lsh_recall_vs_exact(spark):
    """MLlib BucketedRandomProjectionLSH (the euclidean ANN family the
    survey maps Annoy onto) against exact brute-force: recall@10 over the
    embeddings fixture with a fixed seed."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import StructField, StructType, LongType

    from veri_spark.operators.search import SearchConfig, search
    from veri_spark.plans.registry import _query_vector
    from veri_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    to_vec = F.udf(lambda a: Vectors.dense([float(x) for x in a]), VectorUDT())
    feat = emb.select("vec_id", to_vec("embedding").alias("features"))
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4,
        seed=42,
    ).fit(feat)
    q = _query_vector(spark, SF_DIR, 0)
    approx = model.approxNearestNeighbors(feat, Vectors.dense(q), 10)
    approx_ids = {r["vec_id"] for r in approx.collect()}
    exact = search(
        emb, q, SearchConfig(score_func="VectorDistance", limit=10),
        vector_col="embedding", id_cols=["vec_id"],
    )
    exact_ids = {r["vec_id"] for r in exact.collect()}
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.5, f"recall@10 = {recall}"


def test_kmeans_ivf_recall(spark):
    """KMeans-seeded IVF: same pipeline, better-balanced buckets. Recall@10
    with half the centroids probed must clear the floor."""
    from veri_spark.operators.search import SearchConfig, search
    from veri_spark.operators.similarity import ivf_search, kmeans_centroids
    from veri_spark.plans.registry import _query_vector
    from veri_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = _query_vector(spark, SF_DIR, 0)
    cents = kmeans_centroids(emb, k=8)
    approx_ids = {
        r["vec_id"] for r in ivf_search(emb, cents, q, k=10, nprobe=4).collect()
    }
    exact_ids = {
        r["vec_id"]
        for r in search(
            emb, q, SearchConfig(score_func="VectorDistance", limit=10),
            vector_col="embedding", id_cols=["vec_id"],
        ).collect()
    }
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.5, f"recall@10 = {recall}"


def test_mllib_approx_similarity_join(spark):
    """MLlib approxSimilarityJoin (the model-based variant of our
    lsh_banded_pairs): near pairs under a euclidean threshold contain the
    planted duplicate."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors, VectorUDT

    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(100)]
    rows.append((1000, [x + 1e-4 for x in rows[0][1]]))  # planted near-dup of id 0
    to_vec = F.udf(lambda a: Vectors.dense(a), VectorUDT())
    df = spark.createDataFrame(rows, "vid bigint, arr array<double>").select(
        "vid", to_vec("arr").alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="h", bucketLength=1.0, numHashTables=4, seed=7
    ).fit(df)
    pairs = model.approxSimilarityJoin(df, df, 0.01, distCol="d").filter(
        F.col("datasetA.vid") < F.col("datasetB.vid")
    )
    got = {(r["datasetA"]["vid"], r["datasetB"]["vid"]) for r in pairs.collect()}
    assert (0, 1000) in got


def test_salted_join_rejects_small_side_preserving_joins(spark):
    """right/full would emit unmatched small-side rows once per salt
    replica; the helper refuses rather than silently duplicating."""
    import pytest as _pytest

    from veri_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k int, v string")
    small = spark.createDataFrame([(1, "y"), (2, "z")], "k int, w string")
    for how in ("right", "full", "outer", "full_outer", "cross"):
        with _pytest.raises(ValueError):
            salted_join(big, small, ["k"], ["v"], buckets=4, how=how)
    # left join still works and does not duplicate
    out = salted_join(big, small, ["k"], ["v"], buckets=4, how="left").collect()
    assert len(out) == 1


# -- product quantization -----------------------------------------------------

def test_pq_roundtrip_and_recall(spark):
    """PQ encode/ADC on the embeddings fixture: codes compress dim->m ints,
    the plan stays map-only (no Exchange before the final top-k), and
    ADC top-10 recall vs exact euclidean is high at m=32,k=16 on 64-dim
    (the fixture is near-isotropic, so recall needs fine 2-dim subspaces;
    real text embeddings have correlated dims and do well at coarser m)."""
    from veri_spark.functions.vector import euclidean_distance
    from veri_spark.operators.similarity import (
        pq_adc_scores,
        pq_encode,
        pq_search,
        pq_train,
    )
    from veri_spark.operators.topk import topk
    from veri_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = pq_train(emb, m=32, k=16, seed=7)
    assert len(books) == 32 and len(books[0]) == 16 and len(books[0][0]) == 2

    enc = pq_encode(emb, books)
    row = enc.select("pq_code").first()
    assert len(row["pq_code"]) == 32
    assert all(0 <= c < 16 for c in row["pq_code"])

    q = emb.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    q = [float(x) for x in q]

    # map-only until the bounded top-k: no Exchange in the scoring plan
    scored = pq_adc_scores(pq_encode(emb, books), q, books)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    approx = pq_search(emb, q, books, n=10)
    got = [r["vec_id"] for r in approx.collect()]
    assert got[0] == 3  # self-match survives quantization at this setting

    exact = topk(
        emb.select("vec_id", euclidean_distance(F.col("embedding"), q).alias("score")),
        "score", 10, higher_is_better=False, tie_cols=["vec_id"],
    )
    truth = {r["vec_id"] for r in exact.collect()}
    recall = len(truth & set(got)) / 10.0
    assert recall >= 0.6, f"PQ recall@10 too low: {recall}"


def test_pq_encoded_corpus_reuse(spark):
    """A pre-encoded corpus (the 100 TB layout: codes persisted, floats
    left at rest) is scored without re-encoding: pq_search reuses pq_code."""
    from veri_spark.operators.similarity import pq_encode, pq_search, pq_train
    from veri_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = pq_train(emb, m=8, k=16, seed=7)
    enc = pq_encode(emb, books).select("vec_id", "pq_code").persist()
    q = [float(x) for x in emb.filter(F.col("vec_id") == 11).first()["embedding"]]
    got = pq_search(enc, q, books, n=5).collect()
    assert len(got) == 5
    assert got[0]["vec_id"] == 11
    enc.unpersist()


def test_pq_train_rejects_indivisible_dim(spark):
    from veri_spark.operators.similarity import pq_train
    from veri_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=7)


def test_knn_join_within_cell(spark):
    """knn_join: neighbors are exact WITHIN a cell, never cross cells."""
    from veri_spark.operators.similarity import knn_join

    # two well-separated clusters; centroids = first row of each
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [3.0, 0.0]),
        (10, [100.0, 100.0]), (11, [101.0, 100.0]), (12, [100.0, 103.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [(0, [0.0, 0.0]), (1, [100.0, 100.0])]
    out = knn_join(df, cents, k=2)
    got = {
        (r["src"], r["rank"]): (r["dst"], round(r["dist"], 6))
        for r in out.collect()
    }
    # src 0: nearest is 1 (d=1), then 2 (d=2) — 3 (d=3) cut by k=2
    assert got[(0, 1)] == (1, 1.0) and got[(0, 2)] == (2, 2.0)
    # cluster B never appears as a neighbor of cluster A
    assert all(dst >= 10 for (s, _), (dst, _) in got.items() if s >= 10)
    assert all(dst < 10 for (s, _), (dst, _) in got.items() if s < 10)
    # a 3-member cell yields exactly 2 neighbors per source
    assert sum(1 for (s, _) in got if s == 10) == 2


def test_knn_join_scores_rows_longer_than_the_centroids(spark):
    """knn_join unrolls its kernel to the centroids' length; a row longer
    than that is scored whole (min-length truncation of the pair, never
    of the row), so every distance equals the numpy one."""
    import math

    from veri_spark.operators.similarity import knn_join

    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0, 3.0]), (2, [0.0, 2.0, 5.0, 1.0]),
        (3, [1.0, 1.0, 1.0]), (4, [2.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {(r["src"], r["dst"]): r["dist"] for r in knn_join(df, [(0, [0.0, 0.0])], k=4).collect()}
    vec = dict(rows)
    assert len(got) == 20
    for (s, d), dist in got.items():
        assert dist == math.sqrt(sum((x - y) * (x - y) for x, y in zip(vec[s], vec[d])))


def test_kmeans_train_converges_on_separated_clusters(spark):
    """kmeans_train: on two well-separated blobs the centroids land on the
    blob means and early-stop fires before the iteration budget."""
    from veri_spark.operators.similarity import kmeans_train

    rows = [(i, [float(i % 5), 0.0]) for i in range(10)]            # blob A
    rows += [(100 + i, [100.0 + i % 5, 50.0]) for i in range(10)]   # blob B
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = dict(kmeans_train(df, k=2, iters=10))
    assert len(cents) == 2
    got = sorted(cents.values())
    assert got[0] == pytest.approx([2.0, 0.0])     # mean of 0..4 repeated
    assert got[1] == pytest.approx([102.0, 50.0])


def test_kmeans_train_keeps_empty_cluster_seed(spark):
    """A cluster that captures no vectors keeps its seed centroid."""
    from veri_spark.operators.similarity import kmeans_train

    # seeds are the 2 lowest-id vectors; vec 1 is strictly closer to vec 0's
    # seed than to its own for every point, starving cluster 1 immediately
    rows = [(0, [0.0, 0.0]), (1, [1000.0, 1000.0]),
            (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = dict(kmeans_train(df, k=2, iters=3))
    # cluster 1 holds only its seed vector, so it stays put
    assert cents[1] == pytest.approx([1000.0, 1000.0])
    assert cents[0] == pytest.approx([1.0 / 3, 1.0 / 3])


def test_kmeans_train_on_an_empty_frame(spark):
    """An empty frame has no seed: kmeans_train returns no centroid."""
    from veri_spark.operators.similarity import kmeans_train

    df = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert kmeans_train(df, k=2, iters=3) == []


@pytest.mark.parametrize("dup", [False, True])
def test_nearest_centroids_matches_spark_ranking(spark, dup):
    """nearest_centroids orders the ids as Spark ranks euclidean_distance
    (ascending, ties on the lower id): on random centroids, and on
    duplicated vectors under different ids, whose distances tie."""
    import random

    from veri_spark.functions.vector import euclidean_distance
    from veri_spark.operators.similarity import nearest_centroids

    rng = random.Random(11)
    cents = [(cid, [rng.uniform(-1, 1) for _ in range(6)]) for cid in range(12)]
    if dup:
        cents += [(cid + 100, vec) for cid, vec in cents[::2]]
    rng.shuffle(cents)
    frame = spark.createDataFrame(cents, "centroid_id bigint, centroid_vec array<double>")
    for q in ([rng.uniform(-1, 1) for _ in range(6)], cents[0][1], [0.5] * 4):
        spark_order = [
            r["centroid_id"]
            for r in frame.withColumn("d", euclidean_distance(F.col("centroid_vec"), q))
            .orderBy(F.col("d").asc(), F.col("centroid_id").asc())
            .collect()
        ]
        assert nearest_centroids(cents, q) == spark_order


def test_ivf_assign_broadcast_fallback_is_the_nearest_centroid(spark):
    """Past INLINE_CENTROIDS_MAX centroids ivf_assign takes the broadcast
    join: each vector gets its numpy nearest centroid, ties on the lower
    id (integer coordinates keep every distance exact, and the 3^3 grid
    forces duplicated centroids)."""
    import random

    import numpy as np

    from veri_spark.operators.similarity import INLINE_CENTROIDS_MAX, ivf_assign

    rng = random.Random(5)
    cents = [
        (cid, [float(rng.randint(0, 2)) for _ in range(3)])
        for cid in range(INLINE_CENTROIDS_MAX + 4)
    ]
    rng.shuffle(cents)
    rows = [(i, [float(rng.randint(-1, 3)) for _ in range(3)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(df, cents).collect()}
    ids = np.array([cid for cid, _ in cents])
    mat = np.array([vec for _, vec in cents])
    for vid, vec in rows:
        d = np.sqrt(((mat - np.array(vec)) ** 2).sum(axis=1))
        assert got[vid] == ids[d == d.min()].min()


def test_multiprobe_recall_monotone(spark):
    """knn_join_recall_audit's two-probe recall must be >= single-probe
    recall (probing a second cell can only ADD candidate pairs — the
    recall lever must never hurt)."""
    from veri_spark.plans.registry import QUERIES

    r = QUERIES["knn_join_recall_audit"](
        spark, "/root/testdata/sf0.001"
    ).first()
    assert r["recall_nprobe2"] >= r["recall_nprobe1"]
    assert 0.0 <= r["recall_nprobe1"] <= 1.0
    assert r["n_exact"] > 0
