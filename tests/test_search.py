"""Search-pipeline semantics: golden-style KNN, grouped top-k, group reduce,
context re-scoring, dedup keep-best, JSON filters — mirroring the
reference's end-to-end tests (data/data_test.go:17-135, FIXTURES.md 2/6).
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from veri_spark.operators.search import (
    SearchConfig,
    aggregated_search,
    context_rescore,
    group_reduce,
    json_path_filter,
    multi_search,
    score_corpus,
    search,
    ttl_filter,
)


def test_golden_knn_rank_order(spark, tiny_datums):
    """Mirror of the golden assertion shape (data/data_test.go:125-135):
    query with row a's own vector -> rank 0 is the row itself."""
    out = search(
        tiny_datums,
        [0.1, 0.2, 0.3],
        SearchConfig(score_func="VectorDistance", limit=3),
        id_cols=["label"],
    ).collect()
    assert [r["label"] for r in out] == ["a", "b", "c"]
    # feature is stored float32; the double query literal differs by the
    # float32 quantization error
    assert out[0]["score"] == pytest.approx(0.0, abs=1e-6)


def test_golden_planted_neighbor(spark):
    """FIXTURES.md section 2: planted exact duplicate (rank 0) and near
    neighbor (rank 1) among well-separated rows."""
    import random

    rng = random.Random(7)
    dim = 16
    q = [rng.uniform(-1, 1) for _ in range(dim)]
    near = [x + 0.001 for x in q]
    rows = [(q, "query_dup", "g", 0), (near, "near", "g", 0)]
    for i in range(48):
        rows.append(([rng.uniform(5, 9) for _ in range(dim)], f"far{i}", "g", 0))
    df = spark.createDataFrame(
        rows, "feature array<float>, label string, group_label string, version bigint"
    )
    out = search(
        df, q, SearchConfig(score_func="AngularDistance", higher_is_better=True, limit=10),
        id_cols=["label"],
    ).collect()
    assert len(out) == 10
    assert out[0]["label"] == "query_dup"
    assert out[1]["label"] == "near"


def test_multi_search_per_query_topk(spark, tiny_datums):
    queries = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3]), (1, [0.2, 0.3, 0.7])],
        "query_id int, query_vector array<float>",
    )
    out = multi_search(
        tiny_datums, queries, SearchConfig(score_func="VectorDistance", limit=1),
        id_cols=["label"],
    ).collect()
    best = {r["query_id"]: r["label"] for r in out}
    assert best == {0: "a", 1: "c"}


def test_group_reduce_formula(spark):
    """K10: lower-is-better group score = sum(scores)/len^2; representative
    = the group's best row (data/aggregator.go:155-180)."""
    rows = [
        ("g1", "x", 1.0),
        ("g1", "y", 3.0),
        ("g2", "z", 2.0),
    ]
    scored = spark.createDataFrame(rows, "group_label string, label string, score double")
    cfg = SearchConfig(score_func="VectorDistance", group_limit=2, result_limit=5)
    out = {
        r["group_label"]: r
        for r in group_reduce(scored, cfg, id_cols=["label"]).collect()
    }
    assert out["g1"]["group_score"] == pytest.approx(4.0 / 4)  # (1+3)/2^2
    assert out["g1"]["label"] == "x"  # best (lowest) row is the representative
    assert out["g2"]["group_score"] == pytest.approx(2.0 / 1)
    assert out["g1"]["group_size"] == 2


def test_group_reduce_higher_is_better_sum(spark):
    rows = [("g1", "x", 0.9), ("g1", "y", 0.8)]
    scored = spark.createDataFrame(rows, "group_label string, label string, score double")
    cfg = SearchConfig(score_func="CosineSimilarity", group_limit=2)
    out = group_reduce(scored, cfg, id_cols=["label"]).collect()[0]
    assert out["group_score"] == pytest.approx(1.7)  # plain sum when higher=better
    assert out["label"] == "x"


def test_context_rescore_min_and_prioritize(spark, tiny_datums):
    cfg = SearchConfig(score_func="VectorDistance")
    scored = score_corpus(tiny_datums, [0.1, 0.2, 0.3], cfg)
    ctx = [[0.2, 0.3, 0.7]]
    # best-of(original, context)
    out = {r["label"]: r["score"] for r in context_rescore(scored, ctx, cfg).collect()}
    # float32 storage vs double literals: zero up to quantization error
    assert out["c"] == pytest.approx(0.0, abs=1e-6)  # c matches the context vector
    assert out["a"] == pytest.approx(0.0, abs=1e-6)  # a keeps its original self-match
    # prioritize=True ignores the original score entirely (proto:44)
    out2 = {
        r["label"]: r["score"]
        for r in context_rescore(scored, ctx, cfg, prioritize=True).collect()
    }
    assert out2["a"] == pytest.approx(math.sqrt(0.01 + 0.01 + 0.16), rel=1e-6)


def test_aggregated_search_dedup_keeps_best(spark, tiny_datums):
    doubled = tiny_datums.unionByName(tiny_datums)
    out = aggregated_search(
        doubled, [0.1, 0.2, 0.3], SearchConfig(limit=10), key_cols=["label"]
    ).collect()
    assert len(out) == 3  # duplicates collapsed, best kept


def test_json_path_filters(spark):
    """FIXTURES.md section 6: present/nested/absent paths, non-JSON rows."""
    rows = [
        (1, '{"category":"news","tier":{"name":"gold"}}'),
        (2, '{"category":"spam"}'),
        (3, "not json at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id int, label string")
    assert {r["id"] for r in json_path_filter(df, "label", ["category"]).collect()} == {1, 2}
    assert {r["id"] for r in json_path_filter(df, "label", ["tier.name"]).collect()} == {1}
    assert json_path_filter(df, "label", ["missing"]).count() == 0
    assert {
        r["id"] for r in json_path_filter(df, "label", ["category", "tier.name"]).collect()
    } == {1}


def test_ttl_filter(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "2000-01-01 00:00:00"), (3, "2999-01-01 00:00:00")],
        "id int, expire_at string",
    ).withColumn("expire_at", F.col("expire_at").cast("timestamp"))
    assert {r["id"] for r in ttl_filter(df).collect()} == {1, 3}


# ---------------------------------------------------------------------------
# Golden KNN parity with the reference's news-embedding fixture
# (data/data_test.go:110-135): the loader holds OUT row 0 as the query (it is
# never inserted, data_test.go:85-89); angular distance, higher-is-better,
# k=10 -> rank 1 is the known golden title. The reference asserts this through
# its Annoy index; the exact path agrees because Annoy re-scores candidates
# with the requested score function.
# ---------------------------------------------------------------------------

NEWS_FIXTURE = "/root/reference/data/testdata/news_title_embdeddings.json"


@pytest.mark.skipif(
    not os.path.exists(NEWS_FIXTURE), reason="reference fixture not present"
)
def test_golden_news_rank1(spark):
    from veri_spark.sources.catalog import load_json_lines

    news = load_json_lines(spark, NEWS_FIXTURE)
    assert news.count() == 50
    query_title = (
        "The Brands Queen Elizabeth, Prince Charles, and Prince Philip Swear By"
    )
    q_row = news.filter(F.col("label") == query_title).first()
    corpus = news.filter(F.col("label") != query_title)  # loader holds out row 0
    cfg = SearchConfig(score_func="AngularDistance", limit=10)
    out = search(
        corpus, [float(x) for x in q_row["feature"]], cfg,
        vector_col="feature", id_cols=["label"],
    ).collect()
    assert len(out) == 10
    assert out[1]["label"] == "Every outfit Duchess Kate has worn in 2019"


def test_topk_deterministic_under_ties(spark):
    """Determinism where the reference disclaims it (README.md:22): equal
    scores break ties on the stable id column, so reruns and repartitions
    return byte-identical rankings."""
    rows = [([1.0, 0.0], "g", f"t{i}", 0) for i in range(20)]  # all equidistant
    df = spark.createDataFrame(
        rows, "feature array<float>, group_label string, label string, version bigint"
    )
    cfg = SearchConfig(score_func="VectorDistance", limit=5)
    runs = [
        [r["label"] for r in search(
            df.repartition(p), [0.0, 0.0], cfg, vector_col="feature", id_cols=["label"]
        ).collect()]
        for p in (1, 7, 32)
    ]
    expected = sorted(f"t{i}" for i in range(20))[:5]  # lexicographic tie-break
    assert runs[0] == runs[1] == runs[2] == expected


def test_pluggable_group_score_functions(spark):
    """GroupScoreFuncName is declared-but-dead in the reference (proto:35);
    here the declared semantics work: named group reduces over the same
    grouped top-k."""
    rows = [("g1", "x", 1.0), ("g1", "y", 3.0), ("g2", "z", 2.0)]
    scored = spark.createDataFrame(rows, "group_label string, label string, score double")

    def reduce_with(name):
        cfg = SearchConfig(
            score_func="VectorDistance", group_limit=2, group_score_func=name
        )
        return {
            r["group_label"]: r["group_score"]
            for r in group_reduce(scored, cfg, id_cols=["label"]).collect()
        }

    assert reduce_with("")["g1"] == pytest.approx(1.0)        # (1+3)/4 default
    assert reduce_with("sum")["g1"] == pytest.approx(4.0)
    assert reduce_with("mean")["g1"] == pytest.approx(2.0)
    assert reduce_with("best")["g1"] == pytest.approx(1.0)    # lower is better
    assert reduce_with("sum_over_n2")["g2"] == pytest.approx(2.0)


def test_multi_search_with_context(spark, tiny_datums):
    """K12 in the multi-query merge (data/search.go:277-294): context
    vectors re-score every per-query result before top-k."""
    queries = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3])], "query_id int, query_vector array<float>"
    )
    ctx = [[0.2, 0.3, 0.7]]
    out = {
        r["label"]: r["score"]
        for r in multi_search(
            tiny_datums, queries, SearchConfig(score_func="VectorDistance", limit=3),
            id_cols=["label"], context_vectors=ctx,
        ).collect()
    }
    # row c matches the context vector exactly -> its distance drops to ~0
    assert out["c"] == pytest.approx(0.0, abs=1e-6)
    assert out["a"] == pytest.approx(0.0, abs=1e-6)  # keeps its self-match


def test_null_feature_ranks_last(spark):
    """A null feature vector yields a null score; it must never outrank a
    real match (Spark's bare asc() is NULLS FIRST — regression guard)."""
    df = spark.createDataFrame(
        [([0.1, 0.2], "ok"), (None, "null_feature")],
        "feature array<float>, label string",
    )
    out = search(df, [0.1, 0.2], SearchConfig(limit=2), id_cols=["label"]).collect()
    assert [r["label"] for r in out] == ["ok", "null_feature"]
    hib = search(
        df, [0.1, 0.2],
        SearchConfig(score_func="CosineSimilarity", limit=2), id_cols=["label"],
    ).collect()
    assert hib[0]["label"] == "ok"


@pytest.mark.skipif(
    not os.path.exists(NEWS_FIXTURE), reason="reference fixture not present"
)
def test_golden_news_ann_path(spark):
    """ANN-path golden parity (data/data_test.go:125-135): the reference's
    golden assertion runs THROUGH Annoy (AnnoyAngularDistance). Here the
    approximate path is IVF; with the configured angular scoring threaded
    into the probe (data/search.go:311-327) the golden rank-1 title is
    recovered and recall@10 vs the exact ranking is >= 0.9."""
    from veri_spark.operators.similarity import (
        ivf_assign,
        ivf_search_assigned,
        kmeans_centroids,
    )
    from veri_spark.functions.vector import angular_distance
    from veri_spark.sources.catalog import load_json_lines

    news = load_json_lines(spark, NEWS_FIXTURE)
    query_title = (
        "The Brands Queen Elizabeth, Prince Charles, and Prince Philip Swear By"
    )
    q = [float(x) for x in news.filter(F.col("label") == query_title).first()["feature"]]
    corpus = news.filter(F.col("label") != query_title)

    exact = search(
        corpus, q, SearchConfig(score_func="AngularDistance", limit=10),
        vector_col="feature", id_cols=["label"],
    ).collect()
    exact_titles = [r["label"] for r in exact]

    # KMeans-seeded centroids (the production seeding, similarity.py) — on a
    # 49-vector fixture the buckets are tiny, so a wide probe (6 of 8) is the
    # right operating point; the large-N recall contracts live in
    # test_skew_and_recall.py.
    cents = kmeans_centroids(corpus, 8, vector_col="feature", seed=42)
    assigned = ivf_assign(corpus, cents, id_col="label", vector_col="feature")
    approx = ivf_search_assigned(
        assigned, cents, q, k=10, nprobe=6, id_col="label", vector_col="feature",
        score_builder=angular_distance, higher_is_better=True,
    ).collect()
    approx_titles = [r["label"] for r in approx]

    recall = len(set(exact_titles) & set(approx_titles)) / 10
    assert recall >= 0.9, f"recall@10={recall}: {approx_titles}"
    assert approx_titles[1] == "Every outfit Duchess Kate has worn in 2019"

