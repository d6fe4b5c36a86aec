"""KNN / ANN search, kNN join, re-ranking, and index audits (K1-K13, K2 variants).

Split from the original single-module registry (round-5 hygiene);
every (PySpark program, DuckDB oracle) pair is unchanged and
registers into ``plans._base.QUERIES``/``ORACLES`` at import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions import vector as V  # noqa: F401
from veri_spark.operators import search as S  # noqa: F401
from veri_spark.operators import stats as ST  # noqa: F401
from veri_spark.operators.topk import (  # noqa: F401
    dedup_keep_best,
    topk,
    topk_per_group,
)
from veri_spark.sources.catalog import load_table  # noqa: F401

from veri_spark.plans._base import (  # noqa: F401
    _DD_CENTROIDS,
    _DD_CENTROID_DIST,
    _DD_SHINGLES,
    _DD_SPLIT_SHINGLES,
    _DD_TOKS,
    _PQ_K,
    _PQ_M,
    _PQ_SUB,
    _Q0,
    _REV_DEC,
    _dd_l1,
    _dd_subdist,
    _knn,
    _minhash_seed_values,
    _query_vector,
    _rev_dec,
    _round_half_up,
    register,
)




@register(
    "knn_euclidean",
    f"""
    SELECT vec_id, ROUND(list_distance(embedding::DOUBLE[], {_Q0}), 6) AS score
    FROM embeddings ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def knn_euclidean(spark, sf_dir):
    """K1+K3+K4: brute-force euclidean top-k (VectorDistance, data/util.go:39-43)."""
    return _knn(spark, sf_dir, "VectorDistance")



@register(
    "knn_cosine",
    f"""
    SELECT vec_id,
           ROUND(LEAST(GREATEST(list_cosine_similarity(embedding::DOUBLE[], {_Q0}), -1.0), 1.0), 6) AS score
    FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def knn_cosine(spark, sf_dir):
    """K4: CosineSimilarity top-k (data/util.go:61-96; clamped to [-1,1])."""
    return _knn(spark, sf_dir, "CosineSimilarity")



@register(
    "knn_l1",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    s AS (SELECT e.vec_id, {_dd_l1('e.embedding', 'q.qe')} AS d FROM embeddings e, q)
    SELECT vec_id, ROUND(d, 6) AS score
    FROM s ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def knn_l1(spark, sf_dir):
    """K4: QuickVectorDistance = L1 (data/util.go:28-36)."""
    return _knn(spark, sf_dir, "QuickVectorDistance")



@register(
    "knn_dot",
    f"""
    SELECT vec_id, ROUND(list_inner_product(embedding::DOUBLE[], {_Q0}), 6) AS score
    FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def knn_dot(spark, sf_dir):
    """K4: VectorMultiplication = dot product, higher is better (data/util.go:46-53)."""
    return _knn(spark, sf_dir, "VectorMultiplication")



@register(
    "knn_angular",
    f"""
    SELECT vec_id,
           ROUND(1.0 - acos(LEAST(GREATEST(list_cosine_similarity(embedding::DOUBLE[], {_Q0}), -1.0), 1.0)) / pi(), 6) AS score
    FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def knn_angular(spark, sf_dir):
    """K4: AngularDistance = 1 - acos(cos)/pi (data/util.go:56-58)."""
    return _knn(spark, sf_dir, "AngularDistance")



@register(
    "knn_multi_query",
    """
    WITH s AS (
      SELECT q.vec_id AS query_id, e.vec_id,
             LEAST(GREATEST(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), -1.0), 1.0) AS sc
      FROM embeddings e
      CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)) q
    ), r AS (
      SELECT query_id, vec_id, sc,
             row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, vec_id ASC) AS rn
      FROM s
    )
    SELECT query_id, vec_id, ROUND(sc, 6) AS score FROM r WHERE rn <= 5
    """,
)
def knn_multi_query(spark, sf_dir):
    """K7: multi-query fan-out (data/search.go:254-298) as a broadcast join
    of the query set against the corpus + per-query top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id").isin(0, 1, 2))
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector"))
    )
    cfg = S.SearchConfig(score_func="CosineSimilarity", limit=5)
    out = S.multi_search(
        emb, queries, cfg, vector_col="embedding", id_cols=["vec_id"]
    )
    return out.select("query_id", "vec_id", F.round("score", 6).alias("score"))



@register(
    "knn_grouped_topk",
    f"""
    WITH s AS (
      SELECT label, vec_id,
             LEAST(GREATEST(list_cosine_similarity(embedding::DOUBLE[], {_Q0}), -1.0), 1.0) AS sc
      FROM embeddings
    ), r AS (
      SELECT label, vec_id, sc,
             row_number() OVER (PARTITION BY label ORDER BY sc DESC, vec_id ASC) AS rnk
      FROM s
    )
    SELECT label, vec_id, ROUND(sc, 6) AS score, rnk FROM r WHERE rnk <= 3
    """,
)
def knn_grouped_topk(spark, sf_dir):
    """K9: per-group top-k (group_limit, data/aggregator.go:105-117)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    cfg = S.SearchConfig(score_func="CosineSimilarity")
    scored = S.score_corpus(emb, q, cfg, vector_col="embedding")
    out = topk_per_group(
        scored, ["label"], "score", 3, higher_is_better=True,
        tie_cols=["vec_id"], rank_col="rnk",
    )
    return out.select("label", "vec_id", F.round("score", 6).alias("score"), "rnk")



@register(
    "knn_group_scored",
    f"""
    WITH s AS (
      SELECT label, vec_id, list_distance(embedding::DOUBLE[], {_Q0}) AS sc
      FROM embeddings
    ), r AS (
      SELECT label, vec_id, sc,
             row_number() OVER (PARTITION BY label ORDER BY sc ASC, vec_id ASC) AS rn
      FROM s
    ), l AS (SELECT * FROM r WHERE rn <= 3)
    SELECT label, arg_min(vec_id, rn) AS vec_id,
           ROUND(SUM(sc) / (COUNT(*) * COUNT(*)), 6) AS group_score,
           COUNT(*) AS group_size
    FROM l GROUP BY label
    ORDER BY group_score ASC, label ASC LIMIT 5
    """,
)
def knn_group_scored(spark, sf_dir):
    """K10+K11: group reduce — representative = best row, group score =
    sum/len^2 for lower-is-better (data/aggregator.go:155-180)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    cfg = S.SearchConfig(score_func="VectorDistance", group_limit=3, result_limit=5)
    scored = S.score_corpus(emb, q, cfg, vector_col="embedding")
    out = S.group_reduce(scored, cfg, group_col="label", id_cols=["vec_id"])
    return out.select(
        "label", "vec_id", F.round("group_score", 6).alias("group_score"), "group_size"
    )



@register(
    "knn_context_rescore",
    """
    WITH q0 AS (SELECT embedding::DOUBLE[] e FROM embeddings WHERE vec_id = 0),
         c1 AS (SELECT embedding::DOUBLE[] e FROM embeddings WHERE vec_id = 1),
         c2 AS (SELECT embedding::DOUBLE[] e FROM embeddings WHERE vec_id = 2)
    SELECT vec_id,
           ROUND(LEAST(list_distance(embedding::DOUBLE[], (SELECT e FROM q0)),
                       list_distance(embedding::DOUBLE[], (SELECT e FROM c1)),
                       list_distance(embedding::DOUBLE[], (SELECT e FROM c2))), 6) AS score
    FROM embeddings ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def knn_context_rescore(spark, sf_dir):
    """K12: context re-scoring — score becomes the best of the original and
    each context distance (data/aggregator.go:56-76)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    c1 = _query_vector(spark, sf_dir, 1)
    c2 = _query_vector(spark, sf_dir, 2)
    cfg = S.SearchConfig(score_func="VectorDistance", limit=10)
    out = S.aggregated_search(
        emb, q, cfg, context_vectors=[c1, c2], vector_col="embedding",
        key_cols=["vec_id"],
    )
    return out.select("vec_id", F.round("score", 6).alias("score"))



@register(
    "knn_dedup_best",
    f"""
    WITH q5 AS (SELECT embedding::DOUBLE[] e FROM embeddings WHERE vec_id = 5),
    u AS (
      SELECT vec_id, list_distance(embedding::DOUBLE[], {_Q0}) AS sc FROM embeddings
      UNION ALL
      SELECT vec_id, list_distance(embedding::DOUBLE[], (SELECT e FROM q5)) AS sc FROM embeddings
    )
    SELECT vec_id, ROUND(MIN(sc), 6) AS score
    FROM u GROUP BY vec_id ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def knn_dedup_best(spark, sf_dir):
    """K8: merge results from two searches, dedup on key keeping the best
    score (data/aggregator.go:118-134)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q0 = _query_vector(spark, sf_dir, 0)
    q5 = _query_vector(spark, sf_dir, 5)
    cfg = S.SearchConfig(score_func="VectorDistance")
    merged = S.score_corpus(emb, q0, cfg, vector_col="embedding").unionByName(
        S.score_corpus(emb, q5, cfg, vector_col="embedding")
    )
    best = dedup_keep_best(merged, ["vec_id"], "score", higher_is_better=False)
    out = topk(best, "score", 10, higher_is_better=False, tie_cols=["vec_id"])
    return out.select("vec_id", F.round("score", 6).alias("score"))



# -- K10 GroupScoreFuncName: the proto DECLARES a pluggable group-reduce
# (veriservice.proto:35) that the reference never reads (its aggregator
# hardcodes One() = sum | sum/n^2, data/aggregator.go:155-180). SURVEY
# section 2.7 commits to implementing the DECLARED semantics: each reduce
# below is one oracle-paired query through the same group_reduce operator
# (operators/search.py), differing only in config.group_score_func. All
# four share the plan shape of `knn_group_scored`: map-only scoring, one
# partitioned-window top-3 per label, one 4-group aggregate, bounded
# final top-5 — the group sums span exactly 3 doubles, so the 6-dp
# rounded score is stable across engine fold orders (the knn_group_scored
# precedent, green since round 1).

def _dd_group_reduce_sql(score_expr: str) -> str:
    return f"""
    WITH s AS (
      SELECT label, vec_id,
             LEAST(GREATEST(list_cosine_similarity(embedding::DOUBLE[], {_Q0}), -1.0), 1.0) AS sc
      FROM embeddings
    ), r AS (
      SELECT label, vec_id, sc,
             row_number() OVER (PARTITION BY label ORDER BY sc DESC, vec_id ASC) AS rn
      FROM s
    ), l AS (SELECT * FROM r WHERE rn <= 3)
    SELECT label, arg_min(vec_id, rn) AS vec_id,
           ROUND({score_expr}, 6) AS group_score,
           COUNT(*) AS group_size
    FROM l GROUP BY label
    ORDER BY {score_expr} DESC, label ASC LIMIT 5
    """


def _group_reduce_query(spark, sf_dir, func: str):
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    cfg = S.SearchConfig(
        score_func="CosineSimilarity",
        group_limit=3,
        result_limit=5,
        group_score_func=func,
    )
    scored = S.score_corpus(emb, q, cfg, vector_col="embedding")
    out = S.group_reduce(scored, cfg, group_col="label", id_cols=["vec_id"])
    return out.select(
        "label",
        "vec_id",
        F.round("group_score", 6).alias("group_score"),
        "group_size",
    )


@register("knn_group_reduce_sum", _dd_group_reduce_sql("SUM(sc)"))
def knn_group_reduce_sum(spark, sf_dir):
    """K10 GroupScoreFuncName='sum': group score = plain score sum (what
    the reference's One() does for higher-is-better scores, here selected
    EXPLICITLY through the declared knob)."""
    return _group_reduce_query(spark, sf_dir, "sum")


@register(
    "knn_group_reduce_mean", _dd_group_reduce_sql("SUM(sc) / COUNT(*)")
)
def knn_group_reduce_mean(spark, sf_dir):
    """K10 GroupScoreFuncName='mean': size-normalized group score — the
    reduce that stops 3-member groups from outranking 1-member groups on
    volume alone. SUM/COUNT in both engines (not AVG) so the division is
    the same single operation."""
    return _group_reduce_query(spark, sf_dir, "mean")


@register("knn_group_reduce_best", _dd_group_reduce_sql("MAX(sc)"))
def knn_group_reduce_best(spark, sf_dir):
    """K10 GroupScoreFuncName='best': group score = the representative's
    own score (max for higher-is-better) — rank groups purely by their
    best member; order-insensitive, exact in any fold order."""
    return _group_reduce_query(spark, sf_dir, "best")


@register(
    "knn_group_reduce_sum_n2",
    _dd_group_reduce_sql("SUM(sc) / (COUNT(*) * COUNT(*))"),
)
def knn_group_reduce_sum_n2(spark, sf_dir):
    """K10 GroupScoreFuncName='sum_over_n2': the reference One() formula
    for lower-is-better scores, applied EXPLICITLY to a higher-is-better
    score — a strong small-group preference (penalizes group mass
    quadratically), selectable only through the declared knob."""
    return _group_reduce_query(spark, sf_dir, "sum_over_n2")


@register(
    "ann_ivf_assign",
    f"""
    WITH d AS (
      SELECT e.vec_id, c.centroid_id,
             list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
      FROM embeddings e CROSS JOIN {_DD_CENTROIDS} c
    ), r AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    )
    SELECT vec_id, centroid_id FROM r WHERE rn = 1
    """,
)
def ann_ivf_assign(spark, sf_dir):
    """IVF index build: assign every vector to its nearest centroid."""
    from veri_spark.operators.similarity import ivf_assign, take_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = take_centroids(emb, 8)
    return ivf_assign(emb, cents).select("vec_id", "centroid_id")



@register(
    "ann_ivf_search",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    cd AS (SELECT c.centroid_id, list_distance(c.cvec, q.qe) AS qd
           FROM {_DD_CENTROIDS} c, q),
    probe AS (SELECT centroid_id FROM cd ORDER BY qd ASC, centroid_id ASC LIMIT 2),
    d AS (
      SELECT e.vec_id, c.centroid_id,
             list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
      FROM embeddings e CROSS JOIN {_DD_CENTROIDS} c
    ), r AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    ), assigned AS (SELECT vec_id, centroid_id FROM r WHERE rn = 1),
    cand AS (SELECT a.vec_id FROM assigned a JOIN probe p ON a.centroid_id = p.centroid_id)
    SELECT e.vec_id, ROUND(list_distance(e.embedding::DOUBLE[], q.qe), 6) AS score
    FROM embeddings e JOIN cand USING (vec_id), q
    ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def ann_ivf_search(spark, sf_dir):
    """IVF probe search: 2 nearest centroid partitions, exact top-10 within."""
    from veri_spark.operators.similarity import ivf_search, take_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = take_centroids(emb, 8)
    q = _query_vector(spark, sf_dir, 0)
    out = ivf_search(emb, cents, q, k=10, nprobe=2)
    return out.select("vec_id", F.round("score", 6).alias("score"))



@register(
    "ann_lsh_signature",
    """
    WITH planes AS (
      SELECT p.plane, pos.pos,
             CASE WHEN CAST('0x' || substr(md5(p.plane::VARCHAR || '|' || pos.pos::VARCHAR), 1, 15) AS BIGINT) % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS w
      FROM (SELECT unnest(range(0, 16)) AS plane) p
      CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) pos
    ),
    elems AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings),
    dots AS (SELECT e.vec_id, pl.plane, SUM(e.v * pl.w) AS dot
             FROM elems e JOIN planes pl ON e.pos = pl.pos
             GROUP BY e.vec_id, pl.plane)
    SELECT vec_id,
           SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << plane) ELSE 0::BIGINT END)::BIGINT AS sig
    FROM dots GROUP BY vec_id
    """,
)
def ann_lsh_signature(spark, sf_dir):
    """Random-hyperplane LSH signatures (16 planes, angular buckets)."""
    from veri_spark.operators.similarity import lsh_hyperplane_signature

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_hyperplane_signature(emb, dim=64, planes=16)



# ---------------------------------------------------------------------------
# Batch 4: as-of join, sliding windows, quantiles, multi-join, prefiltered
# KNN, multimodal decode — extension surface (SURVEY.md sections 2.5/2.6)
# ---------------------------------------------------------------------------

@register(
    "knn_prefiltered",
    f"""
    SELECT vec_id,
           ROUND(LEAST(GREATEST(list_cosine_similarity(embedding::DOUBLE[], {_Q0}), -1.0), 1.0), 6) AS score
    FROM embeddings WHERE label % 2 = 0
    ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def knn_prefiltered(spark, sf_dir):
    """F1/F2-in-the-KNN-pipeline: predicate applied BEFORE scoring, so it
    pushes to the parquet scan (the reference filters candidates inside the
    search loop, data/search.go:363-374; declaratively the filter belongs
    under the scan and Catalyst puts it there)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("label") % 2 == 0)
    q = _query_vector(spark, sf_dir, 0)
    cfg = S.SearchConfig(score_func="CosineSimilarity", limit=10)
    out = S.search(emb, q, cfg, vector_col="embedding", id_cols=["vec_id"])
    return out.select("vec_id", F.round("score", 6).alias("score"))



@register(
    "ann_lsh_bucket_join",
    """
    WITH planes AS (
      SELECT p.plane, pos.pos,
             CASE WHEN CAST('0x' || substr(md5(p.plane::VARCHAR || '|' || pos.pos::VARCHAR), 1, 15) AS BIGINT) % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS w
      FROM (SELECT unnest(range(0, 16)) AS plane) p
      CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) pos
    ),
    elems AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings),
    dots AS (SELECT e.vec_id, pl.plane, SUM(e.v * pl.w) AS dot
             FROM elems e JOIN planes pl ON e.pos = pl.pos
             GROUP BY e.vec_id, pl.plane),
    sigs AS (SELECT vec_id,
                    SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << plane) ELSE 0::BIGINT END)::BIGINT AS sig
             FROM dots GROUP BY vec_id),
    bands AS (SELECT vec_id, b.band, (sig >> (b.band * 8)) & 255 AS bv
              FROM sigs CROSS JOIN (SELECT unnest(range(0, 2)) AS band) b),
    pairs AS (SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b
              FROM bands a JOIN bands bb
                ON a.band = bb.band AND a.bv = bb.bv AND a.vec_id < bb.vec_id)
    SELECT id_a, id_b,
           ROUND(LEAST(GREATEST(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), -1.0), 1.0), 6) AS cosine
    FROM pairs
    JOIN embeddings ea ON id_a = ea.vec_id
    JOIN embeddings eb ON id_b = eb.vec_id
    ORDER BY cosine DESC, id_a ASC, id_b ASC LIMIT 20
    """,
)
def ann_lsh_bucket_join(spark, sf_dir):
    """Similarity JOIN at scale: LSH-banded candidate generation (linear, no
    all-pairs) + exact cosine re-scoring of candidates only. The band table
    never carries vectors; embeddings re-join on the candidate ids. Two
    8-bit bands: 256 buckets per band keeps the candidate count ~30x lower
    than 4-bit bands at similar near-duplicate recall."""
    from veri_spark.operators.similarity import lsh_banded_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = lsh_banded_pairs(emb, dim=64, planes=16, bands=2)
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    scored = (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cosine", V.cosine_similarity(F.col("__va"), F.col("__vb")))
    )
    out = topk(scored, "cosine", 20, higher_is_better=True, tie_cols=["id_a", "id_b"])
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))



@register(
    "ann_ivf_multi_query",
    """
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings ORDER BY vec_id ASC LIMIT 16
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding,
             arg_min(c.cid, list_distance(e.embedding::DOUBLE[], c.cvec)) AS centroid_id
      FROM embeddings e CROSS JOIN cents c
      GROUP BY e.vec_id, e.embedding
    ),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
          FROM embeddings WHERE vec_id IN (0, 1, 2)),
    probes AS (
      SELECT query_id, cid AS centroid_id FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY list_distance(q.qvec, c.cvec) ASC, c.cid ASC) AS pr
        FROM q CROSS JOIN cents c
      ) WHERE pr <= 2
    ),
    cand AS (
      SELECT p.query_id, a.vec_id,
             list_distance(a.embedding::DOUBLE[], q.qvec) AS d
      FROM probes p
      JOIN assigned a ON a.centroid_id = p.centroid_id
      JOIN q ON q.query_id = p.query_id
    )
    SELECT query_id, vec_id, ROUND(d, 6) AS score, rnk FROM (
      SELECT query_id, vec_id, d,
             row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id ASC) AS rnk
      FROM cand
    ) WHERE rnk <= 5
    """,
)
def ann_ivf_multi_query(spark, sf_dir):
    """Batch ANN join (K7's scale path): per-query IVF probing — each query
    meets only its probed centroid buckets, never the whole corpus."""
    from veri_spark.operators.similarity import ivf_multi_search, take_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    cents = take_centroids(emb, 16)
    out = ivf_multi_search(emb, cents, queries, k=5, nprobe=2)
    return out.select("query_id", "vec_id", F.round("score", 6).alias("score"), "rnk")



@register(
    "ann_pq_adc",
    f"""
    WITH cb AS (SELECT vec_id::INT AS c, embedding::DOUBLE[] AS e
                FROM embeddings WHERE vec_id < {_PQ_K}),
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    subd AS (
      SELECT r.vec_id, j.j, cb.c, {_dd_subdist('r.e', 'cb.e', 'j.j')} AS d
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) r
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS j) j
      CROSS JOIN cb
    ),
    enc AS (
      SELECT vec_id, j, c FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        FROM subd) WHERE rn = 1
    ),
    adc AS (
      SELECT enc.vec_id, SUM({_dd_subdist('q.qe', 'cb.e', 'enc.j')}) AS score
      FROM enc JOIN cb ON enc.c = cb.c CROSS JOIN q
      GROUP BY enc.vec_id
    )
    SELECT vec_id, ROUND(score, 6) AS score
    FROM adc ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def ann_pq_adc(spark, sf_dir):
    """Product-quantization ADC top-10 (K2's memory-scale companion — the
    reference holds full float vectors in its Annoy index per node,
    annoyindex/; PQ stores m one-byte codes instead, 32x smaller at
    d=64/m=8). Codebooks and the query LUT enter the plan as literals, so
    encode + ADC are map-only over the corpus — zero shuffles before the
    bounded top-k. Codebooks here are the first-16-rows convention so the
    DuckDB oracle can replicate them; pq_train fits real KMeans books."""
    from veri_spark.operators.similarity import pq_adc_scores, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    head = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .select("vec_id", "embedding")
        .collect()
    )
    by_id = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in head}
    books = [
        [by_id[c][j * _PQ_SUB : (j + 1) * _PQ_SUB] for c in range(_PQ_K)]
        for j in range(_PQ_M)
    ]
    q = _query_vector(spark, sf_dir, 0)
    scored = pq_adc_scores(pq_encode(emb, books), q, books)
    out = topk(
        scored.select("vec_id", "score"), "score", 10,
        higher_is_better=False, tie_cols=["vec_id"],
    )
    return out.select("vec_id", F.round("score", 6).alias("score"))



@register(
    "ann_ivf_pq_search",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    cd AS (SELECT c.centroid_id, list_distance(c.cvec, q.qe) AS qd
           FROM {_DD_CENTROIDS} c, q),
    probe AS (SELECT centroid_id FROM cd ORDER BY qd ASC, centroid_id ASC LIMIT 2),
    d AS (
      SELECT e.vec_id, c.centroid_id,
             list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
      FROM embeddings e CROSS JOIN {_DD_CENTROIDS} c
    ), r AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    ), assigned AS (SELECT vec_id, centroid_id FROM r WHERE rn = 1),
    cand AS (SELECT a.vec_id FROM assigned a JOIN probe p ON a.centroid_id = p.centroid_id),
    cb AS (SELECT vec_id::INT AS c, embedding::DOUBLE[] AS e
           FROM embeddings WHERE vec_id < {_PQ_K}),
    subd AS (
      SELECT r.vec_id, j.j, cb.c, {_dd_subdist('r.e', 'cb.e', 'j.j')} AS d
      FROM (SELECT e.vec_id, e.embedding::DOUBLE[] AS e
            FROM embeddings e JOIN cand USING (vec_id)) r
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS j) j
      CROSS JOIN cb
    ),
    enc AS (
      SELECT vec_id, j, c FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
        FROM subd) WHERE rn = 1
    ),
    adc AS (
      SELECT enc.vec_id, SUM({_dd_subdist('q.qe', 'cb.e', 'enc.j')}) AS score
      FROM enc JOIN cb ON enc.c = cb.c CROSS JOIN q
      GROUP BY enc.vec_id
    )
    SELECT vec_id, ROUND(score, 6) AS score
    FROM adc ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def ann_ivf_pq_search(spark, sf_dir):
    """End-to-end IVF-PQ (round-3 verdict item 6): `ann_ivf_search` proves
    the probe, `ann_pq_adc` proves ADC — this entry exercises their
    COMPOSITION through `similarity.ivf_pq_search`, the plan the store's
    `refresh_index(pq_m=...)` persists. Probe prunes to the 2 nearest of 8
    centroid buckets (partition pruning on a persisted index), then ADC
    scores only the survivors on m-byte codes. Codebooks are the
    first-16-rows convention so the DuckDB oracle replicates them
    (`pq_train` fits real KMeans books in production); the oracle mirrors
    probe pruning and argmin encoding exactly."""
    from veri_spark.operators.similarity import (
        ivf_assign, ivf_pq_search, take_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = take_centroids(emb, 8)
    assigned = ivf_assign(emb, cents)
    head = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .select("vec_id", "embedding")
        .collect()
    )
    by_id = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in head}
    books = [
        [by_id[c][j * _PQ_SUB : (j + 1) * _PQ_SUB] for c in range(_PQ_K)]
        for j in range(_PQ_M)
    ]
    q = _query_vector(spark, sf_dir, 0)
    out = ivf_pq_search(assigned, cents, q, books, n=10, nprobe=2)
    return out.select("vec_id", F.round("score", 6).alias("score"))



@register(
    "knn_radius_search",
    f"""
    SELECT vec_id,
           ROUND(list_distance(embedding::DOUBLE[], {_Q0}), 6) AS score
    FROM embeddings
    WHERE list_distance(embedding::DOUBLE[], {_Q0}) < 1.5
    ORDER BY score ASC, vec_id ASC
    """,
)
def knn_radius_search(spark, sf_dir):
    """Radius (range) search: every vector within euclidean distance 1.5
    of the query — the fixed-threshold companion of top-k (dedup sweeps
    and density estimates want 'all within r', not 'best k'). Map-only
    like the KNN scans: scan -> score expression -> pushable filter; no
    shuffle at all until the output sort, and the sort is bounded by the
    radius selectivity. At 100 TB pair it with the IVF probe (triangle
    inequality prunes any bucket whose centroid is farther than
    r + bucket radius)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    d = V.euclidean_distance(F.col("embedding"), q)
    return (
        emb.select("vec_id", F.round(d, 6).alias("score"), d.alias("__d"))
        .filter(F.col("__d") < 1.5)
        .drop("__d")
        .orderBy(F.col("score").asc(), F.col("vec_id").asc())
    )



@register(
    "ann_ivf_recall_audit",
    f"""
    WITH qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
                FROM embeddings WHERE vec_id IN (0, 1, 2)),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], q.qvec) ASC,
                          e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN qs q
      ) WHERE rn <= 10
    ),
    cents AS {_DD_CENTROIDS},
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.query_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_distance(c.cvec, q.qvec) ASC, c.centroid_id ASC) AS pr
        FROM qs q CROSS JOIN cents c
      ) WHERE pr <= 2
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], q.qvec) ASC,
                          e.vec_id ASC) AS rn
        FROM probes p
        JOIN assigned a ON a.centroid_id = p.centroid_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN qs q ON q.query_id = p.query_id
      ) WHERE rn <= 10
    )
    SELECT x.query_id,
           SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
           ROUND(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0, 6)
             AS recall_at_10
    FROM exact x
    LEFT JOIN approx ap ON ap.query_id = x.query_id AND ap.vec_id = x.vec_id
    GROUP BY x.query_id
    """,
)
def ann_ivf_recall_audit(spark, sf_dir):
    """ANN estimator audit (the IVF companion of
    `minhash_estimate_error`): recall@10 of the IVF probe path against
    exact brute force, per query — the number you check before widening
    or narrowing nprobe on a new corpus. Exact side is the map-only
    brute-force top-10; approximate side probes 2 of 8 centroid buckets;
    recall is a left join + conditional count, all on the 30-row top-k
    frames. At 100 TB run it on a sampled query log — the audit cost is
    queries x corpus-scan, the same as serving those queries twice."""
    from veri_spark.operators.similarity import (
        ivf_assign, ivf_probe_candidates, take_centroids,
    )
    from veri_spark.operators.topk import topk_per_group

    emb = load_table(spark, sf_dir, "embeddings")
    cents = take_centroids(emb, 8)
    assigned = ivf_assign(emb, cents)
    qs = [(vid, _query_vector(spark, sf_dir, vid)) for vid in (0, 1, 2)]

    def top10(df, vid, qvec):
        # plain distributed topk (TakeOrderedAndProject), NOT a window
        # keyed on the literal query_id — Catalyst constant-folds a
        # foldable partition spec away, turning that window into a
        # single-partition global sort (round-7 review finding); ranks
        # are not needed here, only membership
        d = V.euclidean_distance(F.col("embedding"), qvec)
        scored = df.select("vec_id", d.alias("score"))
        return topk(
            scored, "score", 10, higher_is_better=False, tie_cols=["vec_id"]
        ).select(F.lit(vid).alias("query_id"), "vec_id")

    exact = None
    approx = None
    for vid, qvec in qs:
        e = top10(emb, vid, qvec)
        a = top10(ivf_probe_candidates(assigned, cents, qvec, nprobe=2), vid, qvec)
        exact = e if exact is None else exact.unionByName(e)
        approx = a if approx is None else approx.unionByName(a)

    hit = F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
    return (
        exact.join(
            approx.withColumn("__hit", F.lit(1)), ["query_id", "vec_id"], "left"
        )
        .groupBy("query_id")
        .agg(
            hit.cast("bigint").alias("n_hit"),
            F.round(hit / F.lit(10.0), 6).alias("recall_at_10"),
        )
    )



def shared_knn_edges_k3(spark, sf_dir):
    """Session-shared IVF-blocked kNN edge list
    ``knn_join(emb, take_centroids(emb, 8), k=3)`` -> (src, dst, rank,
    dist) — 3n rows by construction (round 15, guide §1.2). Four
    consumers rebuilt the identical assign + cell self-join + window
    top-3: knn_join_ivf (returns it directly), knn_reciprocal_pairs
    (mutual filter over it), knn_graph_hubness (in-degree over it) and
    knn_join_recall_audit's nprobe=1 arm. One build per (session,
    sf_dir); first consumer in a sweep pays it. NOT interchangeable
    with knn_audit's cast-double cell pair frame: this family computes
    distances over the raw FLOAT arrays (different low bits), and both
    are oracle-pinned as-is."""
    from veri_spark.operators.similarity import knn_join, take_centroids
    from veri_spark.plans._base import shared_frame

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return knn_join(emb, take_centroids(emb, 8), k=3).select(
            "src", "dst", "rank", "dist"
        )

    return shared_frame(spark, sf_dir, "knn_edges_k3_c8", build)



@register(
    "knn_join_ivf",
    f"""
    WITH d AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS x, c.centroid_id,
             list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
      FROM embeddings e CROSS JOIN {_DD_CENTROIDS} c
    ), r AS (
      SELECT vec_id, x, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    ), assigned AS (SELECT vec_id, x, centroid_id FROM r WHERE rn = 1),
    pr AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_distance(a.x, b.x) AS dist
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id != b.vec_id
    ), rk AS (
      SELECT src, dst, dist,
             row_number() OVER (PARTITION BY src
                                ORDER BY dist ASC, dst ASC) AS rank
      FROM pr
    )
    SELECT src, dst, rank::BIGINT AS rank, ROUND(dist, 6) AS dist
    FROM rk WHERE rank <= 3
    """,
)
def knn_join_ivf(spark, sf_dir):
    """Approximate kNN JOIN over the whole corpus: every vector's 3
    nearest neighbors within its IVF cell (operators/similarity.knn_join)
    — the embedding-graph builder. One map-only literal-centroid
    assignment, a self-equi-join on centroid_id (cost sum(cell^2), cells
    kept constant-size by scaling the centroid count), per-source window
    top-k with WindowGroupLimit pushdown. Round 15: reads the
    session-shared ``shared_knn_edges_k3`` frame."""
    out = shared_knn_edges_k3(spark, sf_dir)
    return out.select(
        "src", "dst", F.col("rank").cast("bigint").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )



@register(
    "knn_join_multiprobe",
    f"""
    WITH d AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS x, c.centroid_id,
             list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
      FROM embeddings e CROSS JOIN {_DD_CENTROIDS} c
    ), r AS (
      SELECT vec_id, x, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    ), home AS (SELECT vec_id, x, centroid_id FROM r WHERE rn = 1),
    probe AS (SELECT vec_id, x, centroid_id FROM r WHERE rn <= 2),
    pr AS (
      SELECT p.vec_id AS src, h.vec_id AS dst,
             list_distance(p.x, h.x) AS dist
      FROM probe p JOIN home h
        ON p.centroid_id = h.centroid_id AND p.vec_id != h.vec_id
    ), rk AS (
      SELECT src, dst, dist,
             row_number() OVER (PARTITION BY src
                                ORDER BY dist ASC, dst ASC) AS rank
      FROM pr
    )
    SELECT src, dst, rank::BIGINT AS rank, ROUND(dist, 6) AS dist
    FROM rk WHERE rank <= 3
    """,
)
def knn_join_multiprobe(spark, sf_dir):
    """kNN join with nprobe=2: each source vector is looked up in its TWO
    nearest cells while neighbors stay in their home cell — recovering
    the boundary-straddling neighbors single-cell blocking misses, at 2x
    candidate cost on the probe side only (each (src, dst) pair still
    joins at most once because a neighbor has exactly one home cell).
    Compare with `knn_join_ivf` (nprobe=1) to read the recall-vs-cost
    trade directly."""
    from veri_spark.operators.similarity import knn_join, take_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_join(emb, take_centroids(emb, 8), k=3, nprobe=2)
    return out.select(
        "src", "dst", F.col("rank").cast("bigint").alias("rank"),
        F.round("dist", 6).alias("dist"),
    )



@register(
    "knn_join_recall_audit",
    f"""
    WITH d AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS x, c.centroid_id,
             list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
      FROM embeddings e CROSS JOIN {_DD_CENTROIDS} c
    ), r AS (
      SELECT vec_id, x, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    ), home AS (SELECT vec_id, x, centroid_id FROM r WHERE rn = 1),
    probe2 AS (SELECT vec_id, x, centroid_id FROM r WHERE rn <= 2),
    exact AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_distance(a.x, b.x) ASC, b.vec_id ASC) AS rk
        FROM home a JOIN home b ON a.vec_id != b.vec_id)
      WHERE rk <= 3
    ),
    ap1 AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, h.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_distance(a.x, h.x) ASC, h.vec_id ASC) AS rk
        FROM home a JOIN home h
          ON a.centroid_id = h.centroid_id AND a.vec_id != h.vec_id)
      WHERE rk <= 3
    ),
    ap2 AS (
      SELECT src, dst FROM (
        SELECT p.vec_id AS src, h.vec_id AS dst,
               row_number() OVER (PARTITION BY p.vec_id
                 ORDER BY list_distance(p.x, h.x) ASC, h.vec_id ASC) AS rk
        FROM probe2 p JOIN home h
          ON p.centroid_id = h.centroid_id AND p.vec_id != h.vec_id)
      WHERE rk <= 3
    )
    SELECT (SELECT COUNT(*) FROM exact)::BIGINT AS n_exact,
           ROUND((SELECT COUNT(*) FROM exact e JOIN ap1 USING (src, dst))::DOUBLE
                 / (SELECT COUNT(*) FROM exact), 6) AS recall_nprobe1,
           ROUND((SELECT COUNT(*) FROM exact e JOIN ap2 USING (src, dst))::DOUBLE
                 / (SELECT COUNT(*) FROM exact), 6) AS recall_nprobe2
    """,
)
def knn_join_recall_audit(spark, sf_dir):
    """Recall audit for the blocked kNN join: single-probe and two-probe
    neighbor sets scored against exact brute-force 3-NN — the number you
    read before trusting `knn_join_ivf` output for graph building. The
    brute-force side is quadratic BY DESIGN (it is the audit, run on a
    bounded sample at scale — the same discipline as
    `ann_ivf_recall_audit`); the audited joins use the production cell-
    blocked plan."""
    from veri_spark.operators.similarity import knn_join, take_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = take_centroids(emb, 8)
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("x"))
    a = e.select(F.col("vec_id").alias("src"), F.col("x").alias("xa"))
    b = e.select(F.col("vec_id").alias("dst"), F.col("x").alias("xb"))
    from veri_spark.functions.vector import euclidean_distance_fixed

    dim_row = emb.select(F.size("embedding").alias("d")).first()
    dim = int(dim_row["d"]) if dim_row else 0
    # round 15 (guide §2.3): compute the pair distance BEFORE the window
    # and project the arrays away — the old shape carried both dim-wide
    # vectors through the window shuffle just to evaluate the sort key
    # (~2 GB at sf0.1 for 4M brute pairs vs ~100 MB of (src, dst, d));
    # same expression, same IEEE double, same ordering.
    d = euclidean_distance_fixed(F.col("xa"), F.col("xb"), dim)
    w = Window.partitionBy("src").orderBy(
        F.col("__d").asc(), F.col("dst").asc()
    )
    exact = (
        a.join(b, F.col("src") != F.col("dst"))
        .select("src", "dst", d.alias("__d"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("src", "dst")
    )
    exact = exact.persist()
    # round 15: the nprobe=1 arm IS the session-shared edge list
    ap1 = shared_knn_edges_k3(spark, sf_dir).select("src", "dst")
    ap2 = knn_join(emb, cents, k=3, nprobe=2).select("src", "dst")
    n_exact = exact.count()
    hit1 = exact.join(ap1, ["src", "dst"]).count()
    hit2 = exact.join(ap2, ["src", "dst"]).count()
    return spark.createDataFrame(
        [(n_exact, round(hit1 / n_exact, 6), round(hit2 / n_exact, 6))],
        "n_exact bigint, recall_nprobe1 double, recall_nprobe2 double",
    )



