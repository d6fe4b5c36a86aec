"""KNN/ANN index audits, re-ranking, and evaluation: k-means steps, balance/silhouette/recall audits, MMR, RRF, hubness, label checks.

Split from plans/knn.py (round-10 hygiene, mirroring the round-5/6
splits); every (PySpark program, DuckDB oracle) pair is unchanged and
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
    session_cached,
    shared_frame,
)




@register(
    "kmeans_step_inertia",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
         c0 AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
                FROM embeddings WHERE vec_id < 8),
         d1 AS (SELECT e.vec_id, e.x, c.centroid_id,
                       list_distance(e.x, c.cvec) AS dist
                FROM e CROSS JOIN c0 c),
         a1 AS (SELECT vec_id, x, centroid_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, centroid_id ASC) AS rn
                  FROM d1) WHERE rn = 1),
         m AS (SELECT centroid_id, pos, ROUND(AVG(v), 6) AS av
               FROM (SELECT centroid_id, generate_subscripts(x, 1) AS pos,
                            unnest(x) AS v
                     FROM a1)
               GROUP BY centroid_id, pos),
         c1 AS (SELECT centroid_id, list(av ORDER BY pos) AS c FROM m
                GROUP BY centroid_id),
         cf AS (SELECT c0.centroid_id, COALESCE(c1.c, c0.cvec) AS cvec
                FROM c0 LEFT JOIN c1 USING (centroid_id)),
         d2 AS (SELECT e.vec_id, e.x, c.centroid_id, c.cvec,
                       list_distance(e.x, c.cvec) AS dist
                FROM e CROSS JOIN cf c),
         a2 AS (SELECT vec_id, x, centroid_id, cvec FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, centroid_id ASC) AS rn
                  FROM d2) WHERE rn = 1)
    SELECT centroid_id, COUNT(*)::BIGINT AS n_assigned,
           SUM(FLOOR(1000000 * list_sum(list_transform(range(1, len(x) + 1),
                 i -> (x[i] - cvec[i]) * (x[i] - cvec[i]))) + 0.5)::BIGINT
               )::BIGINT AS inertia_micro
    FROM a2 GROUP BY centroid_id
    """,
)
def kmeans_step_inertia(spark, sf_dir):
    """One full Lloyd iteration (operators/similarity.kmeans_train,
    iters=1, centroids rounded to 6dp for cross-engine replay) followed by
    re-assignment and per-cluster inertia — distributed k-means as Spark
    expresses it: each iteration is a map-only literal-centroid assignment
    plus a (cluster, dim) partial-aggregated mean, collecting only k x dim
    floats to the driver between iterations; the corpus never shuffles on
    the vector id. Inertia terms round to integer micro-units BEFORE the
    sum (order-proof). Empty clusters keep their seed centroid, matching
    the oracle's COALESCE."""
    from veri_spark.operators.similarity import ivf_assign, kmeans_train

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_train(emb, k=8, iters=1, tol=0.0, round_decimals=6)
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    assigned = ivf_assign(e, cents, id_col="vec_id", vector_col="x")
    joined = assigned.join(
        F.broadcast(spark.createDataFrame(cents, "centroid_id bigint, cvec array<double>")),
        "centroid_id",
    )
    d2 = F.aggregate(
        F.zip_with("x", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    micro = F.floor(1000000 * d2 + 0.5).cast("bigint")
    return joined.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        F.sum(micro).cast("bigint").alias("inertia_micro"),
    )



@register(
    "ivf_balance_audit",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
         c0 AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
                FROM embeddings WHERE vec_id < 8),
         d1 AS (SELECT e.vec_id, e.x, c.centroid_id,
                       list_distance(e.x, c.cvec) AS dist
                FROM e CROSS JOIN c0 c),
         a1 AS (SELECT vec_id, x, centroid_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, centroid_id ASC) AS rn
                  FROM d1) WHERE rn = 1),
         m AS (SELECT centroid_id, pos, ROUND(AVG(v), 6) AS av
               FROM (SELECT centroid_id, generate_subscripts(x, 1) AS pos,
                            unnest(x) AS v
                     FROM a1)
               GROUP BY centroid_id, pos),
         c1 AS (SELECT centroid_id, list(av ORDER BY pos) AS c FROM m
                GROUP BY centroid_id),
         cf AS (SELECT c0.centroid_id, COALESCE(c1.c, c0.cvec) AS cvec
                FROM c0 LEFT JOIN c1 USING (centroid_id)),
         d2 AS (SELECT e.vec_id, c.centroid_id,
                       list_distance(e.x, c.cvec) AS dist
                FROM e CROSS JOIN cf c),
         a2 AS (SELECT vec_id, centroid_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, centroid_id ASC) AS rn
                  FROM d2) WHERE rn = 1),
         s AS (SELECT centroid_id, COUNT(*)::BIGINT AS n_seed FROM a1
               GROUP BY centroid_id),
         t AS (SELECT centroid_id, COUNT(*)::BIGINT AS n_trained FROM a2
               GROUP BY centroid_id)
    SELECT c0.centroid_id,
           COALESCE(s.n_seed, 0)::BIGINT AS n_seed,
           COALESCE(t.n_trained, 0)::BIGINT AS n_trained
    FROM c0
    LEFT JOIN s USING (centroid_id)
    LEFT JOIN t USING (centroid_id)
    """,
)
def ivf_balance_audit(spark, sf_dir):
    """Cell-balance before/after one Lloyd refinement: per-cell population
    under raw seed centroids vs kmeans_train(iters=1) centroids — the
    audit that justifies `refresh_index(kmeans_iters=...)`: probe cost is
    bounded by the LARGEST cell, and seeds sampled from the first k rows
    routinely leave one cell holding half the corpus. Both assignments are
    map-only literal plans; the comparison is two tiny groupBys."""
    from veri_spark.operators.similarity import (
        ivf_assign,
        kmeans_train,
        take_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("x"))
    seed = take_centroids(e, 8, id_col="vec_id", vector_col="x")
    trained = kmeans_train(emb, k=8, iters=1, tol=0.0, round_decimals=6)
    s = (
        ivf_assign(e, seed, id_col="vec_id", vector_col="x")
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_seed"))
    )
    t = (
        ivf_assign(e, trained, id_col="vec_id", vector_col="x")
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trained"))
    )
    ids = spark.createDataFrame([(cid,) for cid, _ in seed], "centroid_id bigint")
    return (
        ids.join(s, "centroid_id", "left")
        .join(t, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce("n_seed", F.lit(0)).cast("bigint").alias("n_seed"),
            F.coalesce("n_trained", F.lit(0)).cast("bigint").alias("n_trained"),
        )
    )



@register(
    "mmr_rerank",
    f"""
    WITH cands AS (
      SELECT vec_id,
             ROUND(list_cosine_similarity(embedding::DOUBLE[], {_Q0}), 9) AS rel
      FROM embeddings ORDER BY rel DESC, vec_id ASC LIMIT 12
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             ROUND(list_cosine_similarity(
               ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 9) AS sim
      FROM cands a JOIN cands b ON a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    sym AS (SELECT ia, ib, sim FROM pairs
            UNION ALL SELECT ib, ia, sim FROM pairs),
    s1 AS (SELECT vec_id, ROUND(0.7 * rel, 6) AS mmr
           FROM cands ORDER BY rel DESC, vec_id ASC LIMIT 1),
    r2 AS (SELECT c.vec_id, c.rel, MAX(s.sim) AS ms FROM cands c
           JOIN sym s ON s.ia = c.vec_id
                     AND s.ib IN (SELECT vec_id FROM s1)
           WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
           GROUP BY 1, 2),
    s2 AS (SELECT vec_id, ROUND(0.7 * rel - 0.3 * ms, 6) AS mmr
           FROM r2 ORDER BY mmr DESC, vec_id ASC LIMIT 1),
    sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
    r3 AS (SELECT c.vec_id, c.rel, MAX(s.sim) AS ms FROM cands c
           JOIN sym s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM sel2)
           WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
           GROUP BY 1, 2),
    s3 AS (SELECT vec_id, ROUND(0.7 * rel - 0.3 * ms, 6) AS mmr
           FROM r3 ORDER BY mmr DESC, vec_id ASC LIMIT 1),
    sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
    r4 AS (SELECT c.vec_id, c.rel, MAX(s.sim) AS ms FROM cands c
           JOIN sym s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM sel3)
           WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
           GROUP BY 1, 2),
    s4 AS (SELECT vec_id, ROUND(0.7 * rel - 0.3 * ms, 6) AS mmr
           FROM r4 ORDER BY mmr DESC, vec_id ASC LIMIT 1),
    sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4),
    r5 AS (SELECT c.vec_id, c.rel, MAX(s.sim) AS ms FROM cands c
           JOIN sym s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM sel4)
           WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
           GROUP BY 1, 2),
    s5 AS (SELECT vec_id, ROUND(0.7 * rel - 0.3 * ms, 6) AS mmr
           FROM r5 ORDER BY mmr DESC, vec_id ASC LIMIT 1)
    SELECT 1::BIGINT AS selection_rank, vec_id::BIGINT AS vec_id, mmr FROM s1
    UNION ALL SELECT 2, vec_id, mmr FROM s2
    UNION ALL SELECT 3, vec_id, mmr FROM s3
    UNION ALL SELECT 4, vec_id, mmr FROM s4
    UNION ALL SELECT 5, vec_id, mmr FROM s5
    """,
)
def mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance diversity re-ranking (Carbonell &
    Goldstein, SIGIR 1998) — the RAG retrieval pattern the reference's
    context re-scoring (K12, data/search.go:379-427) gestures at:
    greedily pick k=5 of the top-12 cosine candidates maximizing
    0.7*relevance - 0.3*max-similarity-to-already-picked.

    Scale shape: candidate generation is the distributed bounded top-k
    over the full corpus (the 100 TB part); the greedy selection runs on
    the driver over a PROVABLY BOUNDED set (12 candidates, 66 pairwise
    sims — same justification as the collected k-means centroids and PQ
    codebooks). Relevances come from the distributed scan; pairwise sims
    are numpy float64 on the collected vectors (bit-identical math to the
    oracle's DOUBLE[] cosine up to the 1e-9 rounding applied in both).
    The oracle unrolls the same greedy as five chained argmax CTEs."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    qn = np.array(q, dtype="float64")
    dot = F.aggregate(
        F.zip_with("embedding", F.lit(q).cast("array<double>"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    rel = F.round(dot / (nrm * F.lit(float(np.linalg.norm(qn)))), 9)
    cands = (
        emb.select("vec_id", rel.alias("rel"), "embedding")
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(12)
        .collect()
    )
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in cands}
    rels = {r["vec_id"]: float(r["rel"]) for r in cands}
    sims = {}
    ids = [r["vec_id"] for r in cands]
    for i in ids:
        for j in ids:
            if i < j:
                vi, vj = vecs[i], vecs[j]
                s = _round_half_up(
                    float(vi @ vj) / (float(np.linalg.norm(vi)) * float(np.linalg.norm(vj))),
                    9,
                )
                sims[(i, j)] = sims[(j, i)] = s
    picked: list[tuple[int, int, float]] = []
    remaining = set(ids)
    first = max(remaining, key=lambda v: (rels[v], -v))
    picked.append((1, first, _round_half_up(0.7 * rels[first], 6)))
    remaining.discard(first)
    for rank in range(2, 6):
        best, best_score = None, None
        for c in sorted(remaining):
            ms = max(sims[(c, p)] for _, p, _ in picked)
            score = _round_half_up(0.7 * rels[c] - 0.3 * ms, 6)
            if best is None or score > best_score:
                best, best_score = c, score
        picked.append((rank, best, best_score))
        remaining.discard(best)
    return spark.createDataFrame(
        picked, "selection_rank bigint, vec_id bigint, mmr double"
    )



@register(
    "matryoshka_recall",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    s AS (SELECT q.query_id, e.vec_id,
            list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS fs,
            list_cosine_similarity(
              (e.embedding::DOUBLE[])[1:32], q.qv[1:32]) AS ts
          FROM embeddings e, q),
    r AS (SELECT query_id, vec_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY fs DESC, vec_id ASC) AS rf,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY ts DESC, vec_id ASC) AS rt
          FROM s)
    SELECT query_id,
           ROUND(SUM(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END)
                 / 10.0, 3) AS recall_at_10
    FROM r GROUP BY query_id
    """,
)
def matryoshka_recall(spark, sf_dir):
    """Matryoshka-style truncation audit (Kusupati et al., NeurIPS 2022):
    recall@10 of cosine retrieval using only the FIRST 32 of 64 embedding
    dims versus full-dimension retrieval, per query — the measurement that
    decides whether a cheaper truncated index is safe to serve. Five query
    vectors broadcast against the corpus (map-side fan-out, no shuffle for
    scoring); both rankings share one exchange on query_id; overlap is
    rows inside both top-10s. At 100 TB the full ranking would come from
    the IVF path — the audit shape (two rankings, one window key) holds."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )

    def cos(a, b):
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        na = F.sqrt(
            F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
        )
        nb = F.sqrt(
            F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
        )
        return dot / (na * nb)

    s = e.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        cos(F.col("ev"), F.col("qv")).alias("fs"),
        cos(F.slice("ev", 1, 32), F.slice("qv", 1, 32)).alias("ts"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("fs").desc(), F.col("vec_id").asc())
    wt = Window.partitionBy("query_id").orderBy(F.col("ts").desc(), F.col("vec_id").asc())
    r = s.select(
        "query_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    return r.groupBy("query_id").agg(
        F.round(
            F.sum(F.when((F.col("rf") <= 10) & (F.col("rt") <= 10), 1).otherwise(0))
            / F.lit(10.0),
            3,
        ).alias("recall_at_10")
    )



def _cell_label_pairs(spark, sf_dir):
    """Session-shared IVF-cell-blocked LABELED pair frame
    ``(pid, qid, plabel, qlabel, dist)`` over the cast-to-double
    embeddings (round 15, guide §1.2): hard_example_mining,
    knn_label_accuracy and label_noise_candidates each rebuilt the
    identical literal-centroid assignment + within-cell self-join +
    per-pair unrolled euclidean distance and differ only in the filter
    (same-label / eval-vs-train split / self-exclusion) and the bounded
    window or min-aggregate on top — all of which commute with building
    the FULL pair set once (self-pairs included; every consumer's filter
    reproduces exactly its old join condition). The frame drops the
    vector payloads after the distance is computed, so the checkpoint
    is five scalars per pair instead of two dim-wide arrays (§2.3).
    Cost is the same sum(cell^2) fan-out each query already paid, now
    paid once per (session, sf_dir) by the first consumer in the
    sweep (bench-documented cold-payer attribution). NOT interchangeable
    with the knn_join edge family: that one computes distances over the
    raw FLOAT arrays (different low bits), and both are oracle-pinned
    as-is."""
    from veri_spark.functions.vector import euclidean_distance_fixed
    from veri_spark.operators.similarity import ivf_assign, take_centroids

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        dim_row = emb.select(F.size("embedding").alias("d")).first()
        dim = int(dim_row["d"]) if dim_row else 0
        e = emb.select(
            "vec_id", "label",
            F.col("embedding").cast("array<double>").alias("x"),
        )
        a = ivf_assign(
            e, take_centroids(emb, 8), id_col="vec_id", vector_col="x"
        )
        p = a.select(
            "centroid_id",
            F.col("vec_id").alias("pid"),
            F.col("label").alias("plabel"),
            F.col("x").alias("xa"),
        )
        q = a.select(
            "centroid_id",
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("x").alias("xb"),
        )
        dist = euclidean_distance_fixed(F.col("xa"), F.col("xb"), dim)
        return p.join(q, "centroid_id").select(
            "pid", "qid", "plabel", "qlabel", dist.alias("dist")
        )

    return shared_frame(spark, sf_dir, "cell_label_pairs_c8", build)



@register(
    "hard_example_mining",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
    d AS (
      SELECT e.vec_id, e.label, e.x, c.centroid_id,
             list_distance(e.x, c.cvec) AS dist
      FROM e CROSS JOIN {_DD_CENTROIDS} c
    ), r AS (
      SELECT vec_id, label, x, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    ), a AS (SELECT vec_id, label, x, centroid_id FROM r WHERE rn = 1),
    pos AS (
      SELECT p.vec_id, MIN(list_distance(p.x, q.x)) AS pos_dist
      FROM a p JOIN a q
        ON p.label = q.label AND p.centroid_id = q.centroid_id
       AND p.vec_id != q.vec_id
      GROUP BY p.vec_id),
    neg AS (
      SELECT p.vec_id, MIN(list_distance(p.x, q.x)) AS neg_dist
      FROM a p JOIN a q
        ON p.centroid_id = q.centroid_id AND p.label != q.label
      GROUP BY p.vec_id)
    SELECT pos.vec_id,
           ROUND(pos_dist, 6) AS pos_dist,
           ROUND(neg_dist, 6) AS neg_dist,
           ROUND(neg_dist - pos_dist, 6) AS margin
    FROM pos JOIN neg USING (vec_id)
    ORDER BY margin ASC, vec_id ASC LIMIT 20
    """,
)
def hard_example_mining(spark, sf_dir):
    """Triplet-mining worklist: the 20 anchors with the smallest
    (nearest-cross-label - nearest-same-label) margin — the hard examples
    a contrastive trainer oversamples (per-anchor grain; `embedding_margin`
    reports the same quantity for 10 fixed probes). BOTH pair searches are
    blocked on LABEL ∩ IVF-CELL: at 100 TB an unblocked within-label join
    is N²/L pairs (a class-wide self-join — the round-4 scale-killer this
    replaces), so positives take the same ANN-bucket trade hard-negative
    miners already make — the nearest SAME-label neighbor outside the
    anchor's cell is missed (pos_dist is an over-estimate, so some truly
    hard anchors can rank harder than they are; none rank easier), and an
    anchor whose cell holds no same-label partner drops out of the
    worklist entirely. Same trade, same blocking key, both sides; no
    unblocked corpus self-join anywhere. Round 15: both pair searches
    read the session-shared ``_cell_label_pairs`` frame — the pos/neg
    join conditions become filters over the full cell-blocked pair set
    (same pairs, same stored distance)."""
    pairs = _cell_label_pairs(spark, sf_dir)
    pos = (
        pairs.filter(
            (F.col("plabel") == F.col("qlabel"))
            & (F.col("pid") != F.col("qid"))
        )
        .groupBy(F.col("pid").alias("vec_id"))
        .agg(F.min("dist").alias("pos_dist"))
    )
    neg = (
        pairs.filter(F.col("plabel") != F.col("qlabel"))
        .groupBy(F.col("pid").alias("vec_id"))
        .agg(F.min("dist").alias("neg_dist"))
    )
    return (
        pos.join(neg, "vec_id")
        .select(
            "vec_id",
            F.round("pos_dist", 6).alias("pos_dist"),
            F.round("neg_dist", 6).alias("neg_dist"),
            F.round(F.col("neg_dist") - F.col("pos_dist"), 6).alias("margin"),
        )
        .orderBy(F.col("margin").asc(), F.col("vec_id").asc())
        .limit(20)
    )



@register(
    "knn_graph_hubness",
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
      SELECT src, dst,
             row_number() OVER (PARTITION BY src
                                ORDER BY dist ASC, dst ASC) AS rank
      FROM pr
    ), edges AS (SELECT src, dst FROM rk WHERE rank <= 3),
    indeg AS (
      SELECT a.vec_id, COALESCE(g.deg, 0) AS deg
      FROM assigned a
      LEFT JOIN (SELECT dst, COUNT(*) AS deg FROM edges GROUP BY dst) g
        ON g.dst = a.vec_id),
    b AS (SELECT CASE WHEN deg = 0 THEN '0'
                      WHEN deg <= 2 THEN '1-2'
                      WHEN deg <= 5 THEN '3-5'
                      ELSE '6+' END AS bucket,
                 deg
          FROM indeg)
    SELECT bucket, COUNT(*)::BIGINT AS n_nodes,
           ROUND(AVG(deg), 6) AS mean_indeg
    FROM b GROUP BY bucket ORDER BY bucket ASC
    """,
)
def knn_graph_hubness(spark, sf_dir):
    """Hubness diagnostic for the kNN graph: the in-degree distribution of
    `knn_join_ivf`'s 3-NN edges (how many nodes nobody points at, how many
    are hubs) — high-dimensional ANN graphs concentrate in-degree on hub
    points, which silently skews graph-walk retrieval and label
    propagation; this is the audit that detects it. One extra groupBy on
    dst over the kNN join's bounded edge set; orphans come from a
    left anti-style count against the full node list. Round 15: the
    edge list is the session-shared plans/knn.shared_knn_edges_k3
    frame."""
    from veri_spark.plans.knn import shared_knn_edges_k3

    emb = load_table(spark, sf_dir, "embeddings")
    edges = shared_knn_edges_k3(spark, sf_dir).select("src", "dst")
    indeg = (
        emb.select("vec_id")
        .join(
            edges.groupBy(F.col("dst").alias("vec_id")).agg(
                F.count(F.lit(1)).alias("deg")
            ),
            "vec_id",
            "left",
        )
        .select(F.coalesce(F.col("deg"), F.lit(0)).alias("deg"))
    )
    b = indeg.select(
        F.when(F.col("deg") == 0, "0")
        .when(F.col("deg") <= 2, "1-2")
        .when(F.col("deg") <= 5, "3-5")
        .otherwise("6+")
        .alias("bucket"),
        "deg",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.round(F.avg("deg"), 6).alias("mean_indeg"),
        )
        .orderBy(F.col("bucket").asc())
    )



@register(
    "ann_ivf_rerank",
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
      SELECT enc.vec_id, SUM({_dd_subdist('q.qe', 'cb.e', 'enc.j')}) AS adc
      FROM enc JOIN cb ON enc.c = cb.c CROSS JOIN q
      GROUP BY enc.vec_id
    ),
    shortlist AS (
      SELECT vec_id, adc FROM (
        SELECT vec_id, adc,
               row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS arn
        FROM adc) WHERE arn <= 50
    ),
    exact AS (
      SELECT s.vec_id, s.adc,
             list_distance(e.embedding::DOUBLE[], q.qe) AS ed
      FROM shortlist s JOIN embeddings e USING (vec_id) CROSS JOIN q
    )
    SELECT vec_id, ROUND(ed, 6) AS score, ROUND(adc, 6) AS adc_score, rnk
    FROM (SELECT vec_id, ed, adc,
                 row_number() OVER (ORDER BY ed ASC, vec_id ASC) AS rnk
          FROM exact)
    WHERE rnk <= 10
    """,
)
def ann_ivf_rerank(spark, sf_dir):
    """Two-stage serving retrieval — the production ANN pattern the other
    ann_* entries compose into: stage 1 retrieves a 50-candidate
    shortlist with IVF-PQ (probe 2 of 8 cells, ADC on m-byte codes — the
    cheap, compressed, recall-oriented stage), stage 2 re-ranks ONLY the
    shortlist with exact full-precision euclidean distance (the
    precision-oriented stage that erases PQ quantization error from the
    final ordering). Per final answer both scores are emitted so the
    quantization gap is observable.

    Scale shape: stage 1 is the map-only IVF-PQ plan (codebooks/LUT as
    literals, partition-pruned probe, bounded top-50); stage 2 joins the
    50-row shortlist back to the corpus BROADCAST — the full-vector fetch
    touches only probed partitions map-side, then a 50-row sort. The
    expensive exact math runs on 50 rows, not the corpus, no matter the
    corpus size."""
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
    shortlist = ivf_pq_search(assigned, cents, q, books, n=50, nprobe=2).select(
        "vec_id", F.col("score").alias("adc")
    )
    exact = (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            "adc",
            V.euclidean_distance(F.col("embedding"), q).alias("ed"),
        )
    )
    w = Window.orderBy(F.col("ed").asc(), F.col("vec_id").asc())
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            "vec_id",
            F.round("ed", 6).alias("score"),
            F.round("adc", 6).alias("adc_score"),
            "rnk",
        )
    )


@register(
    "knn_label_accuracy",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
    d AS (
      SELECT e.vec_id, e.label, e.x, c.centroid_id,
             list_distance(e.x, c.cvec) AS dist
      FROM e CROSS JOIN {_DD_CENTROIDS} c
    ), r AS (
      SELECT vec_id, label, x, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    ), a AS (SELECT vec_id, label, x, centroid_id FROM r WHERE rn = 1),
    pr AS (
      SELECT ev.vec_id, ev.label AS true_label, tr.label AS nbr_label,
             row_number() OVER (PARTITION BY ev.vec_id
                                ORDER BY list_distance(ev.x, tr.x) ASC,
                                         tr.vec_id ASC) AS rank
      FROM a ev JOIN a tr
        ON ev.centroid_id = tr.centroid_id AND tr.vec_id % 10 != 0
      WHERE ev.vec_id % 10 = 0
    ),
    votes AS (
      SELECT vec_id, true_label, nbr_label, COUNT(*)::BIGINT AS nv
      FROM pr WHERE rank <= 5 GROUP BY 1, 2, 3
    ),
    win AS (
      SELECT vec_id, true_label, nbr_label AS pred_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY nv DESC, nbr_label ASC) AS wr
      FROM votes
    )
    SELECT true_label AS label, COUNT(*)::BIGINT AS n_eval,
           SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)::BIGINT
             AS n_correct,
           ROUND(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS accuracy
    FROM win WHERE wr = 1
    GROUP BY true_label
    ORDER BY true_label ASC
    """,
)
def knn_label_accuracy(spark, sf_dir):
    """Embedding-quality eval as a kNN classifier: hold out every 10th
    vector, predict its label by majority vote of its 5 nearest
    same-IVF-cell training neighbors, report per-label accuracy — the
    label-consistency probe that tells you whether an embedding space is
    good enough to drive label propagation / auto-labeling, without
    training anything. The neighbor search is the same LABEL-FREE
    IVF-cell-blocked join as `knn_join_ivf` (map-only literal-centroid
    assignment, one equi-join on centroid_id, WindowGroupLimit top-5);
    majority voting is two bounded window ranks. Eval points whose cell
    has no training rows drop out (the documented IVF recall trade).
    Vote ties break on the smaller label — deterministic in both
    engines. Round 15: the eval x train cell join reads the
    session-shared ``_cell_label_pairs`` frame (the split is a filter
    over the full cell-blocked pair set — same pairs, same stored
    distance, same window)."""
    pairs = _cell_label_pairs(spark, sf_dir)
    pr0 = pairs.filter(
        (F.col("pid") % 10 == 0) & (F.col("qid") % 10 != 0)
    ).select(
        F.col("pid").alias("eval_id"),
        F.col("plabel").alias("true_label"),
        F.col("qid").alias("train_id"),
        F.col("qlabel").alias("nbr_label"),
        "dist",
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.col("dist").asc(), F.col("train_id").asc()
    )
    pr = (
        pr0.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    votes = pr.groupBy("eval_id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("nv")
    )
    ww = Window.partitionBy("eval_id").orderBy(
        F.col("nv").desc(), F.col("nbr_label").asc()
    )
    win = (
        votes.withColumn("wr", F.row_number().over(ww))
        .filter(F.col("wr") == 1)
        .select("true_label", F.col("nbr_label").alias("pred_label"))
    )
    correct = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return (
        win.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(correct).cast("bigint").alias("n_correct"),
            F.round(
                F.sum(correct).cast("double") / F.count(F.lit(1)), 6
            ).alias("accuracy"),
        )
        .orderBy(F.col("label").asc())
    )


@register(
    "label_noise_candidates",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
    d AS (
      SELECT e.vec_id, e.label, e.x, c.centroid_id,
             list_distance(e.x, c.cvec) AS dist
      FROM e CROSS JOIN {_DD_CENTROIDS} c
    ), r AS (
      SELECT vec_id, label, x, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    ), a AS (SELECT vec_id, label, x, centroid_id FROM r WHERE rn = 1),
    pr AS (
      SELECT p.vec_id, p.label, q.label AS nbr_label,
             row_number() OVER (PARTITION BY p.vec_id
                                ORDER BY list_distance(p.x, q.x) ASC,
                                         q.vec_id ASC) AS rank
      FROM a p JOIN a q
        ON p.centroid_id = q.centroid_id AND p.vec_id != q.vec_id
    ),
    agg AS (
      SELECT vec_id, ANY_VALUE(label) AS label,
             SUM(CASE WHEN nbr_label = label THEN 1 ELSE 0 END)::BIGINT
               AS n_agree,
             COUNT(*)::BIGINT AS n_nbrs
      FROM pr WHERE rank <= 5 GROUP BY vec_id
    )
    SELECT vec_id, label, n_agree, n_nbrs,
           ROUND(n_agree::DOUBLE / n_nbrs, 6) AS agreement
    FROM agg
    ORDER BY n_agree::DOUBLE / n_nbrs ASC, vec_id ASC
    LIMIT 20
    """,
)
def label_noise_candidates(spark, sf_dir):
    """Noisy-label mining (confident-learning style): the 20 vectors whose
    5 nearest same-cell neighbors agree LEAST with their own label — the
    re-annotation worklist you generate before training on a labeled
    corpus, and the per-example complement of `knn_label_accuracy`'s
    aggregate score. Neighbor search is the IVF-cell-blocked self-join
    (map-only literal-centroid assign, one equi-join on centroid_id,
    bounded top-5 per vector via WindowGroupLimit); agreement is one
    aggregate over the bounded neighbor set. Ordering is on the
    UNROUNDED integer ratio with a vec_id tie-break, so the worklist
    boundary is deterministic. Vectors alone in their cell drop out
    (no neighbors — the IVF trade, same as the classifier eval).
    Round 15: the cell self-join reads the session-shared
    ``_cell_label_pairs`` frame (self-exclusion is a filter over the
    full pair set — same pairs, same stored distance, same window)."""
    pairs = _cell_label_pairs(spark, sf_dir)
    w = Window.partitionBy("pid").orderBy(
        F.col("dist").asc(), F.col("qid").asc()
    )
    pr = (
        pairs.filter(F.col("pid") != F.col("qid"))
        .withColumnRenamed("qlabel", "nbr_label")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    agree = F.sum(
        F.when(F.col("nbr_label") == F.col("plabel"), 1).otherwise(0)
    ).cast("bigint")
    agg = pr.groupBy(F.col("pid").alias("vec_id")).agg(
        F.max("plabel").alias("label"),
        agree.alias("n_agree"),
        F.count(F.lit(1)).cast("bigint").alias("n_nbrs"),
    )
    ratio = F.col("n_agree").cast("double") / F.col("n_nbrs")
    return (
        agg.orderBy(ratio.asc(), F.col("vec_id").asc())
        .limit(20)
        .select(
            "vec_id", "label", "n_agree", "n_nbrs", F.round(ratio, 6).alias("agreement")
        )
    )


@register(
    "hybrid_rrf_fusion",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    cosr AS (
      SELECT vec_id,
             row_number() OVER (
               ORDER BY LEAST(GREATEST(list_cosine_similarity(
                 embedding::DOUBLE[], (SELECT qe FROM q)), -1.0), 1.0) DESC,
               vec_id ASC) AS r
      FROM embeddings),
    dotr AS (
      SELECT e.vec_id,
             row_number() OVER (
               ORDER BY list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> (e.embedding::DOUBLE[])[i] * q.qe[i])) DESC,
               e.vec_id ASC) AS r
      FROM embeddings e CROSS JOIN q),
    fused AS (
      SELECT COALESCE(c.vec_id, d.vec_id) AS vec_id,
             1.0 / (60 + COALESCE(c.r, 1000000))
             + 1.0 / (60 + COALESCE(d.r, 1000000)) AS rrf
      FROM (SELECT * FROM cosr WHERE r <= 50) c
      FULL OUTER JOIN (SELECT * FROM dotr WHERE r <= 50) d
        ON c.vec_id = d.vec_id)
    SELECT vec_id, ROUND(rrf, 6) AS rrf_score
    FROM fused
    ORDER BY rrf DESC, vec_id ASC
    LIMIT 10
    """,
)
def hybrid_rrf_fusion(spark, sf_dir):
    """Hybrid-retrieval rank fusion: Reciprocal Rank Fusion (k=60) of two
    retrievers' top-50 lists — cosine (direction) and raw dot product
    (direction x magnitude) — the standard way serving stacks combine
    lexical+dense or multi-metric rankings WITHOUT score calibration
    (RRF needs only ranks, so incomparable score scales fuse cleanly;
    Cormack et al., SIGIR 2009). Each leg is a map-only scoring pass
    whose top-50 rides ``orderBy().limit(50)`` — TakeOrderedAndProject,
    i.e. a per-partition partial top-50 merged once on the driver side,
    NEVER a single-partition sort of the corpus (round-10 verdict task
    1: the previous ``row_number() OVER (ORDER BY ...)`` shortlist was
    the repo's last corpus-grain unpartitioned window). Ranks within
    the bounded 50-row shortlist come from a broadcast triangular
    self-join (50x50 = 2,500 pairs — constant, corpus-size-invariant),
    so the executed plan contains ZERO window specs and the query sits
    on the unpartitioned-window pin list (tests/test_plan_shapes.py).
    Fusion is a full-outer join of two 50-row lists with absent-rank
    contribution pinned by a large sentinel (1/(60+1e6) ~ 0 but EXACT
    in both engines, so the fused doubles are bit-identical — no
    epsilon games). At 100 TB each leg is whatever index serves it
    (IVF-PQ, BM25 postings); fusion cost never grows past the
    shortlists."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    x = F.col("embedding").cast("array<double>")

    def shortlist(score, name):
        # partial+final top-50 (TakeOrderedAndProject) — no global sort
        top = (
            emb.select("vec_id", score.alias("__s"))
            .orderBy(F.col("__s").desc(), F.col("vec_id").asc())
            .limit(50)
        )
        # exact rank over the bounded frame: (score, vec_id) is a strict
        # total order (vec_id unique), so rank = # of rows at-or-before
        a = top.alias("a")
        b = F.broadcast(top.select(
            F.col("__s").alias("__s2"), F.col("vec_id").alias("__v2")
        )).alias("b")
        before = (F.col("b.__s2") > F.col("a.__s")) | (
            (F.col("b.__s2") == F.col("a.__s"))
            & (F.col("b.__v2") <= F.col("a.vec_id"))
        )
        return (
            a.join(b, before, "inner")
            .groupBy(F.col("a.vec_id").alias("vec_id"))
            .agg(F.count(F.lit(1)).cast("int").alias(name))
        )

    cosr = shortlist(V.cosine_similarity(x, q), "rc")
    dotr = shortlist(V.dot_product(x, q), "rd")
    sentinel = F.lit(1000000)
    fused = (
        cosr.join(dotr, "vec_id", "full_outer")
        .select(
            "vec_id",
            (
                1.0 / (60 + F.coalesce(F.col("rc"), sentinel))
                + 1.0 / (60 + F.coalesce(F.col("rd"), sentinel))
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.round("rrf", 6).alias("rrf_score"))
    )


@register(
    "knn_diversity_capped",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT vec_id, label,
             LEAST(GREATEST(list_cosine_similarity(
               embedding::DOUBLE[], (SELECT qe FROM q)), -1.0), 1.0) AS cos
      FROM embeddings),
    r AS (
      SELECT vec_id, label, cos,
             row_number() OVER (PARTITION BY label
                                ORDER BY cos DESC, vec_id ASC) AS lr
      FROM s)
    SELECT vec_id, label, ROUND(cos, 6) AS score
    FROM r WHERE lr <= 2
    ORDER BY cos DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_diversity_capped(spark, sf_dir):
    """Constrained top-k serving: the 10 best cosine matches with AT MOST
    2 results per label — the category-diversity cap every marketplace/
    news retrieval layer applies (MMR optimizes pairwise diversity at
    higher cost, `mmr_rerank`; a hard per-group cap is the cheap
    production default). One map-only scoring pass; the per-label cap
    is a WindowGroupLimit (rank <= 2 per label — Spark prunes to the
    top 2 per label BEFORE the final TakeOrdered, no global sort of
    the corpus); then the bounded global top-10. Same two-level top-k
    shape as `knn_grouped_topk` with the global limit applied AFTER
    the group cap instead of per group."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    x = F.col("embedding").cast("array<double>")
    s = emb.select("vec_id", "label", V.cosine_similarity(x, q).alias("cos"))
    w = Window.partitionBy("label").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    capped = s.withColumn("lr", F.row_number().over(w)).filter(F.col("lr") <= 2)
    return (
        capped.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", F.round("cos", 6).alias("score"))
    )



@register(
    "knn_reciprocal_pairs",
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
    ), e3 AS (SELECT src, dst, dist, rank FROM rk WHERE rank <= 3)
    SELECT a.src, a.dst,
           a.rank::BIGINT AS rank_ab, b.rank::BIGINT AS rank_ba,
           ROUND(a.dist, 6) AS dist
    FROM e3 a JOIN e3 b ON a.src = b.dst AND a.dst = b.src
    WHERE a.src < a.dst
    ORDER BY a.src ASC, a.dst ASC
    """,
)
def knn_reciprocal_pairs(spark, sf_dir):
    """Reciprocal (mutual) nearest-neighbor pairs: (a, b) such that b is in
    a's top-3 AND a is in b's top-3 of the IVF-blocked kNN join — the
    strictest, most precision-heavy link criterion in the retrieval
    toolbox (RNN pairs seed agglomerative clustering and are the
    high-confidence tier of embedding dedup, far stricter than a one-way
    edge: hubs collect many in-edges but reciprocate few). Built entirely
    from the existing kNN-join edge list (operators/similarity.knn_join):
    one self-equi-join of the 3n-row edge set on the reversed (src, dst)
    key — never the corpus — so the mutual filter costs one hash join on
    an already-small frame at any scale. Both directions' ranks are
    emitted; full-id ordering."""
    # Round-14 (guide §1.2): the IVF-blocked kNN join (centroid assign +
    # within-cell pair fan-out + per-src rank) is the whole cost of this
    # query, and the reversed self-join below otherwise rebuilds it on
    # both sides (before-plan: 8 scans / two full knn_join subtrees).
    # Round 15: the materialized edge list is the SESSION-shared
    # plans/knn.shared_knn_edges_k3 frame (same 3n rows), so the build
    # is also shared with knn_join_ivf / knn_graph_hubness / the recall
    # audit instead of being private to this query.
    from veri_spark.plans.knn import shared_knn_edges_k3

    edges = shared_knn_edges_k3(spark, sf_dir)
    rev = edges.select(
        F.col("src").alias("r_dst"),
        F.col("dst").alias("r_src"),
        F.col("rank").alias("rank_ba"),
    )
    return (
        edges.join(
            rev,
            (F.col("src") == F.col("r_src")) & (F.col("dst") == F.col("r_dst")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(
            "src",
            "dst",
            F.col("rank").cast("bigint").alias("rank_ab"),
            F.col("rank_ba").cast("bigint").alias("rank_ba"),
            F.round("dist", 6).alias("dist"),
        )
        .orderBy(F.col("src").asc(), F.col("dst").asc())
    )


@register(
    "ivf_silhouette_audit",
    f"""
    WITH d AS (
      SELECT e.vec_id, c.centroid_id,
             list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
      FROM embeddings e CROSS JOIN {_DD_CENTROIDS} c),
    r AS (SELECT vec_id, centroid_id, dist,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist ASC, centroid_id ASC)
                   AS rn
          FROM d),
    ab AS (SELECT a.vec_id, a.centroid_id, a.dist AS d1, b.dist AS d2
           FROM r a JOIN r b ON a.vec_id = b.vec_id
            AND a.rn = 1 AND b.rn = 2),
    s AS (SELECT centroid_id,
                 CAST(FLOOR(1e6 * CASE WHEN GREATEST(d1, d2) > 0
                                       THEN (d2 - d1) / GREATEST(d1, d2)
                                       ELSE 0.0 END + 0.5) AS BIGINT)
                   AS s_micro
          FROM ab)
    SELECT centroid_id, COUNT(*)::BIGINT AS n_vectors,
           CAST(round(SUM(s_micro) / (COUNT(*) * 1.0)) AS BIGINT)
             AS mean_sil_micro,
           MIN(s_micro)::BIGINT AS min_sil_micro
    FROM s GROUP BY centroid_id ORDER BY centroid_id ASC
    """,
)
def ivf_silhouette_audit(spark, sf_dir):
    """Simplified-silhouette quality audit of the IVF partition: for
    every vector, a = distance to its own centroid, b = distance to the
    runner-up centroid, s = (b-a)/max(a,b) in [0,1] — the per-cluster
    mean says how SEPARATED each inverted list is (mean near 0 = the
    cell's vectors sit on the boundary and nprobe=1 recall will be poor
    there; the per-cell floor `min_sil_micro` finds the worst-assigned
    vector). The centroid-quality companion to `ivf_balance_audit`
    (sizes) and `ann_ivf_recall_audit` (end-to-end recall): balance can
    be perfect while separation is terrible, and recall audits cost a
    full exact scan — this reads the geometry directly from one
    map-only pass.

    Scale + determinism: centroids fold into the plan as LITERALS (the
    `ivf_assign` idiom), so the nearest/runner-up pair comes from one
    array_sort over 8 in-row (distance, id) structs — map-only, ZERO
    shuffles over the corpus, then one partial-aggregated groupBy on
    the assigned cell. Distances are the same index-ordered
    sum-of-squares + correctly-rounded sqrt in both engines (the K1
    parity); s is micro-quantized per VECTOR (floor(x+0.5) on a
    provably nonnegative value), so cell means are single divisions of
    exact BIGINT sums."""
    from veri_spark.operators.similarity import _centroid_distances, take_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = take_centroids(emb, 8)
    arr = F.array_sort(_centroid_distances(F.col("embedding"), cents))
    d1 = arr[0].getField("d")
    d2 = arr[1].getField("d")
    s_micro = F.floor(
        F.lit(1e6)
        * F.when(
            F.greatest(d1, d2) > 0, (d2 - d1) / F.greatest(d1, d2)
        ).otherwise(F.lit(0.0))
        + F.lit(0.5)
    ).cast("bigint")
    per = emb.select(
        arr[0].getField("cid").alias("centroid_id"),
        s_micro.alias("s_micro"),
    )
    return (
        per.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(
                F.sum("s_micro") / (F.count(F.lit(1)) * F.lit(1.0))
            )
            .cast("bigint")
            .alias("mean_sil_micro"),
            F.min("s_micro").cast("bigint").alias("min_sil_micro"),
        )
        .orderBy(F.col("centroid_id").asc())
    )


@register(
    "knn_distance_concentration",
    """
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE CAST('0x' || substr(md5('conc|' || vec_id::VARCHAR), 1, 15)
                 AS BIGINT) % 4 = 0),
    p AS (SELECT CAST(FLOOR(1e6 * list_distance(a.e, b.e) + 0.5) AS BIGINT)
                   AS d_micro
          FROM s a JOIN s b ON a.vec_id < b.vec_id),
    agg AS (SELECT COUNT(*)::BIGINT AS n_pairs,
                   SUM(d_micro)::BIGINT AS s1,
                   SUM(CAST(d_micro AS DECIMAL(38,0)) * d_micro) AS s2,
                   MIN(d_micro)::BIGINT AS d_min,
                   MAX(d_micro)::BIGINT AS d_max
            FROM p)
    SELECT n_pairs, d_min, d_max,
           CAST(round(s1 * 1.0 / n_pairs) AS BIGINT) AS mean_micro,
           CAST(round(sqrt((n_pairs * 1.0 * s2::DOUBLE - s1::DOUBLE * s1)
                           / (n_pairs * 1.0 * n_pairs))) AS BIGINT)
             AS std_micro,
           CASE WHEN d_min > 0
                THEN ROUND((d_max - d_min) * 1.0 / d_min, 6)
                ELSE NULL END AS relative_contrast
    FROM agg
    """,
)
def knn_distance_concentration(spark, sf_dir):
    """Distance-concentration audit (Beyer et al., 'when is nearest
    neighbor meaningful'): over a deterministic 25% hash-sample of the
    embedding corpus, the coefficient of variation and the relative
    contrast (d_max - d_min)/d_min of all pairwise euclidean distances.
    As dimensionality effectively grows, distances concentrate
    (std/mean -> 0, contrast -> 0) and EVERY index — IVF, LSH, PQ —
    degrades toward brute force; this is the go/no-go diagnostic to run
    before investing in index tuning, next to `embedding_isotropy`
    (which probes directional spread, not distance spread).

    Scale + determinism: the sample is a pure hash function of vec_id
    (no RNG), so the pair set is reproducible; the modulus is the
    production knob — raise it with corpus size so the sampled COUNT
    (not fraction) stays ~constant and the pair quadratic stays bounded
    (concentration is a property of the distribution; a few hundred
    vectors measure it). Each distance is
    micro-quantized PER PAIR (floor(x+0.5) on the nonnegative
    correctly-rounded distance), so moments come from exact BIGINT /
    DECIMAL(38) power sums — no float accumulates across rows; mean,
    std, and contrast are fixed-order double expressions at the end.
    The contrast is guarded with d_min > 0 mirrored in both engines
    (round-8 advisor finding): a sample containing two exact-duplicate
    embeddings — the corpus HAS exact dups, that's why the dedup family
    exists — makes d_min 0, and x/0 semantics diverge cross-engine
    (DuckDB inf vs Spark ANSI throw); NULL states 'contrast undefined:
    duplicates present' instead of breaking the gate."""
    from veri_spark.functions.hashing import portable_hash64

    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.filter(
        portable_hash64(F.col("vec_id").cast("string"), seed="conc") % 4
        == 0
    ).select("vec_id", "embedding")
    a = s.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = s.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    # Round-14 (guide §1.2, same probe as twonn_intrinsic_dimension): the
    # pair-quadratic distance eval dominates; the codegen'd unrolled
    # add-chain (euclidean_distance_fixed — same fold order + per-term
    # coalesce, bit-identical) replaces the interpreted zip_with/aggregate
    # kernel. dim derives from the corpus max like knn_join.
    dim = int(emb.agg(F.max(F.size("embedding"))).collect()[0][0] or 0)
    p = a.join(F.broadcast(b), F.col("ia") < F.col("ib")).select(
        F.floor(
            F.lit(1e6)
            * V.euclidean_distance_fixed(F.col("ea"), F.col("eb"), dim)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("d_micro")
    )
    agg = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("d_micro").cast("bigint").alias("s1"),
        F.sum(F.col("d_micro").cast("decimal(38,0)") * F.col("d_micro")).alias(
            "s2"
        ),
        F.min("d_micro").cast("bigint").alias("d_min"),
        F.max("d_micro").cast("bigint").alias("d_max"),
    )
    return agg.select(
        "n_pairs",
        "d_min",
        "d_max",
        F.round(F.col("s1") * F.lit(1.0) / F.col("n_pairs"))
        .cast("bigint")
        .alias("mean_micro"),
        F.round(
            F.sqrt(
                (
                    F.col("n_pairs") * F.lit(1.0) * F.col("s2").cast("double")
                    - F.col("s1").cast("double") * F.col("s1")
                )
                / (F.col("n_pairs") * F.lit(1.0) * F.col("n_pairs"))
            )
        )
        .cast("bigint")
        .alias("std_micro"),
        F.when(
            F.col("d_min") > 0,
            F.round(
                (F.col("d_max") - F.col("d_min"))
                * F.lit(1.0)
                / F.col("d_min"),
                6,
            ),
        ).alias("relative_contrast"),
    )


# ---------------------------------------------------------------------------
# Round 10: full Lloyd convergence loop on exact micro-int coordinates —
# the missing piece between kmeans_pp_farthest_seeds / kmeans_step_inertia
# (one step) and the IVF/PQ codebook literals (round-9 verdict task 4).
# ---------------------------------------------------------------------------

def _lloyd_cte_parts(update_iters: int) -> list[str]:
    """Shared unrolled-CTE prefix for the Lloyd-loop oracles: the micro-int
    corpus (``em``), the k=8 lowest-id seed codebook (``c0``) and
    ``update_iters`` assign+update rounds producing ``c{t}``. Every
    quantity is exact integer arithmetic (see kmeans_lloyd_micro's
    docstring), so the chain is bit-identical cross-engine by
    construction — no rounded double ever feeds a downstream step.
    Composed by ``_lloyd_micro_sql`` (inertia) and ``_lloyd_recall_sql``
    (trained-vs-seed IVF recall)."""
    parts = [
        """
    WITH em AS (SELECT vec_id,
                       list_transform(embedding::DOUBLE[],
                         v -> CAST(FLOOR(1000000 * v + 0.5) AS BIGINT)) AS xm
                FROM embeddings),
         c0 AS (SELECT vec_id AS centroid_id,
                       list_transform(embedding::DOUBLE[],
                         v -> CAST(FLOOR(1000000 * v + 0.5) AS BIGINT)) AS cm
                FROM embeddings ORDER BY vec_id LIMIT 8)"""
    ]
    for t in range(1, update_iters + 1):
        parts.append(f"""
         d{t} AS (SELECT e.vec_id, e.xm, c.centroid_id,
                       CAST(list_sum(list_transform(range(1, len(e.xm) + 1),
                            j -> (e.xm[j] - c.cm[j]) * (e.xm[j] - c.cm[j])))
                            AS BIGINT) AS dist
                 FROM em e CROSS JOIN c{t - 1} c),
         a{t} AS (SELECT vec_id, xm, centroid_id FROM (
                   SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY dist ASC, centroid_id ASC) AS rn
                   FROM d{t}) WHERE rn = 1),
         m{t} AS (SELECT centroid_id, pos,
                        CAST(FLOOR(SUM(v) / COUNT(*) + 0.5) AS BIGINT) AS cv
                 FROM (SELECT centroid_id, generate_subscripts(xm, 1) AS pos,
                              unnest(xm) AS v
                       FROM a{t})
                 GROUP BY centroid_id, pos),
         n{t} AS (SELECT centroid_id, list(cv ORDER BY pos) AS cm FROM m{t}
                 GROUP BY centroid_id),
         c{t} AS (SELECT p.centroid_id, COALESCE(n.cm, p.cm) AS cm
                 FROM c{t - 1} p LEFT JOIN n{t} n USING (centroid_id))""")
    return parts


_MDIST = (
    "CAST(list_sum(list_transform(range(1, len({a}) + 1),"
    " j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j]))) AS BIGINT)"
)


def _lloyd_micro_sql(update_iters: int) -> str:
    """Oracle for ``kmeans_lloyd_converged``: the shared Lloyd CTE chain,
    then a final assignment + per-cluster exact inertia."""
    parts = _lloyd_cte_parts(update_iters)
    parts.append(f"""
         df AS (SELECT e.vec_id, c.centroid_id,
                      CAST(list_sum(list_transform(range(1, len(e.xm) + 1),
                           j -> (e.xm[j] - c.cm[j]) * (e.xm[j] - c.cm[j])))
                           AS BIGINT) AS dist
                FROM em e CROSS JOIN c{update_iters} c),
         af AS (SELECT vec_id, centroid_id, dist FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, centroid_id ASC) AS rn
                  FROM df) WHERE rn = 1)
    SELECT centroid_id, COUNT(*)::BIGINT AS n_assigned,
           SUM(dist)::BIGINT AS inertia_micro2
    FROM af GROUP BY centroid_id""")
    return ",".join(parts)


@register("kmeans_lloyd_converged", _lloyd_micro_sql(3))
def kmeans_lloyd_converged(spark, sf_dir):
    """Full Lloyd convergence loop (3 update iterations from the k=8
    lowest-id seeds, then final assignment): per-cluster population and
    EXACT integer inertia under the trained codebook — the converged-
    codebook training `kmeans_step_inertia` (one step) and
    `kmeans_pp_farthest_seeds` (seeding) bracketed but never closed; the
    reference rebuilds its whole index per Process pass the same way
    (data/newsync.go:147-222).

    Everything is micro-int arithmetic (floor(1e6*x + 0.5) BIGINTs), so
    distances, argmin ties, centroid updates, and inertia are bit-exact
    cross-engine BY CONSTRUCTION — this is the strongest parity discipline
    in the registry (the 6dp-rounding idiom merely makes ulp flips
    unlikely; exact integers make them impossible). Execution shape per
    iteration: one map-only literal-centroid argmin (array_min over k
    (dist, id) structs — no shuffle, no window) + one (cluster, dim)
    partial-aggregated sum/count collecting 8x64 integers to the driver;
    the persisted micro corpus never shuffles on vec_id and lineage never
    grows (each iteration plans from the persisted frame — the pagerank
    loop's localCheckpoint is unnecessary here and that asymmetry is
    deliberate). The invariant inertia[t+1] <= inertia[t] + 0.25*n*dim
    (Lloyd monotonicity + the exact quantization penalty
    sum n_c*delta^2, |delta| <= 0.5) is asserted per iteration in
    tests/test_round10_units.py. At 100 TB: iterations add scans, never
    joins; the 0.25*n*dim slack and the BIGINT headroom (sums < 2^62
    until ~10^12 rows/cluster) both survive."""
    from veri_spark.operators.similarity import (
        kmeans_lloyd_micro,
        kmeans_micro_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents, history = kmeans_lloyd_micro(emb, k=8, iters=3)
    assigned = kmeans_micro_assign(emb, cents)
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        F.sum("dist").cast("bigint").alias("inertia_micro2"),
    )


def _lloyd_recall_sql(update_iters: int) -> str:
    """Oracle for ``ann_ivf_recall_trained``: the shared Lloyd CTE chain
    trains ``c{update_iters}``; then for BOTH codebooks (seed ``c0`` and
    the trained one) the full IVF serving path replays in exact micro-int
    arithmetic — assignment argmin, 2-probe centroid ranking per query,
    candidate top-10 — and recall@10 is counted against the exact
    brute-force top-10."""
    parts = _lloyd_cte_parts(update_iters)
    d_eq = _MDIST.format(a="e.xm", b="q.qm")
    d_ec = _MDIST.format(a="e.xm", b="c.cm")
    d_qc = _MDIST.format(a="q.qm", b="c.cm")
    parts.append(f"""
         qs AS (SELECT vec_id AS query_id, xm AS qm FROM em
                WHERE vec_id IN (0, 1, 2)),
         exact AS (SELECT query_id, vec_id FROM (
             SELECT q.query_id, e.vec_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY {d_eq} ASC, e.vec_id ASC) AS rn
             FROM em e CROSS JOIN qs q) WHERE rn <= 10)""")
    for tag, cb in (("seed", "c0"), ("trained", f"c{update_iters}")):
        parts.append(f"""
         asg_{tag} AS (SELECT vec_id, centroid_id FROM (
             SELECT e.vec_id, c.centroid_id,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY {d_ec} ASC, c.centroid_id ASC) AS rn
             FROM em e CROSS JOIN {cb} c) WHERE rn = 1),
         prb_{tag} AS (SELECT query_id, centroid_id FROM (
             SELECT q.query_id, c.centroid_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY {d_qc} ASC, c.centroid_id ASC) AS pr
             FROM qs q CROSS JOIN {cb} c) WHERE pr <= 2),
         apx_{tag} AS (SELECT query_id, vec_id FROM (
             SELECT p.query_id, e.vec_id,
                    row_number() OVER (PARTITION BY p.query_id
                      ORDER BY {d_eq} ASC, e.vec_id ASC) AS rn
             FROM prb_{tag} p
             JOIN asg_{tag} a ON a.centroid_id = p.centroid_id
             JOIN em e ON e.vec_id = a.vec_id
             JOIN qs q ON q.query_id = p.query_id) WHERE rn <= 10),
         rec_{tag} AS (SELECT x.query_id,
                SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_hit
             FROM exact x LEFT JOIN apx_{tag} a
               ON a.query_id = x.query_id AND a.vec_id = x.vec_id
             GROUP BY x.query_id)""")
    parts.append("""
         u AS (SELECT query_id, 'seed' AS codebook, n_hit FROM rec_seed
               UNION ALL
               SELECT query_id, 'trained' AS codebook, n_hit
               FROM rec_trained)
    SELECT query_id, codebook, n_hit,
           ROUND(n_hit / 10.0, 6) AS recall_at_10
    FROM u ORDER BY query_id ASC, codebook ASC""")
    return ",".join(parts)


@register("ann_ivf_recall_trained", _lloyd_recall_sql(2))
def ann_ivf_recall_trained(spark, sf_dir):
    """What Lloyd training BUYS the index (round-10 verdict task 3):
    recall@10 of the 2-probe IVF path under the Lloyd-refined codebook
    (2 update iterations) vs the deterministic lowest-id seed codebook,
    on the same 3 queries — the number `store.refresh_index(kmeans_iters=N)`
    exists to improve, and the loop the reference's Process pass implies
    (index quality maintained by periodic retraining,
    data/newsync.go:147-222).

    The whole path — assignment argmin, per-query probe ranking,
    candidate scoring, the exact truth side — runs in MICRO-INT
    arithmetic (floor(1e6*x + 0.5) BIGINTs, the kmeans_lloyd_converged
    discipline), so every rank and recall count is bit-exact
    cross-engine by construction. Execution shape: the trained codebook
    comes from kmeans_lloyd_micro (one map-only argmin + one (cluster,
    dim) partial agg per iteration); both codebooks then serve as plan
    LITERALS — assignment is a map-only array_min (kmeans_micro_assign,
    zero shuffles), probe selection is exact integer math on the driver
    over k=8 rows, each candidate set is a bucket-pruned semi-join, and
    every top-10 is a bounded TakeOrdered. At 100 TB: train on a sample,
    assign map-only, probe with partition pruning — identical shape.
    Recall delta at both SFs is recorded in SCALING.md."""
    from veri_spark.operators.similarity import (
        kmeans_lloyd_micro,
        kmeans_micro_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    trained, _hist = kmeans_lloyd_micro(emb, k=8, iters=2)
    micro = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda v: F.floor(F.lit(1000000.0) * v + F.lit(0.5)).cast("bigint"),
    )
    seeds = [
        (int(r["vec_id"]), [int(x) for x in r["xm"]])
        for r in emb.select("vec_id", micro.alias("xm"))
        .orderBy("vec_id")
        .limit(8)
        .collect()
    ]
    queries = {
        int(r["vec_id"]): [int(x) for x in r["xm"]]
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2]))
        .select("vec_id", micro.alias("xm"))
        .collect()
    }
    src = emb.select("vec_id", micro.alias("xm"))

    def mdist(qm):
        return F.aggregate(
            F.zip_with(
                F.col("xm"),
                F.lit(qm).cast("array<bigint>"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    def top10(df, qid, qm):
        scored = df.select("vec_id", mdist(qm).alias("d"))
        return topk(
            scored, "d", 10, higher_is_better=False, tie_cols=["vec_id"]
        ).select(F.lit(qid).cast("bigint").alias("query_id"), "vec_id")

    exact = None
    for qid in sorted(queries):
        e = top10(src, qid, queries[qid])
        exact = e if exact is None else exact.unionByName(e)

    hit = F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
    out = None
    for tag, cb in (("seed", seeds), ("trained", trained)):
        assigned = kmeans_micro_assign(emb, cb)
        approx = None
        for qid in sorted(queries):
            qm = queries[qid]
            # probe selection: exact integer distances over k=8 driver
            # rows, ties by centroid_id — same order as the oracle's
            dd = sorted(
                (sum((a - b) * (a - b) for a, b in zip(qm, cm)), cid)
                for cid, cm in cb
            )
            probe_ids = [cid for _, cid in dd[:2]]
            cand = src.join(
                assigned.filter(F.col("centroid_id").isin(probe_ids)).select(
                    "vec_id"
                ),
                "vec_id",
            )
            a = top10(cand, qid, qm)
            approx = a if approx is None else approx.unionByName(a)
        rec = (
            exact.join(
                approx.withColumn("__hit", F.lit(1)),
                ["query_id", "vec_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(hit.cast("bigint").alias("n_hit"))
            .select(
                "query_id",
                F.lit(tag).alias("codebook"),
                "n_hit",
                F.round(F.col("n_hit") / F.lit(10.0), 6).alias("recall_at_10"),
            )
        )
        out = rec if out is None else out.unionByName(rec)
    return out.orderBy(F.col("query_id").asc(), F.col("codebook").asc())


@register(
    "knn_shapley_data_values",
    f"""
    WITH tr AS (SELECT vec_id, label,
                       list_distance(embedding::DOUBLE[], {_Q0}) AS dist
                FROM embeddings WHERE vec_id <> 0),
    y AS (SELECT label AS yq FROM embeddings WHERE vec_id = 0),
    r AS (SELECT vec_id, dist,
                 CASE WHEN label = (SELECT yq FROM y) THEN 1 ELSE 0
                 END AS m,
                 ROW_NUMBER() OVER (ORDER BY dist ASC, vec_id ASC) AS rn
          FROM tr),
    n AS (SELECT COUNT(*)::BIGINT AS n FROM r),
    d AS (SELECT a.rn,
                 CAST(round(1e12 * (a.m - b.m) / 5.0
                            * LEAST(5, a.rn) / a.rn) AS BIGINT) AS dq
          FROM r a JOIN r b ON b.rn = a.rn + 1),
    pre AS (SELECT rn, dq,
                   SUM(dq) OVER (ORDER BY rn ASC) - dq AS pex
            FROM d),
    dt AS (SELECT SUM(dq)::BIGINT AS dtot FROM d),
    sn AS (SELECT r.m * 1.0 / n.n AS s_last FROM r CROSS JOIN n
           WHERE r.rn = n.n),
    s AS (SELECT r.vec_id, r.rn, r.m,
                 sn.s_last + (dt.dtot - COALESCE(pre.pex, 0)) / 1e12 AS sv
          FROM r LEFT JOIN pre ON pre.rn = r.rn
          CROSS JOIN sn CROSS JOIN dt CROSS JOIN n
          WHERE r.rn < n.n
          UNION ALL
          SELECT r.vec_id, r.rn, r.m, sn.s_last AS sv
          FROM r CROSS JOIN sn CROSS JOIN n WHERE r.rn = n.n),
    top AS (SELECT 'top' AS side, vec_id, rn, m, sv FROM s
            ORDER BY sv DESC, vec_id ASC LIMIT 5),
    bot AS (SELECT 'bottom' AS side, vec_id, rn, m, sv FROM s
            ORDER BY sv ASC, vec_id ASC LIMIT 5)
    SELECT side, vec_id, rn AS rank_by_distance, m AS same_label,
           ROUND(sv, 6) AS shapley_value
    FROM (SELECT * FROM top UNION ALL SELECT * FROM bot) z
    ORDER BY side ASC, vec_id ASC
    """,
)
def knn_shapley_data_values(spark, sf_dir):
    """Exact Data Shapley values of every training point for the 5-NN
    classification of query vec 0 (Jia et al., VLDB 2019: for KNN
    utility the exponential Shapley sum collapses to one closed-form
    recursion over the distance ranking) -- the data-VALUATION readout
    a training-data market or pruning pass runs: `knn_label_accuracy`
    says how good the neighborhood is, this says WHICH points deserve
    the credit (positive: same-label points near the query; negative:
    wrong-label points that crowd the top-K). The recursion s_i =
    s_(i+1) + (m_i - m_(i+1))/K * min(K,i)/i needs only: the global
    distance ranking (the distributed global_row_number analog;
    DuckDB's window is the oracle side), consecutive-rank deltas from
    ONE self-join on rn+1 (no window in Spark), and a SUFFIX sum --
    computed as total-minus-exclusive-prefix via the distributed
    prefix scan on pico-quantized deltas, so every fold is exact.
    Output: the 5 most valuable and 5 least valuable points.

    Scale: one scored scan, one distributed ranking, one rn+1
    equi-join, one prefix scan, two TakeOrdered(5) selections --
    no window over the corpus in the Spark plan and nothing
    quadratic anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    yq = emb.filter(F.col("vec_id") == 0).select(
        F.col("label").alias("yq")
    )
    tr = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "label",
        V.euclidean_distance(F.col("embedding"), q).alias("dist"),
    )
    from veri_spark.operators.ranking import (
        global_prefix_agg,
        global_row_number,
    )

    r = tr.crossJoin(F.broadcast(yq)).select(
        "vec_id",
        "dist",
        F.when(F.col("label") == F.col("yq"), 1).otherwise(0).alias("m"),
    )
    r = global_row_number(
        r, [F.col("dist").asc(), F.col("vec_id").asc()], rn_col="rn"
    ).select("vec_id", "m", "rn")
    n = r.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = r.select(F.col("rn").alias("ra"), F.col("m").alias("ma"))
    b = r.select(F.col("rn").alias("rb"), F.col("m").alias("mb"))
    d = a.join(b, F.col("rb") == F.col("ra") + 1).select(
        F.col("ra").alias("rn"),
        F.round(
            F.lit(1e12)
            * (F.col("ma") - F.col("mb"))
            / F.lit(5.0)
            * F.least(F.lit(5), F.col("ra"))
            / F.col("ra")
        )
        .cast("bigint")
        .alias("dq"),
    )
    pre = global_prefix_agg(
        d, [F.col("rn").asc()], "dq", agg="sum", out_col="pin"
    ).select("rn", (F.col("pin") - F.col("dq")).alias("pex"))
    dt = d.agg(F.sum("dq").cast("bigint").alias("dtot"))
    sn = (
        r.crossJoin(F.broadcast(n))
        .filter(F.col("rn") == F.col("n"))
        .select((F.col("m") * F.lit(1.0) / F.col("n")).alias("s_last"))
    )
    body = (
        r.crossJoin(F.broadcast(n))
        .filter(F.col("rn") < F.col("n"))
        .join(pre, "rn", "left")
        .crossJoin(F.broadcast(sn))
        .crossJoin(F.broadcast(dt))
        .select(
            "vec_id",
            "rn",
            "m",
            (
                F.col("s_last")
                + (F.col("dtot") - F.coalesce(F.col("pex"), F.lit(0)))
                / F.lit(1e12)
            ).alias("sv"),
        )
    )
    last = (
        r.crossJoin(F.broadcast(n))
        .filter(F.col("rn") == F.col("n"))
        .crossJoin(F.broadcast(sn))
        .select("vec_id", "rn", "m", F.col("s_last").alias("sv"))
    )
    s = body.unionByName(last)
    top = (
        s.orderBy(F.col("sv").desc(), F.col("vec_id").asc())
        .limit(5)
        .select(F.lit("top").alias("side"), "vec_id", "rn", "m", "sv")
    )
    bot = (
        s.orderBy(F.col("sv").asc(), F.col("vec_id").asc())
        .limit(5)
        .select(F.lit("bottom").alias("side"), "vec_id", "rn", "m", "sv")
    )
    return (
        top.unionByName(bot)
        .select(
            "side",
            "vec_id",
            F.col("rn").alias("rank_by_distance"),
            F.col("m").alias("same_label"),
            F.round(F.col("sv"), 6).alias("shapley_value"),
        )
        .orderBy(F.col("side").asc(), F.col("vec_id").asc())
    )


def _ivfpq_audit_sql(include_trained: bool) -> str:
    """Oracle builder shared by ``ann_ivfpq_trained_audit`` (both
    codebook generations) and ``ann_ivfpq_seed_serving`` (seed only):
    the coarse Lloyd chain (c0, and c0 -> c2 when the trained generation
    is included) plus ONE micro-int Lloyd round per PQ subspace
    (b0 -> b1, all m subspaces in one keyed CTE chain, trained only),
    then per requested generation the full IVF-PQ serving path —
    assignment, 2-probe, integer ADC scoring on codes, top-10 — and the
    corpus-total PQ quantization error, all in exact BIGINT arithmetic."""
    parts = _lloyd_cte_parts(2 if include_trained else 0)
    sub = _PQ_SUB
    sd = (
        f"CAST(list_sum(list_transform(range(1, {sub + 1}),"
        f" t -> (e.xm[b.j*{sub}+t] - b.bm[t])"
        f" * (e.xm[b.j*{sub}+t] - b.bm[t]))) AS BIGINT)"
    )
    d_eq = _MDIST.format(a="e.xm", b="q.qm")
    d_ec = _MDIST.format(a="e.xm", b="c.cm")
    d_qc = _MDIST.format(a="q.qm", b="c.cm")
    parts.append(f"""
         js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
         b0 AS (SELECT js.j, e.vec_id::INT AS c,
                       e.xm[js.j*{sub}+1 : js.j*{sub}+{sub}] AS bm
                FROM em e CROSS JOIN js WHERE e.vec_id < {_PQ_K})""")
    if include_trained:
        parts.append(f"""
         pd1 AS (SELECT e.vec_id, b.j, b.c,
                        e.xm[b.j*{sub}+1 : b.j*{sub}+{sub}] AS sx,
                        {sd} AS d
                 FROM em e CROSS JOIN b0 b),
         pa1 AS (SELECT vec_id, j, c, sx FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id, j
                            ORDER BY d ASC, c ASC) AS rn
                  FROM pd1) WHERE rn = 1),
         pm1 AS (SELECT j, c, pos,
                        CAST(FLOOR(SUM(v) / COUNT(*) + 0.5) AS BIGINT) AS cv
                 FROM (SELECT j, c, generate_subscripts(sx, 1) AS pos,
                              unnest(sx) AS v
                       FROM pa1)
                 GROUP BY j, c, pos),
         pn1 AS (SELECT j, c, list(cv ORDER BY pos) AS bm FROM pm1
                 GROUP BY j, c),
         b1 AS (SELECT b.j, b.c, COALESCE(n.bm, b.bm) AS bm
                FROM b0 b LEFT JOIN pn1 n ON n.j = b.j AND n.c = b.c)""")
    parts.append(f"""
         qs AS (SELECT vec_id AS query_id, xm AS qm FROM em
                WHERE vec_id IN (0, 1, 2)),
         exact AS (SELECT query_id, vec_id FROM (
             SELECT q.query_id, e.vec_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY {d_eq} ASC, e.vec_id ASC) AS rn
             FROM em e CROSS JOIN qs q) WHERE rn <= 10)""")
    gens = (
        (("seed", "c0", "b0"), ("trained", "c2", "b1"))
        if include_trained
        else (("seed", "c0", "b0"),)
    )
    for tag, cb, pb in gens:
        parts.append(f"""
         cd_{tag} AS (SELECT e.vec_id, b.j, b.c, b.bm, {sd} AS d
                 FROM em e CROSS JOIN {pb} b),
         cc_{tag} AS (SELECT vec_id, j, c, bm, d FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id, j
                            ORDER BY d ASC, c ASC) AS rn
                  FROM cd_{tag}) WHERE rn = 1),
         er_{tag} AS (SELECT SUM(d)::BIGINT AS adc_err FROM cc_{tag}),
         asg_{tag} AS (SELECT vec_id, centroid_id FROM (
             SELECT e.vec_id, c.centroid_id,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY {d_ec} ASC, c.centroid_id ASC) AS rn
             FROM em e CROSS JOIN {cb} c) WHERE rn = 1),
         prb_{tag} AS (SELECT query_id, centroid_id FROM (
             SELECT q.query_id, c.centroid_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY {d_qc} ASC, c.centroid_id ASC) AS pr
             FROM qs q CROSS JOIN {cb} c) WHERE pr <= 2),
         adc_{tag} AS (SELECT p.query_id, a.vec_id,
                 CAST(SUM(list_sum(list_transform(range(1, {sub + 1}),
                      t -> (q.qm[cc.j*{sub}+t] - cc.bm[t])
                         * (q.qm[cc.j*{sub}+t] - cc.bm[t])))) AS BIGINT)
                   AS adc
             FROM prb_{tag} p
             JOIN asg_{tag} a USING (centroid_id)
             JOIN cc_{tag} cc ON cc.vec_id = a.vec_id
             JOIN qs q ON q.query_id = p.query_id
             GROUP BY p.query_id, a.vec_id),
         apx_{tag} AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY adc ASC, vec_id ASC) AS rn
             FROM adc_{tag}) WHERE rn <= 10),
         rec_{tag} AS (SELECT
                 SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
                     END)::BIGINT AS n_hit
             FROM exact x LEFT JOIN apx_{tag} a
               ON a.query_id = x.query_id AND a.vec_id = x.vec_id)""")
    selects = [
        f"""
      SELECT '{tag}' AS codebook, er_{tag}.adc_err AS pq_err_micro2,
             rec_{tag}.n_hit AS n_hit_total,
             ROUND(rec_{tag}.n_hit / 30.0, 6) AS recall_at_10
      FROM er_{tag} CROSS JOIN rec_{tag}"""
        for tag, _, _ in gens
    ]
    final = (
        "\n    SELECT * FROM ("
        + "\n      UNION ALL".join(selects)
        + ")\n    ORDER BY codebook ASC"
    )
    return ",".join(parts) + final


def _ivfpq_exact_and_queries(spark, sf_dir, st) -> None:
    """Populate the session state with the 3 micro query vectors and the
    30-row exact top-10 truth set. The 3 brute scans ride ONE Arrow pass
    (a single mapInPandas emits each row's exact squared micro distance
    to all three queries — guide §4.2; the old shape planned three
    separate 64-term interpreted zip_with folds) + three bounded topk
    heads collected in one job."""
    if "exact_rows" in st:
        return
    import numpy as np
    import pandas as pd

    from veri_spark.operators.similarity import _micro_quantize_np, _micro_xm

    emb = load_table(spark, sf_dir, "embeddings")
    queries = {
        int(r["vec_id"]): [int(x) for x in r["xm"]]
        for r in emb.filter(F.col("vec_id").isin([0, 1, 2]))
        .select("vec_id", _micro_xm().alias("xm"))
        .collect()
    }
    qids = sorted(queries)
    qmat = np.array([queries[q] for q in qids], dtype=np.int64)

    def dists(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            xm = _micro_quantize_np(pdf["embedding"].to_numpy())
            diff = xm[:, None, :] - qmat[None, :, :]
            d = (diff * diff).sum(axis=2)
            cols = {"vec_id": pdf["vec_id"].to_numpy()}
            for i in range(len(qids)):
                cols[f"d{i}"] = d[:, i]
            yield pd.DataFrame(cols)

    dcols = emb.select("vec_id", "embedding").mapInPandas(
        dists,
        "vec_id bigint, " + ", ".join(f"d{i} bigint" for i in range(len(qids))),
    ).persist()
    exact = None
    for i, qid in enumerate(qids):
        e = topk(
            dcols.select("vec_id", F.col(f"d{i}").alias("d")),
            "d", 10, higher_is_better=False, tie_cols=["vec_id"],
        ).select(F.lit(qid).cast("bigint").alias("query_id"), "vec_id")
        exact = e if exact is None else exact.unionByName(e)
    rows = exact.collect()
    dcols.unpersist()
    st["queries"] = queries
    st["exact_rows"] = [(int(r["query_id"]), int(r["vec_id"])) for r in rows]


def _ivfpq_generation_row(spark, sf_dir, st, tag, coarse, books):
    """One generation's audit row (codebook tag, exact corpus PQ error,
    exact hit count): encode via the Arrow pq_micro_encode kernel, assign
    map-only, ADC-score the 2-probe candidates on literal LUTs, TakeOrdered
    top-10 per query, count hits against the literal exact frame — ONE
    collect for the whole generation."""
    from veri_spark.operators.similarity import (
        kmeans_micro_assign,
        pq_micro_adc_lut,
        pq_micro_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = st["queries"]
    codes = pq_micro_encode(emb, books).persist()
    # persist: the encode pass has 4 consumers (error agg + 3 probe joins)
    # — at 100 TB this is exactly the persisted pq_code column
    # refresh_index writes
    err_df = codes.agg(F.sum("qerr").cast("bigint").alias("pq_err_micro2"))
    assigned = kmeans_micro_assign(emb, coarse).persist()
    approx = None
    for qid in sorted(queries):
        qm = queries[qid]
        lut = pq_micro_adc_lut(qm, books)
        dd = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qm, cm)), cid)
            for cid, cm in coarse
        )
        probe_ids = [cid for _, cid in dd[:2]]
        adc = sum(
            (
                F.element_at(
                    F.lit(lut[j]).cast("array<bigint>"),
                    F.col(f"code_{j}") + 1,
                )
                for j in range(1, _PQ_M)
            ),
            F.element_at(
                F.lit(lut[0]).cast("array<bigint>"), F.col("code_0") + 1
            ),
        )
        cand = codes.join(
            assigned.filter(F.col("centroid_id").isin(probe_ids)).select(
                "vec_id"
            ),
            "vec_id",
        ).select("vec_id", adc.cast("bigint").alias("adc"))
        a = topk(
            cand, "adc", 10, higher_is_better=False, tie_cols=["vec_id"]
        ).select(F.lit(qid).cast("bigint").alias("query_id"), "vec_id")
        approx = a if approx is None else approx.unionByName(a)
    exact = spark.createDataFrame(
        st["exact_rows"], "query_id bigint, vec_id bigint"
    )
    hits = (
        exact.join(
            F.broadcast(approx.withColumn("__hit", F.lit(1))),
            ["query_id", "vec_id"],
            "left",
        )
        .agg(
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit_total")
        )
    )
    row = err_df.crossJoin(hits).collect()[0]
    codes.unpersist()
    assigned.unpersist()
    return (tag, int(row["pq_err_micro2"]), int(row["n_hit_total"]))


def _ivfpq_audit_impl(spark, sf_dir, include_trained: bool):
    """Shared execution core of the IVF-PQ audit pair — see the two
    registered wrappers for semantics and cadence. Round-14 optimization:
    the seed-generation replay (codebooks, exact truth set, encode,
    serving) is computed once per session and shared between the pair
    through the ``ivfpq_state`` session-cache entry (bounded: 3 query
    vectors, 30 exact rows, the 8+8x16 codebooks and two 3-tuple audit
    rows); the heavy per-row kernels (quantize, encode,
    coarse assign, brute distances) run as exact-int64 Arrow numpy
    batches (guide §4.2) instead of m*k interpreted HOF expression trees.
    Both audit numbers are unchanged bit for bit: every kernel is integer
    arithmetic with the same argmin tie-breaks (pinned against the
    pure-Python brute replay in tests/test_round12_ivfpq_brute.py)."""
    from veri_spark.operators.similarity import (
        _micro_xm,
        kmeans_lloyd_micro,
        pq_train_micro,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    st = session_cached(spark, sf_dir, "ivfpq_state", dict)
    _ivfpq_exact_and_queries(spark, sf_dir, st)
    if "row_seed" not in st:
        seed_coarse = [
            (int(r["vec_id"]), [int(x) for x in r["xm"]])
            for r in emb.select("vec_id", _micro_xm().alias("xm"))
            .orderBy("vec_id")
            .limit(8)
            .collect()
        ]
        seed_books = pq_train_micro(emb, m=_PQ_M, k=_PQ_K, iters=0)
        st["seed_gen"] = (seed_coarse, seed_books)
        st["row_seed"] = _ivfpq_generation_row(
            spark, sf_dir, st, "seed", seed_coarse, seed_books
        )
    rows = [st["row_seed"]]
    if include_trained:
        if "row_trained" not in st:
            trained_coarse, _hist = kmeans_lloyd_micro(emb, k=8, iters=2)
            trained_books = pq_train_micro(emb, m=_PQ_M, k=_PQ_K, iters=1)
            st["row_trained"] = _ivfpq_generation_row(
                spark, sf_dir, st, "trained", trained_coarse, trained_books
            )
        rows.append(st["row_trained"])
    out = spark.createDataFrame(
        rows, "codebook string, pq_err_micro2 bigint, n_hit_total bigint"
    )
    return out.select(
        "codebook",
        "pq_err_micro2",
        "n_hit_total",
        F.round(F.col("n_hit_total") / F.lit(30.0), 6).alias("recall_at_10"),
    ).orderBy(F.col("codebook").asc())


@register("ann_ivfpq_trained_audit", _ivfpq_audit_sql(include_trained=True))
def ann_ivfpq_trained_audit(spark, sf_dir):
    """IVF-PQ with TRAINED codebooks end-to-end (round-11 verdict task
    5, completing `ann_ivf_recall_trained` + `pq_subspace_error`): BOTH
    the coarse quantizer (2 micro-int Lloyd iterations, k=8) and the PQ
    sub-codebooks (1 micro-int Lloyd round per subspace, m=8 x k=16 —
    `pq_train_micro`) are retrained from their deterministic lowest-id
    seeds, and for each generation the audit reports (a) the corpus-
    total exact PQ quantization error (the ADC error floor — what
    `store.refresh_index(pq_m=..., kmeans_iters=N)` training buys the
    compressed scan) and (b) recall@10 of the full 2-probe IVF-PQ ADC
    serving path against the exact top-10, over queries {0, 1, 2}.

    Everything is micro-int arithmetic (the kmeans_lloyd_converged
    discipline), so codebooks, codes, ADC ranks and both audit numbers
    are bit-exact cross-engine BY CONSTRUCTION. Execution shape: coarse
    training is the kmeans_lloyd_micro loop (map-only argmin + one
    (cluster, dim) partial agg per iteration); PQ training is ONE corpus
    scan + ONE (subspace, code, pos) partial agg per round for ALL m
    subspaces; encoding is m map-only array_min columns (each inside
    codegen limits — see pq_micro_code_cols); ADC is an m-term literal-
    LUT lookup sum on the codes; every top-10 is a bounded TakeOrdered.
    At 100 TB: train on a sample, encode map-only at ingest, serve on
    codes with partition-pruned probes — identical shape, and the float
    vectors never leave the scan after encoding.

    Bench cadence (round 14, r13 verdict task 2): the 2-generation
    TRAINING comparison is pure offline-audit weight, so it joins the
    exact wedge census on the even-round bench cadence
    (EXACT_AUDIT_EVERY_OTHER_ROUND in bench.py); the every-round bench
    number is `ann_ivfpq_seed_serving` — the serving path a query
    actually pays. The strict local gate still runs THIS full audit at
    both SFs every round."""
    return _ivfpq_audit_impl(spark, sf_dir, include_trained=True)


@register("ann_ivfpq_seed_serving", _ivfpq_audit_sql(include_trained=False))
def ann_ivfpq_seed_serving(spark, sf_dir):
    """The IVF-PQ SERVING path alone, on the deterministic seed
    codebooks: encode the corpus (m map-only array_min code columns),
    2-probe coarse assignment, integer ADC top-10 for queries {0,1,2},
    plus the corpus-total quantization error — i.e. exactly what a
    production query pays once codebooks exist, with none of
    `ann_ivfpq_trained_audit`'s Lloyd retraining replay. Benched EVERY
    round (its trained sibling runs the 2-generation training comparison
    on even rounds only); both are oracle-paired in the strict gate at
    both SFs every round. Same bit-exact micro-int discipline and the
    same 100 TB shape: codes are a persisted column, probes partition-
    prune, the float vectors never leave the scan after encoding."""
    return _ivfpq_audit_impl(spark, sf_dir, include_trained=False)
