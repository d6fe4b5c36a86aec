"""Retrieval-quality metrics for the ANN serving path: nDCG, MRR,
Spearman-footrule displacement, and the recall@k operating curve — the
offline evaluation harness a serving team runs whenever the index build
(centroids, nprobe, quantization) changes.

All four queries share one experimental frame: the EXACT brute-force
ranking (the map-only K1 scan, ranked per query) is ground truth; the
APPROXIMATE ranking is the production IVF probe path (nprobe=2 of 8
cells, the `ann_ivf_search` plan). Metrics compare the two rankings with
INTEGER arithmetic wherever a sum crosses rows — log-discount weights are
precomputed micro-unit literals (computed once in Python and injected
into BOTH engines, because log2() is not guaranteed correctly rounded and
a 1-ulp engine difference would flip a rounded metric), reciprocal ranks
are single divisions of small integers, displacement is |int - int|.

At 100 TB the frame is the same: run the exact scan for a SAMPLED query
log (the audit costs queries × corpus-scan — identical to serving those
queries twice), keep the metric joins on the tiny top-k frames.

Registered into ``plans._base.QUERIES``/``ORACLES`` at import like every
domain module.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions import vector as V  # noqa: F401
from veri_spark.functions.literals import literal_map
from veri_spark.operators.topk import topk_per_group  # noqa: F401
from veri_spark.sources.catalog import load_table  # noqa: F401

from veri_spark.plans._base import (  # noqa: F401
    _DD_CENTROIDS,
    _query_vector,
    register,
    session_cached,
)

_QVIDS = (0, 1, 2)

# micro-unit DCG discount weights 1/log2(r+1), precomputed ONCE here and
# injected as literals into both engines (see module docstring)
_NDCG_W = {r: round(1e6 / math.log2(r + 1)) for r in range(1, 21)}


def _dd_ranked(k: int) -> str:
    """Shared DuckDB frame: exact and IVF-approximate rankings (rank kept),
    one row per (query_id, vec_id, rank), rank <= k."""
    return f"""
    qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
           FROM embeddings WHERE vec_id IN {_QVIDS}),
    exact AS (
      SELECT query_id, vec_id, rn FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], q.qvec) ASC,
                          e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN qs q
      ) WHERE rn <= {k}
    ),
    cents AS {_DD_CENTROIDS},
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.query_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_distance(c.cvec, q.qvec) ASC, c.centroid_id ASC)
                 AS pr
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
      SELECT query_id, vec_id, rn FROM (
        SELECT p.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY list_distance(e.embedding::DOUBLE[], q.qvec) ASC,
                          e.vec_id ASC) AS rn
        FROM probes p
        JOIN assigned a ON a.centroid_id = p.centroid_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN qs q ON q.query_id = p.query_id
      ) WHERE rn <= {k}
    )
    """


def _spark_ranked(spark, sf_dir, k: int):
    """Spark twin of :func:`_dd_ranked`: (exact, approx) DataFrames with
    columns (query_id, vec_id, rn), rn <= k. Exact is the map-only scan +
    the distributed bounded top-k (`topk_with_rank`: TakeOrderedAndProject
    + bounded in-frame rank count — a literal-keyed ranking window would
    constant-fold its partition spec away and plan a single-partition
    global sort); approx is the IVF probe path over the literal-centroid
    assignment (partition pruning at scale). Computed once per
    (session, sf_dir, k) through ``_base.session_cached`` — whichever of
    the six ranking-audit consumers runs first pays the two corpus-scan
    rankings — and replayed as literal rows (<= 3*k rows per side)."""

    def build():
        from veri_spark.operators.similarity import (
            ivf_assign,
            ivf_probe_candidates,
            take_centroids,
        )
        from veri_spark.operators.topk import topk_with_rank

        emb = load_table(spark, sf_dir, "embeddings")
        cents = take_centroids(emb, 8)
        assigned = ivf_assign(emb, cents)

        def topk_ranked(df, vid, qvec):
            d = V.euclidean_distance(F.col("embedding"), qvec)
            scored = df.select("vec_id", d.alias("score"))
            ranked = topk_with_rank(
                scored, "score", k,
                higher_is_better=False, tie_cols=["vec_id"], rank_col="rn",
            )
            return ranked.select(
                F.lit(vid).alias("query_id"), "vec_id", "rn"
            )

        exact = approx = None
        for vid in _QVIDS:
            qvec = _query_vector(spark, sf_dir, vid)
            e = topk_ranked(emb, vid, qvec)
            a = topk_ranked(
                ivf_probe_candidates(assigned, cents, qvec, nprobe=2),
                vid, qvec,
            )
            exact = e if exact is None else exact.unionByName(e)
            approx = a if approx is None else approx.unionByName(a)
        return (
            exact.collect(), exact.schema,
            approx.collect(), approx.schema,
        )

    erows, esch, arows, asch = session_cached(
        spark, sf_dir, f"ranked_k{k}", build
    )
    return (
        spark.createDataFrame(erows, esch),
        spark.createDataFrame(arows, asch),
    )


_W_CASE = "CASE rn " + " ".join(
    f"WHEN {r} THEN {w}" for r, w in _NDCG_W.items() if r <= 10
) + " END"
_IDCG10 = sum(w for r, w in _NDCG_W.items() if r <= 10)


@register(
    "ann_ndcg_audit",
    f"""
    WITH {_dd_ranked(10)}
    , dcg AS (
      SELECT a.query_id,
             SUM(CASE WHEN x.vec_id IS NOT NULL
                      THEN {_W_CASE.replace('rn', 'a.rn')} ELSE 0 END)::BIGINT
               AS dcg_micro
      FROM approx a
      LEFT JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.vec_id
      GROUP BY a.query_id)
    SELECT query_id, dcg_micro,
           ROUND(dcg_micro / {_IDCG10}.0, 6) AS ndcg_at_10
    FROM dcg ORDER BY query_id ASC
    """,
)
def ann_ndcg_audit(spark, sf_dir):
    """nDCG@10 of the IVF probe ranking against exact brute force with
    binary relevance (membership in the exact top-10) — the
    position-aware sibling of `ann_ivf_recall_audit`: recall says how
    many of the true neighbors survive; nDCG says where the index PUT
    them (a survivor demoted from rank 1 to rank 10 costs 71% of its
    weight). Discounts 1/log2(r+1) are micro-unit integer LITERALS
    shared by both engines, so DCG is an exact integer sum and nDCG one
    division by the constant ideal DCG. Joins run on the 30-row top-k
    frames; the corpus cost is the two rankings themselves."""
    exact, approx = _spark_ranked(spark, sf_dir, 10)
    w = F.element_at(
        literal_map((r, _NDCG_W[r]) for r in range(1, 11)),
        F.col("rn").cast("int"),
    )
    dcg = (
        approx.join(
            exact.select("query_id", "vec_id", F.lit(1).alias("__rel")),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("__rel").isNotNull(), w).otherwise(0))
            .cast("bigint")
            .alias("dcg_micro")
        )
    )
    return dcg.select(
        "query_id",
        "dcg_micro",
        F.round(F.col("dcg_micro") / F.lit(float(_IDCG10)), 6).alias(
            "ndcg_at_10"
        ),
    ).orderBy(F.col("query_id").asc())


@register(
    "ann_mrr_audit",
    f"""
    WITH {_dd_ranked(10)}
    , target AS (
      SELECT query_id, vec_id FROM exact WHERE rn = 2),
    rr AS (
      SELECT t.query_id, t.vec_id AS target_vec_id,
             COALESCE(a.rn, 0)::BIGINT AS approx_rank,
             CASE WHEN a.rn IS NOT NULL
                  THEN CAST(round(1e6 / a.rn) AS BIGINT)
                  ELSE 0 END AS rr_micro
      FROM target t
      LEFT JOIN approx a ON a.query_id = t.query_id AND a.vec_id = t.vec_id)
    SELECT query_id, target_vec_id, approx_rank, rr_micro
    FROM rr ORDER BY query_id ASC
    """,
)
def ann_mrr_audit(spark, sf_dir):
    """Reciprocal rank of the true nearest NON-SELF neighbor (exact rank
    2 — rank 1 is the query vector itself at distance 0, which any index
    trivially returns) inside the IVF probe ranking, per query: the
    metric behind "did the index keep the one neighbor that matters".
    approx_rank 0 = the true neighbor fell outside the probed cells —
    the miss mode nprobe tuning fixes. Reciprocals are micro-quantized
    single divisions of small integers (identical doubles in both
    engines); no cross-row float sum anywhere."""
    exact, approx = _spark_ranked(spark, sf_dir, 10)
    target = exact.filter(F.col("rn") == 2).select(
        "query_id", F.col("vec_id").alias("target_vec_id")
    )
    joined = target.join(
        approx.select(
            "query_id",
            F.col("vec_id").alias("target_vec_id"),
            F.col("rn").alias("__arn"),
        ),
        ["query_id", "target_vec_id"],
        "left",
    )
    return joined.select(
        "query_id",
        "target_vec_id",
        F.coalesce(F.col("__arn"), F.lit(0)).cast("bigint").alias(
            "approx_rank"
        ),
        F.when(
            F.col("__arn").isNotNull(),
            F.round(F.lit(1e6) / F.col("__arn")).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("rr_micro"),
    ).orderBy(F.col("query_id").asc())


@register(
    "rank_footrule_audit",
    f"""
    WITH {_dd_ranked(20)}
    SELECT x.query_id,
           COUNT(*)::BIGINT AS n_common,
           SUM(ABS(x.rn - a.rn))::BIGINT AS footrule,
           CAST(round(1e6 * SUM(ABS(x.rn - a.rn)) / COUNT(*)) AS BIGINT)
             AS mean_displacement_micro
    FROM exact x
    JOIN approx a ON a.query_id = x.query_id AND a.vec_id = x.vec_id
    GROUP BY x.query_id
    ORDER BY x.query_id ASC
    """,
)
def rank_footrule_audit(spark, sf_dir):
    """Spearman-footrule displacement between the exact and IVF top-20
    rankings, per query: sum of |exact_rank - approx_rank| over the
    items BOTH rankings retrieved, plus the overlap size. Footrule is
    the tie-free rank-correlation statistic (unlike rho it needs no
    variance normalization, so it stays pure integer arithmetic); small
    footrule with large n_common = the index preserves ORDER, not just
    membership — the property re-rankers rely on when they only re-score
    the ANN shortlist. The mean displacement is one micro-quantized
    division of two BIGINTs."""
    exact, approx = _spark_ranked(spark, sf_dir, 20)
    j = exact.join(
        approx.select(
            "query_id", "vec_id", F.col("rn").alias("__arn")
        ),
        ["query_id", "vec_id"],
    )
    disp = F.abs(F.col("rn") - F.col("__arn"))
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(disp).cast("bigint").alias("footrule"),
            F.round(F.lit(1e6) * F.sum(disp) / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_displacement_micro"),
        )
        .orderBy(F.col("query_id").asc())
    )


@register(
    "recall_at_k_sweep",
    f"""
    WITH {_dd_ranked(20)}
    , ks AS (SELECT unnest([1, 5, 10, 20]) AS k),
    hits AS (
      SELECT k.k,
             SUM(CASE WHEN x.rn <= k.k AND a.rn <= k.k THEN 1 ELSE 0 END)
               ::BIGINT AS n_hits
      FROM ks k
      CROSS JOIN exact x
      LEFT JOIN approx a ON a.query_id = x.query_id AND a.vec_id = x.vec_id
      GROUP BY k.k)
    SELECT k, n_hits, ROUND(n_hits / ({len(_QVIDS)}.0 * k), 6) AS recall_at_k
    FROM hits ORDER BY k ASC
    """,
)
def recall_at_k_sweep(spark, sf_dir):
    """The recall@k OPERATING CURVE for the IVF probe path — k in
    {1, 5, 10, 20} aggregated over the query set, from ONE pair of
    rankings (the sweep is a 4-row broadcast against the joined top-20
    frames, so pricing four k settings costs exactly one audit run; the
    `ann_probe_tradeoff_curve` pattern applied to realized recall
    instead of predicted scan cost). Read next to `ann_ivf_recall_audit`
    (per-query recall@10): this is the aggregate curve that picks the
    serving k. Hit counts are integers; recall is one division by the
    literal |Q|·k (|Q| = len(_QVIDS), interpolated into BOTH engines so
    the query set has one source of truth)."""
    exact, approx = _spark_ranked(spark, sf_dir, 20)
    ks = exact.sparkSession.createDataFrame(
        [(1,), (5,), (10,), (20,)], "k int"
    )
    j = exact.join(
        approx.select("query_id", "vec_id", F.col("rn").alias("__arn")),
        ["query_id", "vec_id"],
        "left",
    )
    hit = F.when(
        (F.col("rn") <= F.col("k")) & (F.col("__arn") <= F.col("k")), 1
    ).otherwise(0)
    return (
        j.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(F.sum(hit).cast("bigint").alias("n_hits"))
        .select(
            "k",
            "n_hits",
            F.round(F.col("n_hits") / (float(len(_QVIDS)) * F.col("k")), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy(F.col("k").asc())
    )


@register(
    "cosine_dot_rank_divergence",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
               WHERE vec_id = 0),
    cosr AS (
      SELECT vec_id, rn FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY LEAST(GREATEST(list_cosine_similarity(
                            e.embedding::DOUBLE[], q.qe), -1.0), 1.0) DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e, q) WHERE rn <= 10),
    dotr AS (
      SELECT vec_id, rn FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY list_inner_product(e.embedding::DOUBLE[], q.qe)
                            DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e, q) WHERE rn <= 10)
    SELECT (SELECT COUNT(*) FROM cosr JOIN dotr USING (vec_id))::BIGINT
             AS n_common,
           (SELECT COALESCE(SUM(ABS(c.rn - d.rn)), 0) FROM cosr c
             JOIN dotr d ON d.vec_id = c.vec_id)::BIGINT AS footrule
    """,
)
def cosine_dot_rank_divergence(spark, sf_dir):
    """Norm-bias audit for the scoring shortcut: top-10 by clamped cosine
    vs top-10 by raw inner product for the same query — overlap size and
    footrule displacement over the common items. On a unit-normalized
    corpus (`embedding_unit_norm_audit` proves this one is) the two
    rankings must agree almost exactly, which LICENSES the cheaper
    dot-product kernel in the serving path; on an unnormalized corpus
    this query is the evidence that they diverge (dot favors long
    vectors) and the clamp+normalize must stay. Both rankings are
    map-only scans + the TRUE distributed bounded top-k (orderBy+limit →
    TakeOrderedAndProject: per-partition heaps, driver merge — a
    literal-keyed window would constant-fold its partition spec away and
    plan the single-partition global sort this module elsewhere
    eliminates); ranks are then assigned WITHOUT any window by counting
    strictly-better rows inside the 10-row frame (a bounded broadcast
    self-join — zero unpartitioned window specs, asserted by the
    plan-shape test). The comparison is a 10-row join, pure integer
    output."""
    from veri_spark.operators.topk import topk_with_rank

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    cos = V.cosine_similarity(F.col("embedding"), q)
    dot = V.dot_product(F.col("embedding"), q)

    def top10(score):
        return topk_with_rank(
            emb.select("vec_id", score.alias("__s")),
            "__s", 10, higher_is_better=True, tie_cols=["vec_id"],
        ).select("vec_id", "rn")

    c = top10(cos)
    d = top10(dot).select("vec_id", F.col("rn").alias("__drn"))
    j = c.join(d, "vec_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.coalesce(F.sum(F.abs(F.col("rn") - F.col("__drn"))), F.lit(0))
        .cast("bigint")
        .alias("footrule"),
    )


@register(
    "ann_map_audit",
    f"""
    WITH {_dd_ranked(10)}
    , hits AS (
      SELECT a.query_id, a.rn,
             CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM approx a
      LEFT JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.vec_id),
    cum AS (
      SELECT query_id, rn, rel,
             SUM(rel) OVER (PARTITION BY query_id ORDER BY rn ASC)::BIGINT
               AS cum_hits
      FROM hits),
    ap AS (
      SELECT query_id,
             SUM(rel)::BIGINT AS n_hits,
             SUM(CASE WHEN rel = 1
                      THEN CAST(round(1e6 * cum_hits / rn) AS BIGINT)
                      ELSE 0 END)::BIGINT AS ap_micro_sum
      FROM cum GROUP BY query_id)
    SELECT query_id, n_hits, ap_micro_sum,
           ROUND(ap_micro_sum / 1e7, 6) AS ap_at_10
    FROM ap ORDER BY query_id ASC
    """,
)
def ann_map_audit(spark, sf_dir):
    """Average precision @10 of the IVF probe ranking against exact brute
    force — the metric between `ann_ivf_recall_audit` (position-blind)
    and `ann_ndcg_audit` (fixed log discounts): AP integrates precision
    at every HIT position, so it rewards packing the true neighbors at
    the top with data-dependent weights rather than a fixed discount
    table. AP = (1/R) * sum over hit ranks r of precision@r, R = 10.

    Determinism: each precision term 1e6 * cum_hits / rn is one
    correctly-rounded division of small exact integers, micro-quantized
    PER TERM and integer-summed (order-insensitive); no value 1e6*c/r
    with r <= 10 lands on a .5 boundary (r in {{2,4,5,8,10}} divide 1e6
    exactly; r in {{3,6,7,9}} give thirds/sevenths/ninths), so the two
    engines' round() agree exactly. The cumulative-hit window is
    PARTITIONED per query over the <=10-row top-k frame; corpus cost is
    the two rankings themselves (shared `_spark_ranked` harness)."""
    exact, approx = _spark_ranked(spark, sf_dir, 10)
    hits = approx.join(
        exact.select("query_id", "vec_id", F.lit(1).alias("__rel")),
        ["query_id", "vec_id"],
        "left",
    ).select(
        "query_id",
        "rn",
        F.when(F.col("__rel").isNotNull(), 1).otherwise(0).alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rn").asc())
    cum = hits.withColumn("cum_hits", F.sum("rel").over(w).cast("bigint"))
    ap = cum.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("n_hits"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.round(F.lit(1e6) * F.col("cum_hits") / F.col("rn")).cast(
                    "bigint"
                ),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("ap_micro_sum"),
    )
    return ap.select(
        "query_id",
        "n_hits",
        "ap_micro_sum",
        F.round(F.col("ap_micro_sum") / F.lit(1e7), 6).alias("ap_at_10"),
    ).orderBy(F.col("query_id").asc())


# RBO depth weights for p=0.9, k=20: w_d = ((1-p)/p) * p^d / d, plus the
# extrapolation tail weight p^k / k. Python-side literals (the probit-grid
# rule); regenerating them is one list comprehension, and
# tests/test_round10_batch.py re-derives every weight independently.
_RBO_P = 0.9
_RBO_K = 20
_RBO_TAIL_W = 0.006078832729528467
_RBO_ROWS = [(1, 0.09999999999999998), (2, 0.04499999999999999), (3, 0.026999999999999996), (4, 0.018224999999999995), (5, 0.013121999999999998), (6, 0.009841499999999998), (7, 0.007592014285714285), (8, 0.005978711249999999), (9, 0.004782969), (10, 0.00387420489), (11, 0.0031698040009090905), (12, 0.0026150883007500006), (13, 0.0021725348960076924), (14, 0.0018156184488064288), (15, 0.0015251194969974), (16, 0.0012868195755915562), (17, 0.0010900118757952006), (18, 0.0009265100944259206), (19, 0.0007899717647210482), (20, 0.0006754258588364962)]
_RBO_SQL_ROWS = ", ".join(f"({d}, {w!r})" for d, w in _RBO_ROWS)


@register(
    "rbo_cosine_vs_dot",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
               WHERE vec_id = 0),
    cosr AS (
      SELECT vec_id, rn FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY LEAST(GREATEST(list_cosine_similarity(
                            e.embedding::DOUBLE[], q.qe), -1.0), 1.0) DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e, q) WHERE rn <= {_RBO_K}),
    dotr AS (
      SELECT vec_id, rn FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY list_inner_product(e.embedding::DOUBLE[], q.qe)
                            DESC,
                          e.vec_id ASC) AS rn
        FROM embeddings e, q) WHERE rn <= {_RBO_K}),
    common AS (SELECT c.vec_id, GREATEST(c.rn, d.rn) AS m
               FROM cosr c JOIN dotr d USING (vec_id)),
    depths AS (SELECT * FROM (VALUES {_RBO_SQL_ROWS}) AS t(d, w)),
    xd AS (SELECT dp.d, dp.w, COUNT(cm.vec_id)::BIGINT AS x
           FROM depths dp LEFT JOIN common cm ON cm.m <= dp.d
           GROUP BY dp.d, dp.w),
    s AS (SELECT SUM(CAST(round(1e9 * (x * w)) AS BIGINT))::BIGINT AS s_nano,
                 MAX(CASE WHEN d = 10 THEN x END)::BIGINT AS x10
          FROM xd),
    tl AS (SELECT COUNT(*)::BIGINT AS xk FROM common)
    SELECT tl.xk AS n_common, s.x10 AS n_common_at10,
           ROUND((s.s_nano
                  + CAST(round(1e9 * (tl.xk * {_RBO_TAIL_W!r}))
                         AS BIGINT)) / 1e9, 6) AS rbo_ext_p90
    FROM s CROSS JOIN tl
    """,
)
def rbo_cosine_vs_dot(spark, sf_dir):
    """Rank-biased overlap (Webber et al.'s RBO_ext, p=0.9, depth 20)
    between the clamped-cosine and raw-dot top-20 rankings for the same
    query — the principled upgrade over `cosine_dot_rank_divergence`'s
    footrule: RBO is TOP-WEIGHTED (disagreement at rank 1 costs more
    than at rank 20, which is how serving actually experiences ranker
    drift), handles non-conjoint lists natively, and p=0.9 means ~86%
    of the weight sits in the top 10. Both rankings ride the
    distributed bounded top-k (`topk_with_rank`; no unpartitioned
    window — the module's standard shape); every prefix-overlap count
    X_d is an exact integer from the bounded depths x common-items
    left join (20 x <=20 rows), the depth weights ((1-p)/p * p^d / d)
    and the extrapolation tail (p^k / k) are PYTHON literals
    (re-derived independently by the round-10 tests), and each X_d * w_d
    term nano-quantizes to BIGINT before the 20-row fold (the
    bounded-frame fold rule). One final division, rounded once.

    Scale: two map-only scored scans + TakeOrdered heads; everything
    downstream is <= 400 broadcast rows regardless of corpus size."""
    from veri_spark.operators.topk import topk_with_rank

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    cos = V.cosine_similarity(F.col("embedding"), q)
    dot = V.dot_product(F.col("embedding"), q)

    def top(score):
        return topk_with_rank(
            emb.select("vec_id", score.alias("__s")),
            "__s", _RBO_K, higher_is_better=True, tie_cols=["vec_id"],
        ).select("vec_id", "rn")

    c = top(cos)
    d = top(dot).select("vec_id", F.col("rn").alias("__drn"))
    common = c.join(d, "vec_id").select(
        "vec_id", F.greatest(F.col("rn"), F.col("__drn")).alias("m")
    )
    depths = spark.createDataFrame(_RBO_ROWS, "d int, w double")
    xd = (
        depths.join(F.broadcast(common), F.col("m") <= F.col("d"), "left")
        .groupBy("d", "w")
        .agg(F.count("vec_id").cast("bigint").alias("x"))
    )
    s = xd.agg(
        F.sum(F.round(F.lit(1e9) * (F.col("x") * F.col("w"))).cast("bigint"))
        .cast("bigint")
        .alias("s_nano"),
        F.max(F.when(F.col("d") == 10, F.col("x"))).cast("bigint").alias(
            "x10"
        ),
    )
    tl = common.agg(F.count(F.lit(1)).cast("bigint").alias("xk"))
    return s.crossJoin(F.broadcast(tl)).select(
        F.col("xk").alias("n_common"),
        F.col("x10").alias("n_common_at10"),
        F.round(
            (
                F.col("s_nano")
                + F.round(F.lit(1e9) * (F.col("xk") * F.lit(_RBO_TAIL_W)))
                .cast("bigint")
            )
            / F.lit(1e9),
            6,
        ).alias("rbo_ext_p90"),
    )


@register(
    "ann_err_audit",
    f"""
    WITH {_dd_ranked(10)}
    , rel AS (
      SELECT a.query_id, a.rn,
             CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM approx a
      LEFT JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.vec_id),
    c AS (SELECT query_id, rn, rel,
                 COALESCE(SUM(rel) OVER (PARTITION BY query_id
                                         ORDER BY rn ASC
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS n_before
          FROM rel),
    s AS (SELECT query_id,
                 SUM(CASE WHEN rel = 1
                          THEN CAST(round(1e9 * (1.0 / rn)
                                          * pow(0.5, n_before + 1))
                               AS BIGINT)
                          ELSE 0 END)::BIGINT AS err_nano
          FROM c GROUP BY query_id)
    SELECT query_id, err_nano, ROUND(err_nano / 1e9, 6) AS err_at_10
    FROM s ORDER BY query_id ASC
    """,
)
def ann_err_audit(spark, sf_dir):
    """Expected reciprocal rank (Chapelle et al. 2009, ERR@10) of the IVF
    probe ranking against exact brute force with binary relevance —
    the CASCADE-model member of the audit family: nDCG discounts
    positions independently, ERR models a user who STOPS at the first
    satisfying result, so a relevant hit at rank 1 nearly exhausts the
    metric and later hits matter only if earlier ranks missed
    (ERR = sum_r (1/r) R_r prod_(i<r)(1 - R_i)). With binary relevance
    R in (0, 1/2), the cascade product collapses to an exact power:
    each relevant rank r with c relevant hits before it contributes
    (1/r) * (1/2)^(c+1), where c comes from a PARTITIONED 10-row prefix
    window (never corpus-grain), pow(0.5, int) is exact in binary, and
    every term nano-quantizes to BIGINT before the per-query fold. Joins
    run on the 30-row top-k frames; corpus cost is the two rankings.

    Scale: identical to ann_ndcg_audit — the audit math is arithmetic
    on bounded frames."""
    exact, approx = _spark_ranked(spark, sf_dir, 10)
    rel = approx.join(
        exact.select("query_id", "vec_id", F.lit(1).alias("__rel")),
        ["query_id", "vec_id"],
        "left",
    ).select(
        "query_id",
        "rn",
        F.when(F.col("__rel").isNotNull(), 1).otherwise(0).alias("rel"),
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.col("rn").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = rel.select(
        "query_id",
        "rn",
        "rel",
        F.coalesce(F.sum("rel").over(w), F.lit(0)).alias("n_before"),
    )
    s = c.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.round(
                    F.lit(1e9)
                    * (F.lit(1.0) / F.col("rn"))
                    * F.pow(F.lit(0.5), F.col("n_before") + 1)
                ).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("err_nano")
    )
    return s.select(
        "query_id",
        "err_nano",
        F.round(F.col("err_nano") / F.lit(1e9), 6).alias("err_at_10"),
    ).orderBy(F.col("query_id").asc())
