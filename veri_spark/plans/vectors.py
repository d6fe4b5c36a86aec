"""Embedding-column statistics, quantization, and dataset info (A1-A4).

Split from the original single-module registry (round-5 hygiene);
every (PySpark program, DuckDB oracle) pair is unchanged and
registers into ``plans._base.QUERIES``/``ORACLES`` at import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions import vector as V  # noqa: F401
from veri_spark.functions.literals import literal_array, literal_map
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




# ---------------------------------------------------------------------------
# Statistics (reference A1-A4 — DataInfo, data/newsync.go:137-167)
# ---------------------------------------------------------------------------

@register(
    "data_info_centroid",
    """
    SELECT pos - 1 AS pos, ROUND(AVG(v), 6) AS avg_val
    FROM (SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding)::DOUBLE AS v
          FROM embeddings)
    GROUP BY pos ORDER BY pos
    """,
)
def data_info_centroid(spark, sf_dir):
    """A2: centroid = elementwise mean of the vector column (data/util.go:15-26)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ST.centroid_df(emb, "embedding").select(
        "pos", F.round("avg_val", 6).alias("avg_val")
    )



@register(
    "data_info_summary",
    f"""
    WITH {_DD_CENTROID_DIST}
    SELECT COUNT(*)::BIGINT AS n, ROUND(MAX(dist), 6) AS max_dist FROM d
    """,
)
def data_info_summary(spark, sf_dir):
    """A1+A3: row count and exact max distance from centroid (two-pass;
    the reference approximates with the previous pass's centroid)."""
    emb = load_table(spark, sf_dir, "embeddings")
    center = ST.centroid(emb, "embedding")
    dists = ST.with_centroid_distance(emb, center, "embedding")
    return dists.agg(
        F.count(F.lit(1)).alias("n"), F.round(F.max("dist"), 6).alias("max_dist")
    )



@register(
    "dist_histogram",
    f"""
    WITH {_DD_CENTROID_DIST},
    m AS (SELECT MAX(dist) AS maxd, COUNT(*) AS total FROM d)
    SELECT LEAST(GREATEST(CAST(FLOOR(d.dist / m.maxd * 64) AS INT), 0), 63) AS bucket,
           COUNT(*)::BIGINT AS cnt,
           ROUND(COUNT(*) / ANY_VALUE(m.total), 6) AS freq
    FROM d, m
    GROUP BY bucket ORDER BY bucket
    """,
)
def dist_histogram(spark, sf_dir):
    """A4: 64-bin histogram of distance-to-centroid, frequencies normalized
    by N (data/newsync.go:158-167)."""
    emb = load_table(spark, sf_dir, "embeddings")
    center = ST.centroid(emb, "embedding")
    dists = ST.with_centroid_distance(emb, center, "embedding")
    max_dist = dists.agg(F.max("dist")).collect()[0][0]
    hist = ST.histogram_df(dists, max_dist)
    return hist.select("bucket", "cnt", F.round("freq", 6).alias("freq"))



@register(
    "embeddings_label_centroids",
    """
    SELECT label, pos - 1 AS pos, ROUND(AVG(v), 6) AS avg_v
    FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding)::DOUBLE AS v
          FROM embeddings)
    WHERE pos <= 8
    GROUP BY label, pos
    """,
)
def embeddings_label_centroids(spark, sf_dir):
    """Per-group centroid (the reference's per-dataset Avg, data/util.go:
    15-26, generalized to groupBy): posexplode + per-(label, pos) mean in
    long format. Map-side partial agg shrinks the shuffle to
    |labels| x dim partials per task, never the vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    ).filter(F.col("pos") < 8)
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("avg_v")
    )



@register(
    "embedding_quantize_error",
    """
    WITH q AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             list_transform(embedding::DOUBLE[],
                            x -> LEAST(GREATEST(round(x * 127.0), -127.0), 127.0) / 127.0) AS deq
      FROM embeddings
    )
    SELECT COUNT(*)::BIGINT AS n,
           ROUND(MAX(list_max(list_transform(range(1, len(e) + 1),
                                             i -> abs(e[i] - deq[i])))), 6) AS max_abs_err,
           ROUND(AVG(list_sum(list_transform(range(1, len(e) + 1),
                                             i -> abs(e[i] - deq[i]))) / len(e)), 6) AS mean_abs_err
    FROM q
    """,
)
def embedding_quantize_error(spark, sf_dir):
    """int8 scalar quantization of the embedding column (the 4x storage /
    bandwidth lever for vector corpora at 100 TB): symmetric scale 127,
    clamp, dequantize, and report reconstruction error — all native array
    expressions, map-only until the final tiny agg."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    deq = F.transform(
        e,
        lambda x: F.least(F.greatest(F.round(x * 127.0), F.lit(-127.0)), F.lit(127.0))
        / 127.0,
    )
    err = F.zip_with(e, deq, lambda a, b: F.abs(a - b))
    return emb.select(
        F.array_max(err).alias("__mx"),
        (F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x) / F.size(e)).alias("__mn"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("__mx"), 6).alias("max_abs_err"),
        F.round(F.avg("__mn"), 6).alias("mean_abs_err"),
    )



@register(
    "embedding_quantize_topk",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
               FROM embeddings),
    qv AS (SELECT vec_id, mx,
                  list_transform(e, x -> floor(x * (127.0 / mx) + 0.5)) AS q
           FROM v),
    q0 AS (SELECT q AS qz, mx AS mx0 FROM qv WHERE vec_id = 0),
    s AS (SELECT vec_id,
                 list_sum(list_transform(range(1, len(q) + 1), i -> q[i] * qz[i]))
                   * (mx * mx0) / 16129.0 AS score
          FROM qv CROSS JOIN q0)
    SELECT vec_id, ROUND(score, 6) AS score
    FROM s ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def embedding_quantize_topk(spark, sf_dir):
    """Int8-quantized dot-product top-k: 4x smaller vectors, integer dot
    (exact), de-scaled to float space. The quantizer uses floor(x*s+0.5) —
    pure IEEE arithmetic, so Spark and the oracle quantize identically
    (operators/similarity.quantize_int8 / quantized_dot_scores)."""
    from veri_spark.operators.similarity import quantized_dot_scores

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    scored = quantized_dot_scores(emb, q)
    out = topk(scored, "score", 10, higher_is_better=True, tie_cols=["vec_id"])
    return out.select("vec_id", F.round("score", 6).alias("score"))



@register(
    "embedding_group_centroid",
    """
    WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    x AS (SELECT vec_id, label, i, e[i] AS v
          FROM ev CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx),
    c AS (SELECT label, i, AVG(v) AS m FROM x GROUP BY label, i),
    d AS (SELECT vec_id, x.label AS label, SQRT(SUM((v - m) * (v - m))) AS dist
          FROM x JOIN c ON x.label = c.label AND x.i = c.i
          GROUP BY vec_id, x.label)
    SELECT label, vec_id, ROUND(dist, 6) AS dist, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id ASC) AS rnk
          FROM d)
    WHERE rnk <= 3
    """,
)
def embedding_group_centroid(spark, sf_dir):
    """Per-label centroid outliers (label-noise / contamination audit): the
    3 members farthest from their group centroid. Posexplode -> per-dim
    partial-agg mean -> rejoin -> bounded per-group top-k; state is
    |labels| x dim, nothing quadratic
    (operators/similarity.group_centroid_outliers)."""
    from veri_spark.operators.similarity import group_centroid_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    out = group_centroid_outliers(emb, per_group=3)
    return out.select("label", "vec_id", F.round("dist", 6).alias("dist"), "rnk")



@register(
    "embedding_margin",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe, label AS ql
               FROM embeddings WHERE vec_id < 10)
    SELECT q_id,
           ROUND(MIN(CASE WHEN e.label = q.ql
                 THEN list_distance(e.embedding::DOUBLE[], q.qe) END), 6) AS same_dist,
           ROUND(MIN(CASE WHEN e.label != q.ql
                 THEN list_distance(e.embedding::DOUBLE[], q.qe) END), 6) AS diff_dist,
           ROUND(MIN(CASE WHEN e.label != q.ql
                 THEN list_distance(e.embedding::DOUBLE[], q.qe) END)
               - MIN(CASE WHEN e.label = q.ql
                 THEN list_distance(e.embedding::DOUBLE[], q.qe) END), 6) AS margin
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != q.q_id
    GROUP BY q_id
    """,
)
def embedding_margin(spark, sf_dir):
    """Metric-learning margin audit (contrastive-pair mining diagnostic):
    for each of 10 probe vectors, the distance to its nearest SAME-label
    neighbor vs its nearest DIFFERENT-label neighbor, and the margin
    between them — the per-anchor quantity triplet mining thresholds on.
    Plan: the 10 probes are a broadcast, distances are map-side over one
    corpus scan, and the conditional-min groupBy reduces to 10 rows —
    at 100 TB this is one pass, no corpus self-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("ql"),
    )
    d = V.euclidean_distance(F.col("embedding"), F.col("qe"))
    same = F.min(F.when(F.col("label") == F.col("ql"), d))
    diff = F.min(F.when(F.col("label") != F.col("ql"), d))
    return (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id")
        .agg(
            F.round(same, 6).alias("same_dist"),
            F.round(diff, 6).alias("diff_dist"),
            F.round(diff - same, 6).alias("margin"),
        )
    )



@register(
    "label_centroid_distances",
    """
    WITH ce AS (SELECT label, pos, ROUND(AVG(v), 6) AS av
                FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                             unnest(embedding)::DOUBLE AS v
                      FROM embeddings)
                GROUP BY label, pos),
         ca AS (SELECT label, list(av ORDER BY pos) AS c FROM ce
                GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(sqrt(list_sum(list_transform(range(1, len(a.c) + 1),
                 i -> (a.c[i] - b.c[i]) * (a.c[i] - b.c[i])))), 6) AS l2_dist
    FROM ca a JOIN ca b ON a.label < b.label
    """,
)
def label_centroid_distances(spark, sf_dir):
    """Inter-class separation matrix: pairwise L2 distance between
    per-label embedding centroids — the embedding-space confusion
    diagnostic (near-identical centroids predict label confusion; an
    outlier centroid flags a poisoned or misdefined class). Centroid
    components round to 6dp BEFORE the distance so both engines measure
    identical vectors. The heavy pass is one partial-aggregated
    (label, dim) mean; the |labels|^2/2 cross join runs on a broadcast
    handful of rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    ce = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("av"))
    )
    ca = ce.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "av"))), lambda s: s["av"]
        ).alias("c")
    )
    a = ca.select(F.col("label").alias("label_a"), F.col("c").alias("ca"))
    b = ca.select(F.col("label").alias("label_b"), F.col("c").alias("cb"))
    d2 = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", F.round(F.sqrt(d2), 6).alias("l2_dist"))
    )



@register(
    "pca_power_iteration_step",
    """
    WITH e AS (SELECT embedding::DOUBLE[] AS x FROM embeddings),
         s AS (SELECT x, list_sum(x) / 8.0 AS sc FROM e),
         comp AS (SELECT pos, SUM(sc * v) AS c
                  FROM (SELECT sc, generate_subscripts(x, 1) AS pos,
                               unnest(x) AS v
                        FROM s)
                  GROUP BY pos),
         n AS (SELECT sqrt(SUM(c * c)) AS nrm FROM comp)
    SELECT pos - 1 AS dim, ROUND(c / nrm, 6) AS v1
    FROM comp, n
    """,
)
def pca_power_iteration_step(spark, sf_dir):
    """One power-iteration step toward the corpus's top principal
    direction: v1 = normalize(X'X v0) with the deterministic uniform seed
    v0 = 1/8 (unit for 64 dims) — the building block of distributed PCA /
    spectral embedding-drift checks, expressed Spark-first. Per row only
    the scalar x.v0 is computed in-line; the (dim, partial-sum) groupBy
    shuffles 64 partials per task regardless of corpus size, and the
    normalizer is a one-row broadcast. Full PCA = this step iterated with
    the previous v as the next literal seed."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(F.col("embedding").cast("array<double>").alias("x"))
    s = e.select(
        "x",
        (F.aggregate("x", F.lit(0.0), lambda a, b: a + b) / 8.0).alias("sc"),
    )
    comp = (
        s.select("sc", F.posexplode("x").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum(F.col("sc") * F.col("v")).alias("c"))
    )
    n = comp.agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm"))
    return comp.crossJoin(F.broadcast(n)).select(
        F.col("pos").alias("dim"),
        F.round(F.col("c") / F.col("nrm"), 6).alias("v1"),
    )



@register(
    "embedding_outliers",
    """
    WITH ce AS (SELECT label, pos, ROUND(AVG(v), 6) AS av
                FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                             unnest(embedding)::DOUBLE AS v
                      FROM embeddings)
                GROUP BY label, pos),
         ca AS (SELECT label, list(av ORDER BY pos) AS c FROM ce
                GROUP BY label),
         d AS (SELECT e.vec_id, e.label,
                      ROUND(list_distance(e.embedding::DOUBLE[], ca.c), 6)
                        AS dist
               FROM embeddings e JOIN ca ON e.label = ca.label)
    SELECT vec_id, label, dist FROM d
    ORDER BY dist DESC, vec_id ASC LIMIT 10
    """,
)
def embedding_outliers(spark, sf_dir):
    """Mislabeled-point mining: the 10 vectors farthest from their own
    label's centroid — the triage list label-noise cleanup starts from
    (companion of `embedding_margin`, which compares same- vs cross-label
    NEIGHBOR distances; this compares against the class mean). Centroids
    round to 6dp before the distance so both engines measure identical
    vectors; the centroid table is a |labels|-row broadcast and the scan
    stays map-only into a bounded top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    ce = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("av"))
    )
    ca = ce.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "av"))), lambda s: s["av"]
        ).alias("c")
    )
    from veri_spark.functions.vector import euclidean_distance

    d = emb.join(F.broadcast(ca), "label").select(
        "vec_id", "label",
        F.round(
            euclidean_distance(F.col("embedding").cast("array<double>"), F.col("c")), 6
        ).alias("dist"),
    )
    return d.orderBy(F.col("dist").desc(), F.col("vec_id").asc()).limit(10)



@register(
    "embedding_dim_stats",
    """
    WITH e AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings)
    SELECT pos::BIGINT - 1 AS dim,
           ROUND(AVG(v), 6) AS mean_v,
           ROUND(STDDEV_POP(v), 6) AS std_v,
           ROUND(MIN(v), 6) AS min_v,
           ROUND(MAX(v), 6) AS max_v
    FROM e GROUP BY pos ORDER BY dim ASC
    """,
)
def embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding statistics (mean/std/min/max over the
    corpus): the calibration table the int8 scalar quantizer and any
    whitening step read, and the first place dead or exploding dimensions
    show up. posexplode + one partial-aggregated groupBy on (dim) — 64
    groups, so the reduce side is trivial at any corpus size. Population
    stddev via the explicit E[x^2]-E[x]^2 form DuckDB's STDDEV_POP also
    computes."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    return (
        e.groupBy(F.col("pos").cast("bigint").alias("dim"))
        .agg(
            F.round(F.avg("v"), 6).alias("mean_v"),
            F.round(F.stddev_pop("v"), 6).alias("std_v"),
            F.round(F.min("v"), 6).alias("min_v"),
            F.round(F.max("v"), 6).alias("max_v"),
        )
        .orderBy(F.col("dim").asc())
    )



# ---------------------------------------------------------------------------
# Round-4 batch 6: whitening audit, repeat purchases
# ---------------------------------------------------------------------------

@register(
    "embedding_whitening_audit",
    """
    WITH e AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings),
    s AS (SELECT pos, AVG(v) AS mu,
                 CASE WHEN STDDEV_POP(v) = 0 THEN 1.0 ELSE STDDEV_POP(v) END AS sd
          FROM e GROUP BY pos),
    raw_m AS (SELECT vec_id, MAX(abs(v)) AS m FROM e GROUP BY vec_id),
    raw_err AS (
      SELECT e.vec_id,
             AVG(abs(e.v - round(e.v / (rm.m / 127.0)) * (rm.m / 127.0))
                 / rm.m) AS rel_err
      FROM e JOIN raw_m rm USING (vec_id) WHERE rm.m > 0
      GROUP BY e.vec_id),
    wh AS (
      SELECT e.vec_id, e.pos, (e.v - s.mu) / s.sd AS w
      FROM e JOIN s USING (pos)),
    wh_m AS (SELECT vec_id, MAX(abs(w)) AS m FROM wh GROUP BY vec_id),
    wh_err AS (
      SELECT wh.vec_id,
             AVG(abs(wh.w - round(wh.w / (wm.m / 127.0)) * (wm.m / 127.0))
                 / wm.m) AS rel_err
      FROM wh JOIN wh_m wm USING (vec_id) WHERE wm.m > 0
      GROUP BY wh.vec_id)
    SELECT ROUND(AVG(r.rel_err), 6) AS raw_rel_err,
           ROUND(AVG(w.rel_err), 6) AS whitened_rel_err,
           ROUND(AVG(w.rel_err) / AVG(r.rel_err), 6) AS err_ratio
    FROM raw_err r JOIN wh_err w USING (vec_id)
    """,
)
def embedding_whitening_audit(spark, sf_dir):
    """Does per-dimension standardization help int8 quantization? Average
    per-vector relative reconstruction error (|x - dequant(quant(x))| /
    max|x|, symmetric per-vector scale, 127 levels) for RAW versus
    WHITENED ((x-mu)/sd per dim) embeddings, and their ratio — the
    one-number audit run before deciding the store's quantized tier
    should whiten at ingest (reads `embedding_dim_stats`' moments; ratio
    < 1 means whitening spreads mass across dims and quantizes better).
    Two posexplode aggregations and per-vector groupBys; the 64-row dim
    stats broadcast back — corpus passes stay map-shaped."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    s = e.groupBy("pos").agg(
        F.avg("v").alias("mu"),
        F.when(F.stddev_pop("v") == 0, F.lit(1.0))
        .otherwise(F.stddev_pop("v"))
        .alias("sd"),
    )

    def rel_err(df, col):
        m = df.groupBy("vec_id").agg(F.max(F.abs(F.col(col))).alias("m"))
        j = df.join(m, "vec_id").filter(F.col("m") > 0)
        step = F.col("m") / 127.0
        err = F.abs(F.col(col) - F.round(F.col(col) / step) * step) / F.col("m")
        return j.groupBy("vec_id").agg(F.avg(err).alias("rel_err"))

    raw = rel_err(e, "v")
    wh = rel_err(
        e.join(F.broadcast(s), "pos").select(
            "vec_id", "pos", ((F.col("v") - F.col("mu")) / F.col("sd")).alias("w")
        ),
        "w",
    )
    return (
        raw.select(F.col("vec_id"), F.col("rel_err").alias("r"))
        .join(wh.select(F.col("vec_id"), F.col("rel_err").alias("w")), "vec_id")
        .agg(
            F.round(F.avg("r"), 6).alias("raw_rel_err"),
            F.round(F.avg("w"), 6).alias("whitened_rel_err"),
            F.round(F.avg("w") / F.avg("r"), 6).alias("err_ratio"),
        )
    )



@register(
    "embedding_isotropy",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
    n AS (SELECT COUNT(*)::BIGINT AS cnt FROM e),
    p AS (
      SELECT a.vec_id,
             list_cosine_similarity(a.x, b.x) AS cos
      FROM e a JOIN e b
        ON b.vec_id = (a.vec_id + 7919) % (SELECT cnt FROM n)
       AND a.vec_id != b.vec_id)
    SELECT ROUND(AVG(cos), 6) AS mean_cos,
           ROUND(STDDEV_POP(cos), 6) AS std_cos,
           COUNT(*)::BIGINT AS n_pairs
    FROM p
    """,
)
def embedding_isotropy(spark, sf_dir):
    """Isotropy probe (Ethayarajh 2019's anisotropy measure, deterministic
    form): mean cosine between each vector and a fixed pseudo-random
    partner (vec_id + 7919 mod N — a full-cycle pairing since 7919 is
    prime, so every vector appears exactly once on each side; no RNG, so
    both engines pair identically). Mean cosine near 0 = isotropic
    embedding space; large positive = the common-direction anisotropy
    that quietly inflates every cosine similarity the engine serves. One
    self equi-join on the derived key — a 1:1 join, not a pair explosion."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("x"))
    cnt = e.count()
    a = e.select(F.col("vec_id"), F.col("x").alias("xa"),
                 ((F.col("vec_id") + 7919) % cnt).alias("pk"))
    b = e.select(F.col("vec_id").alias("pk"), F.col("x").alias("xb"))

    def cos(u, v):
        dot = F.aggregate(F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, t: acc + t)
        nu = F.sqrt(F.aggregate(F.transform(u, lambda x: x * x), F.lit(0.0), lambda acc, t: acc + t))
        nv = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, t: acc + t))
        return dot / (nu * nv)

    p = (
        a.join(b, "pk")
        .filter(F.col("vec_id") != F.col("pk"))
        .select(cos(F.col("xa"), F.col("xb")).alias("cos"))
    )
    return p.agg(
        F.round(F.avg("cos"), 6).alias("mean_cos"),
        F.round(F.stddev_pop("cos"), 6).alias("std_cos"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )



@register(
    "pca_power_converged",
    """
    WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                      unnest(embedding)::DOUBLE AS v
               FROM embeddings),
    s1 AS (SELECT vec_id, SUM(v) / 8.0 AS sc FROM x GROUP BY vec_id),
    c1 AS (SELECT x.pos, SUM(s1.sc * x.v) AS c
           FROM x JOIN s1 USING (vec_id) GROUP BY x.pos),
    n1 AS (SELECT SQRT(SUM(c * c)) AS nrm FROM c1),
    v1 AS (SELECT pos, c / (SELECT nrm FROM n1) AS v FROM c1),
    s2 AS (SELECT x.vec_id, SUM(x.v * v1.v) AS sc
           FROM x JOIN v1 USING (pos) GROUP BY x.vec_id),
    c2 AS (SELECT x.pos, SUM(s2.sc * x.v) AS c
           FROM x JOIN s2 USING (vec_id) GROUP BY x.pos),
    n2 AS (SELECT SQRT(SUM(c * c)) AS nrm FROM c2),
    v2 AS (SELECT pos, c / (SELECT nrm FROM n2) AS v FROM c2),
    s3 AS (SELECT x.vec_id, SUM(x.v * v2.v) AS sc
           FROM x JOIN v2 USING (pos) GROUP BY x.vec_id),
    c3 AS (SELECT x.pos, SUM(s3.sc * x.v) AS c
           FROM x JOIN s3 USING (vec_id) GROUP BY x.pos),
    n3 AS (SELECT SQRT(SUM(c * c)) AS nrm FROM c3)
    SELECT c3.pos - 1 AS dim,
           ROUND(c3.c / (SELECT nrm FROM n3), 6) AS v3,
           ROUND((SELECT nrm FROM n3), 6) AS eigval
    FROM c3 ORDER BY dim ASC
    """,
)
def pca_power_converged(spark, sf_dir):
    """Iterated power method for the corpus's top principal direction —
    THREE fixed X'(Xv) passes from the uniform seed (fixed count for a
    deterministic chained-CTE oracle, the `pagerank_converged`
    convention), with the Rayleigh-quotient eigenvalue estimate
    ||X'X v2|| riding along (v2 is unit, so the norm of the last
    un-normalized iterate IS the top-eigenvalue estimate). Extends the
    single-step `pca_power_iteration_step` to the actual loop a
    spectral-drift monitor runs.

    Scale shape: the d x d covariance is NEVER materialized — each pass
    is the two matrix-free products: a per-row scalar x·v (map-only; v
    enters as 64 plan literals, collected between passes under the same
    bounded-set justification as the IVF centroids), then a (dim,
    partial-sum) groupBy shuffling 64 partials per task regardless of
    corpus size. Normalizers are one-row broadcasts. Three passes = three
    bounded shuffles, zero driver-side matrices."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(F.col("embedding").cast("array<double>").alias("x"))
    dim = 64
    v = [1.0 / 8.0] * dim  # uniform unit seed (1/sqrt(64))

    def one_pass(vlit):
        sc = e.select(
            "x", V.dot_product(F.col("x"), vlit).alias("sc")
        )
        return (
            sc.select("sc", F.posexplode("x").alias("pos", "xv"))
            .groupBy("pos")
            .agg(F.sum(F.col("sc") * F.col("xv")).alias("c"))
        )

    for _ in range(2):  # first two passes collect the 64-float iterate
        rows = one_pass(v).collect()
        c = [0.0] * dim
        for r in rows:
            c[int(r["pos"])] = float(r["c"])
        nrm = sum(t * t for t in c) ** 0.5
        v = [t / nrm for t in c]

    comp = one_pass(v)  # final pass stays distributed end-to-end
    n = comp.agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm"))
    return (
        comp.crossJoin(F.broadcast(n))
        .select(
            F.col("pos").alias("dim"),
            F.round(F.col("c") / F.col("nrm"), 6).alias("v3"),
            F.round(F.col("nrm"), 6).alias("eigval"),
        )
        .orderBy(F.col("dim").asc())
    )



# ---------------------------------------------------------------------------
# Round-5 batch 2: binary (sign) quantization + packed Hamming retrieval,
# Cauchy-Schwarz norm pruning, Johnson-Lindenstrauss distortion audit.
# ---------------------------------------------------------------------------

_DD_SIG = (
    "list_sum(list_transform(range(1, 33), i -> CASE WHEN {e}[i{off}] >= 0 "
    "THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))::BIGINT"
)


@register(
    "embedding_binary_hamming",
    f"""
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             {_DD_SIG.format(e='(embedding::DOUBLE[])', off='')} AS lo,
             {_DD_SIG.format(e='(embedding::DOUBLE[])', off=' + 32')} AS hi
      FROM embeddings
    ),
    q AS (SELECT lo AS lo0, hi AS hi0, e AS qe FROM s WHERE vec_id = 0),
    h AS (
      SELECT s.vec_id, s.e, q.qe,
             (bit_count(xor(s.lo, q.lo0)) + bit_count(xor(s.hi, q.hi0)))::INTEGER
               AS hamming
      FROM s CROSS JOIN q
    ),
    cand AS (SELECT * FROM h ORDER BY hamming ASC, vec_id ASC LIMIT 50)
    SELECT vec_id, hamming,
           ROUND(LEAST(GREATEST(list_cosine_similarity(e, qe), -1.0), 1.0), 6)
             AS cosine
    FROM cand
    ORDER BY LEAST(GREATEST(list_cosine_similarity(e, qe), -1.0), 1.0) DESC,
             vec_id ASC
    LIMIT 10
    """,
)
def embedding_binary_hamming(spark, sf_dir):
    """Binary (sign) quantization retrieval: each 64-dim float vector is
    crushed to a 64-BIT signature (bit i = sign of dim i, packed into two
    bigints), candidates are the 50 nearest by packed Hamming distance
    (bit_count(xor) — 2 instructions per 32 dims, a 32x bandwidth cut vs
    float scans, the first-stage filter binary-quantized vector DBs use),
    and the final 10 are exact-cosine re-ranked. Signature packing is
    map-only integer arithmetic; the Hamming scan is a map-only pass over
    16 bytes/row + a bounded TakeOrdered — at 100 TB this is the scan
    you can actually afford, with exact re-rank touching only the
    candidate set. Both stages' orderings carry full vec_id tie-breaks,
    so the candidate and output boundaries are deterministic."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    x = F.col("embedding").cast("array<double>")
    # 1 << 31 is past the int32 range, so the whole array is bigint
    powers = literal_array([1 << k for k in range(32)])

    def sig(start):
        bits = F.zip_with(
            F.slice(x, start, 32),
            powers,
            lambda v, p: F.when(v >= 0, p).otherwise(F.lit(0).cast("bigint")),
        )
        return F.aggregate(bits, F.lit(0).cast("bigint"), lambda a, b: a + b)

    lo0 = sum(1 << k for k in range(32) if q[k] >= 0)
    hi0 = sum(1 << k for k in range(32) if q[32 + k] >= 0)
    hamming = (
        F.bit_count(sig(1).bitwiseXOR(F.lit(lo0).cast("bigint")))
        + F.bit_count(sig(33).bitwiseXOR(F.lit(hi0).cast("bigint")))
    ).cast("int")
    cand = (
        emb.select("vec_id", x.alias("e"), hamming.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(50)
    )
    cos = V.cosine_similarity(F.col("e"), q)
    return (
        cand.select("vec_id", "hamming", cos.alias("__cos"))
        .orderBy(F.col("__cos").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "hamming", F.round("__cos", 6).alias("cosine"))
    )


@register(
    "dot_norm_prune_audit",
    f"""
    WITH q0 AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    n AS (
      SELECT vec_id,
             list_sum(list_transform(embedding::DOUBLE[], v -> v * v)) AS sq,
             list_sum(list_transform(range(1, len(embedding) + 1),
               i -> (embedding::DOUBLE[])[i] * qe[i])) AS dot
      FROM embeddings CROSS JOIN q0
    ),
    qn AS (SELECT sqrt(list_sum(list_transform(qe, v -> v * v))) AS qnorm FROM q0),
    t AS (SELECT MIN(dot) AS kth_dot
          FROM (SELECT dot FROM n ORDER BY dot DESC, vec_id ASC LIMIT 10))
    SELECT COUNT(*)::BIGINT AS n_vectors,
           ROUND(MAX(t.kth_dot), 6) AS kth_dot,
           SUM(CASE WHEN sqrt(n.sq) * qn.qnorm < t.kth_dot THEN 1 ELSE 0 END)::BIGINT
             AS n_pruned,
           ROUND(SUM(CASE WHEN sqrt(n.sq) * qn.qnorm < t.kth_dot THEN 1 ELSE 0 END)
                 ::DOUBLE / COUNT(*), 6) AS prune_frac
    FROM n CROSS JOIN qn CROSS JOIN t
    """,
)
def dot_norm_prune_audit(spark, sf_dir):
    """Cauchy-Schwarz norm pruning audit for dot-product top-k: any vector
    with ||x||*||q|| below the running 10th-best dot product can never
    enter the top-10, so a norm-sorted or norm-partitioned index skips it
    without touching its floats. This measures the actual prune power on
    this corpus: the exact 10th-best dot (one bounded top-k), then the
    fraction of the corpus whose upper bound falls under it. Norms are a
    map-only pass an index would precompute once at write time; at
    100 TB the audit's prune_frac is exactly the fraction of the scan a
    norm-banded layout saves on MIPS queries. All doubles on both sides
    are the same ascending-fold sums, so the strict < comparison is
    bit-deterministic across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    qnorm = float(sum(v * v for v in q)) ** 0.5
    x = F.col("embedding").cast("array<double>")
    sq = F.aggregate(
        F.zip_with(x, x, lambda a, b: a * b), F.lit(0.0), lambda a, b: a + b
    )
    n = emb.select(
        "vec_id", sq.alias("sq"), V.dot_product(x, q).alias("dot")
    ).persist()
    kth = (
        n.orderBy(F.col("dot").desc(), F.col("vec_id").asc())
        .limit(10)
        .agg(F.min("dot").alias("kth_dot"))
    )
    pruned = F.when(F.sqrt(F.col("sq")) * F.lit(qnorm) < F.col("kth_dot"), 1).otherwise(0)
    return (
        n.crossJoin(F.broadcast(kth))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(F.max("kth_dot"), 6).alias("kth_dot"),
            F.sum(pruned).cast("bigint").alias("n_pruned"),
            F.round(F.sum(pruned).cast("double") / F.count(F.lit(1)), 6).alias(
                "prune_frac"
            ),
        )
    )


@register(
    "random_projection_distortion",
    """
    WITH p AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             list_transform(range(0, 16), j ->
               list_sum(list_transform(range(0, 64), i ->
                 (embedding::DOUBLE[])[i + 1] *
                 (CASE WHEN ((i * 73856093 + j * 19349663) % 97) < 48
                       THEN 1.0 ELSE -1.0 END))) / 4.0) AS y
      FROM embeddings WHERE vec_id < 100
    ),
    pr AS (
      SELECT a.vec_id AS va,
             sqrt(list_sum(list_transform(range(1, 65),
               i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i])))) AS dx,
             sqrt(list_sum(list_transform(range(1, 17),
               j -> (a.y[j] - b.y[j]) * (a.y[j] - b.y[j])))) AS dy
      FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 2 = 0
    )
    SELECT COUNT(*)::BIGINT AS n_pairs,
           ROUND(MIN(dy / dx), 6) AS min_ratio,
           ROUND(AVG(dy / dx), 6) AS mean_ratio,
           ROUND(MAX(dy / dx), 6) AS max_ratio
    FROM pr
    """,
)
def random_projection_distortion(spark, sf_dir):
    """Johnson-Lindenstrauss distortion audit: project 64-dim embeddings
    to 16 dims with a DETERMINISTIC ±1 matrix (sign from an integer mix
    of (i, j) — reproducible on any engine, no stored matrix, no RNG
    state; scaled 1/sqrt(k) so distances are preserved in expectation)
    and measure the distance-ratio spread over 50 fixed disjoint pairs.
    This is the pre-flight check before swapping a 4x-cheaper projected
    column into an ANN pipeline: mean_ratio ~= 1 with a tight band means
    the projection is safe at the corpus's intrinsic dimension. The
    projection is a map-only expression (no shuffle, no UDF, stays in
    whole-stage codegen); pairs join on a derived key so the audit cost
    is one bounded equi-join. Fold order of every sum is ascending-index
    in both engines — ratios are bit-identical before rounding."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    x = F.col("embedding").cast("array<double>")
    sign = lambda i, j: F.when(
        ((i.cast("bigint") * 73856093 + j.cast("bigint") * 19349663) % 97) < 48,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    y = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: F.aggregate(
            F.sequence(F.lit(0), F.lit(63)),
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(x, i + 1) * sign(i, j),
        )
        / F.lit(4.0),
    )
    p = emb.select("vec_id", x.alias("e"), y.alias("y")).persist()
    a = p.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("va"), F.col("e").alias("ea"), F.col("y").alias("ya")
    )
    b = p.filter(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") - 1).alias("va"), F.col("e").alias("eb"), F.col("y").alias("yb")
    )
    l2 = lambda u, v: F.sqrt(
        F.aggregate(
            F.zip_with(u, v, lambda s, t: (s - t) * (s - t)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
    )
    pr = a.join(b, "va").select((l2(F.col("ya"), F.col("yb")) / l2(F.col("ea"), F.col("eb"))).alias("ratio"))
    return pr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.avg("ratio"), 6).alias("mean_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
    )


@register(
    "quantize_recall_audit",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
               FROM embeddings),
    qv AS (SELECT vec_id, mx,
                  list_transform(e, x -> floor(x * (127.0 / mx) + 0.5)) AS q
           FROM v),
    q0 AS (SELECT q AS qz, mx AS mx0 FROM qv WHERE vec_id = 0),
    qs AS (SELECT vec_id,
                  list_sum(list_transform(range(1, len(q) + 1), i -> q[i] * qz[i]))
                    * (mx * mx0) / 16129.0 AS score
           FROM qv CROSS JOIN q0),
    qtop AS (SELECT vec_id FROM qs ORDER BY score DESC, vec_id ASC LIMIT 10),
    e0 AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    es AS (SELECT vec_id,
                  list_sum(list_transform(range(1, len(e) + 1), i -> e[i] * qe[i]))
                    AS score
           FROM v CROSS JOIN e0),
    etop AS (SELECT vec_id FROM es ORDER BY score DESC, vec_id ASC LIMIT 10)
    SELECT 10::INTEGER AS k,
           COUNT(*)::BIGINT AS n_overlap,
           ROUND(COUNT(*)::DOUBLE / 10, 6) AS recall
    FROM qtop JOIN etop USING (vec_id)
    """,
)
def quantize_recall_audit(spark, sf_dir):
    """Recall@10 of int8-quantized dot-product retrieval against the exact
    float scan — the acceptance test you run before switching a serving
    path to the 4x-cheaper quantized column (`embedding_quantize_topk`
    produces the ranking; this certifies it). Both top-10s are bounded
    TakeOrdereds over map-only scoring passes; the overlap is a
    10-row-by-10-row join. At 100 TB you'd run this over a fixed probe
    panel instead of one query — the per-probe cost is unchanged:
    2 map-only scans + 2 bounded top-ks."""
    from veri_spark.operators.similarity import quantized_dot_scores

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    qtop = (
        quantized_dot_scores(emb, q)
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    x = F.col("embedding").cast("array<double>")
    etop = (
        emb.select("vec_id", V.dot_product(x, q).alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    return (
        qtop.join(etop, "vec_id")
        .agg(
            F.lit(10).alias("k"),
            F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
            F.round(F.count(F.lit(1)).cast("double") / 10, 6).alias("recall"),
        )
    )


@register(
    "pq_subspace_error",
    f"""
    WITH cb AS (SELECT vec_id::INT AS c, embedding::DOUBLE[] AS e
                FROM embeddings WHERE vec_id < {_PQ_K}),
    subd AS (
      SELECT r.vec_id, j.j, cb.c, {_dd_subdist('r.e', 'cb.e', 'j.j')} AS d
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) r
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS j) j
      CROSS JOIN cb
    ),
    enc AS (
      SELECT vec_id, j, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d ASC, c ASC) AS rn
        FROM subd) WHERE rn = 1
    )
    SELECT j::INTEGER AS subspace,
           ROUND(AVG(d), 6) AS mean_sq_err,
           ROUND(MAX(d), 6) AS max_sq_err
    FROM enc GROUP BY j ORDER BY j ASC
    """,
)
def pq_subspace_error(spark, sf_dir):
    """PQ quantization-error breakdown BY SUBSPACE: the mean/max squared
    reconstruction error of each of the 8 codebooks — the diagnostic
    that tells you WHICH dimensions a product quantizer is butchering
    (a hot subspace wants more centroids, an OPQ-style rotation, or a
    different dim split; `embedding_quantize_error` gives only the
    scalar-quantizer aggregate). Encode is the sanctioned Arrow
    pandas_udf pass (map-only, the codes are what a 100 TB corpus
    persists); reconstruction error re-derives the chosen entry from
    the code via literal codebook lookup — 8 tiny zip_with sums, no
    re-scoring of all 16 candidates — and one 8-row rollup ends the
    plan. Deterministic first-rows codebooks, same convention as
    `ann_pq_adc`, so the oracle rebuilds them exactly."""
    from veri_spark.operators.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    head = (
        emb.filter(F.col("vec_id") < _PQ_K).select("vec_id", "embedding").collect()
    )
    by_id = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in head}
    books = [
        [by_id[c][j * _PQ_SUB : (j + 1) * _PQ_SUB] for c in range(_PQ_K)]
        for j in range(_PQ_M)
    ]
    enc = pq_encode(emb.select("vec_id", "embedding"), books)
    x = F.col("embedding").cast("array<double>")
    per = []
    for j in range(_PQ_M):
        bl = literal_array(books[j])
        entry = F.element_at(bl, F.element_at(F.col("pq_code"), j + 1) + 1)
        sub = F.slice(x, j * _PQ_SUB + 1, _PQ_SUB)
        err = F.aggregate(
            F.zip_with(sub, entry, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        per.append(F.struct(F.lit(j).alias("subspace"), err.alias("d")))
    long = enc.select(F.explode(F.array(*per)).alias("s")).select(
        F.col("s.subspace").alias("subspace"), F.col("s.d").alias("d")
    )
    return (
        long.groupBy("subspace")
        .agg(
            F.round(F.avg("d"), 6).alias("mean_sq_err"),
            F.round(F.max("d"), 6).alias("max_sq_err"),
        )
        .orderBy(F.col("subspace").asc())
    )


@register(
    "ivf_nprobe_cost_curve",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    cr AS (
      SELECT c.centroid_id,
             row_number() OVER (
               ORDER BY list_distance((SELECT qe FROM q), c.cvec) ASC,
                        c.centroid_id ASC) AS cell_rank
      FROM {_DD_CENTROIDS} c),
    d AS (
      SELECT e.vec_id, c.centroid_id,
             list_distance(e.embedding::DOUBLE[], c.cvec) AS dist
      FROM embeddings e CROSS JOIN {_DD_CENTROIDS} c),
    a AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist ASC, centroid_id ASC) AS rn
        FROM d) WHERE rn = 1),
    sz AS (SELECT centroid_id, COUNT(*)::BIGINT AS n FROM a GROUP BY centroid_id),
    n AS (SELECT COUNT(*)::DOUBLE AS total FROM embeddings),
    probes AS (SELECT unnest(range(1, 5)) AS nprobe)
    SELECT p.nprobe::INTEGER AS nprobe,
           SUM(COALESCE(sz.n, 0))::BIGINT AS n_candidates,
           ROUND(SUM(COALESCE(sz.n, 0)) / ANY_VALUE(n.total), 6) AS scan_frac
    FROM probes p
    JOIN cr ON cr.cell_rank <= p.nprobe
    LEFT JOIN sz ON sz.centroid_id = cr.centroid_id
    CROSS JOIN n
    GROUP BY p.nprobe
    ORDER BY p.nprobe ASC
    """,
)
def ivf_nprobe_cost_curve(spark, sf_dir):
    """The COST side of the IVF recall/cost trade: rows scanned (and the
    fraction of the corpus) for nprobe = 1..4 on the standard probe —
    read next to `ann_ivf_recall_audit` (recall@10 per config) it gives
    the full operating curve a serving team picks nprobe from. Cell
    sizes are one partial-aggregated rollup of the map-only literal-
    centroid assignment; the query's cell ranking is an 8-row window;
    the curve is a broadcast of 4 probe levels against 8 cell sizes —
    NOTHING here re-scans the corpus per probe level, which is the
    point: the audit costs one assignment pass regardless of how many
    nprobe settings it prices. `ivf_balance_audit` is the same cell-size
    table read for skew; this prices the probe."""
    from veri_spark.operators.similarity import (
        ivf_assign,
        nearest_centroids,
        take_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    cents = take_centroids(emb, 8)
    rank_of = {cid: i + 1 for i, cid in enumerate(nearest_centroids(cents, q))}
    a = ivf_assign(emb, cents)
    sz = a.groupBy("centroid_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rank_expr = F.element_at(
        literal_map(rank_of), F.col("centroid_id").cast("int")
    )
    n = emb.agg(F.count(F.lit(1)).cast("double").alias("total"))
    probes = spark.range(1, 5).select(F.col("id").cast("int").alias("nprobe"))
    return (
        sz.withColumn("cell_rank", rank_expr)
        .crossJoin(F.broadcast(probes))
        .filter(F.col("cell_rank") <= F.col("nprobe"))
        .crossJoin(F.broadcast(n))
        .groupBy("nprobe")
        .agg(
            F.sum("n").cast("bigint").alias("n_candidates"),
            F.round(F.sum("n") / F.max("total"), 6).alias("scan_frac"),
        )
        .orderBy(F.col("nprobe").asc())
    )


@register(
    "embedding_centroid_drift",
    """
    WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS e,
                       vec_id % 2 AS half
                FROM embeddings),
    x AS (SELECT label, half, generate_subscripts(e, 1) AS pos,
                 unnest(e) AS v
          FROM ev),
    c AS (SELECT label, half, pos, AVG(v) AS av
          FROM x GROUP BY label, half, pos),
    d AS (
      SELECT a.label,
             sqrt(SUM((a.av - b.av) * (a.av - b.av))) AS shift
      FROM c a JOIN c b
        ON a.label = b.label AND a.pos = b.pos
       AND a.half = 0 AND b.half = 1
      GROUP BY a.label)
    SELECT label, ROUND(shift, 6) AS centroid_shift
    FROM d ORDER BY label ASC
    """,
)
def embedding_centroid_drift(spark, sf_dir):
    """Embedding-distribution drift monitor: the L2 shift between each
    label's centroid computed on two halves of the corpus (vec_id parity
    as the batch proxy — in production the halves are yesterday's and
    today's ingest). A label whose centroid moves is the signal to
    re-train PQ codebooks / re-seed IVF centroids for that region
    BEFORE recall quietly degrades — this is the embedding-space
    counterpart of `vocab_drift_psi`. Per-(label, half, dim) means are
    one partial-aggregated posexplode rollup (|labels| x 2 x dim partial
    rows per task, never the vectors); the shift is a join of two tiny
    centroid tables. Same identity-test family as A5
    (stats.statistical_identity) at per-label grain."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    c = x.groupBy("label", "half", "pos").agg(F.avg("v").alias("av"))
    a = c.filter(F.col("half") == 0).select(
        "label", "pos", F.col("av").alias("av_a")
    )
    b = c.filter(F.col("half") == 1).select(
        "label", "pos", F.col("av").alias("av_b")
    )
    d = (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sqrt(
                F.sum((F.col("av_a") - F.col("av_b")) * (F.col("av_a") - F.col("av_b")))
            ).alias("shift")
        )
    )
    return d.select("label", F.round("shift", 6).alias("centroid_shift")).orderBy(
        F.col("label").asc()
    )


@register(
    "embedding_unit_norm_audit",
    """
    WITH n AS (
      SELECT vec_id,
             CAST(round(1e9 * abs(
               sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                            x -> x * x))) - 1.0))
               AS BIGINT) AS dev_nano
      FROM embeddings)
    SELECT COUNT(*)::BIGINT AS n_vecs,
           SUM(CASE WHEN dev_nano > 1000 THEN 1 ELSE 0 END)::BIGINT
             AS n_off_unit,
           MAX(dev_nano)::BIGINT AS max_abs_dev_nano
    FROM n
    """,
)
def embedding_unit_norm_audit(spark, sf_dir):
    """Unit-norm invariant check over the embedding corpus: every serving
    shortcut that treats dot product as cosine (the `knn_dot` fast path,
    IVF with inner-product scoring, Hamming sketches of signs) silently
    assumes ||v|| = 1 — this audit PROVES it, reporting the count of
    vectors whose norm deviates from 1 by more than 1e-6 and the worst
    deviation in nano-units. The norm is the ascending-index fold both
    engines share (bit-identical sum of squares) through IEEE sqrt;
    deviations are quantized to integer NANOS per row before the compare
    and max, so the threshold cannot flap on a last-ulp difference. One
    map pass + one aggregate; at 100 TB this rides the ingest scan of
    every embedding batch."""
    emb = load_table(spark, sf_dir, "embeddings")
    n2 = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    dev = F.round(F.lit(1e9) * F.abs(F.sqrt(n2) - 1.0)).cast("bigint")
    return emb.select(dev.alias("dev_nano")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("dev_nano") > 1000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_off_unit"),
        F.max("dev_nano").cast("bigint").alias("max_abs_dev_nano"),
    )



@register(
    "kmeans_pp_farthest_seeds",
    """
    WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS x
                            FROM embeddings),
    s0 AS (SELECT vec_id, x FROM e WHERE vec_id = 0),
    d1 AS MATERIALIZED (
      SELECT e.vec_id, list_distance(e.x, s0.x) AS md
      FROM e CROSS JOIN s0 WHERE e.vec_id <> s0.vec_id),
    p1 AS MATERIALIZED (SELECT vec_id, md FROM d1
                        ORDER BY md DESC, vec_id ASC LIMIT 1),
    seeds1 AS (SELECT vec_id FROM s0 UNION ALL SELECT vec_id FROM p1),
    d2 AS MATERIALIZED (
      SELECT e.vec_id, MIN(list_distance(e.x, s.x)) AS md
      FROM e JOIN (SELECT e2.vec_id, e2.x FROM e e2
                   JOIN seeds1 USING (vec_id)) s ON TRUE
      WHERE e.vec_id NOT IN (SELECT vec_id FROM seeds1)
      GROUP BY e.vec_id),
    p2 AS MATERIALIZED (SELECT vec_id, md FROM d2
                        ORDER BY md DESC, vec_id ASC LIMIT 1),
    seeds2 AS (SELECT vec_id FROM seeds1 UNION ALL SELECT vec_id FROM p2),
    d3 AS MATERIALIZED (
      SELECT e.vec_id, MIN(list_distance(e.x, s.x)) AS md
      FROM e JOIN (SELECT e2.vec_id, e2.x FROM e e2
                   JOIN seeds2 USING (vec_id)) s ON TRUE
      WHERE e.vec_id NOT IN (SELECT vec_id FROM seeds2)
      GROUP BY e.vec_id),
    p3 AS MATERIALIZED (SELECT vec_id, md FROM d3
                        ORDER BY md DESC, vec_id ASC LIMIT 1)
    SELECT * FROM (
      SELECT 0 AS seed_rank, (SELECT vec_id FROM s0)::BIGINT AS vec_id,
             0.0 AS sel_dist
      UNION ALL SELECT 1, vec_id::BIGINT, ROUND(md, 6) FROM p1
      UNION ALL SELECT 2, vec_id::BIGINT, ROUND(md, 6) FROM p2
      UNION ALL SELECT 3, vec_id::BIGINT, ROUND(md, 6) FROM p3
    ) ORDER BY seed_rank ASC
    """,
)
def kmeans_pp_farthest_seeds(spark, sf_dir):
    """Farthest-first traversal seeding (Gonzalez's 2-approximation for
    k-center, and the deterministic max-min variant of k-means++ init):
    starting from vector 0, repeatedly pick the vector whose distance to
    its NEAREST already-chosen seed is largest (ties by id) — 4 seeds, 3
    selection rounds. This is the codebook-initialization step upstream of
    the IVF/PQ training the ANN family builds on (`kmeans_step_inertia` is
    the Lloyd-iteration twin); max-min seeding needs no RNG, making it the
    reproducible choice for a 100 TB corpus. Execution shape per round:
    the chosen seeds are a k-row PLAN LITERAL frame (the codebook
    convention), so each selection is ONE map-only scan computing
    least(dist to each seed) followed by a bounded top-1 — no
    corpus-corpus join, no unpartitioned window; the driver holds exactly
    k rows. The selection argmax compares UNROUNDED doubles identical in
    both engines (ascending-index fold parity) with full-id tie-breaks;
    only the display distance is rounded."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    seed_rows = [(0, 0, 0.0)]
    seed_ids = [0]
    seed_vecs = [
        [float(v) for v in emb.filter(F.col("vec_id") == 0)
         .select("embedding").first()[0]]
    ]
    for rank in (1, 2, 3):
        dists = [
            V.euclidean_distance(F.col("embedding"), sv) for sv in seed_vecs
        ]
        md = dists[0] if len(dists) == 1 else F.least(*dists)
        # the chosen vector rides along in the top-1 row — no second
        # fetch-by-id job per round
        cand = (
            emb.filter(~F.col("vec_id").isin(seed_ids))
            .select("vec_id", "embedding", md.alias("md"))
        )
        top = topk(cand, "md", 1, higher_is_better=True, tie_cols=["vec_id"])
        row = top.first()
        seed_rows.append((rank, int(row["vec_id"]), float(row["md"])))
        seed_ids.append(int(row["vec_id"]))
        seed_vecs.append([float(v) for v in row["embedding"]])
    out = spark.createDataFrame(
        seed_rows, "seed_rank int, vec_id bigint, sel_dist double"
    )
    return out.select(
        "seed_rank",
        "vec_id",
        F.round("sel_dist", 6).alias("sel_dist"),
    ).orderBy(F.col("seed_rank").asc())


@register(
    "cosine_dot_rank_agreement",
    f"""
    WITH c AS (SELECT vec_id,
                      ROUND(LEAST(GREATEST(list_cosine_similarity(
                                embedding::DOUBLE[], {_Q0}), -1.0), 1.0), 6)
                        AS score
               FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 20),
    cr AS (SELECT vec_id,
                  row_number() OVER (ORDER BY score DESC, vec_id ASC) AS r
           FROM c),
    d AS (SELECT vec_id,
                 ROUND(list_inner_product(embedding::DOUBLE[], {_Q0}), 6)
                   AS score
          FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 20),
    dr AS (SELECT vec_id,
                  row_number() OVER (ORDER BY score DESC, vec_id ASC) AS r
           FROM d),
    j AS (SELECT cr.r AS rc, dr.r AS rd FROM cr JOIN dr USING (vec_id))
    SELECT COUNT(*)::BIGINT AS n_common,
           COALESCE(SUM(ABS(rc - rd)), 0)::BIGINT AS footrule_sum,
           CAST(round(1e6 * COUNT(*) / 20.0) AS BIGINT) AS overlap_micro
    FROM j
    """,
)
def cosine_dot_rank_agreement(spark, sf_dir):
    """Do cosine and raw dot-product retrieval AGREE on this corpus? The
    top-20 lists for the standard query vector under both K4 score
    functions, compared by set overlap and Spearman footrule on the
    common members — the one-row diagnostic that says whether vector
    norms carry signal (dot boosts long vectors; if embeddings are
    ~normalized the two rankings coincide and the cheaper dot kernel can
    serve cosine traffic — the decision `embedding_norm_stats` hints at
    and this query settles). Both lists reuse the exact knn_cosine /
    knn_dot score expressions and orderings (rounded score DESC, vec_id
    ASC — the proven K1 parity), ranks are row_numbers over the BOUNDED
    post-limit 20-row frames (the accepted bounded-window idiom), and
    the outputs are exact integers plus one guarded micro ratio.

    Scale: two brute-force map-only scored scans (each the K1 shape:
    zero exchanges before the TakeOrdered merge) and a 20x20 join —
    at 100 TB you'd swap the scans for the IVF path; the agreement
    readout is unchanged."""
    a = _knn(spark, sf_dir, "CosineSimilarity", k=20)
    b = _knn(spark, sf_dir, "VectorMultiplication", k=20)
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id").asc())
    cr = a.select("vec_id", F.row_number().over(w).alias("rc"))
    dr = b.select("vec_id", F.row_number().over(w).alias("rd"))
    j = cr.join(dr, "vec_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.coalesce(
            F.sum(F.abs(F.col("rc") - F.col("rd"))), F.lit(0)
        )
        .cast("bigint")
        .alias("footrule_sum"),
        F.round(F.lit(1e6) * F.count(F.lit(1)) / F.lit(20.0))
        .cast("bigint")
        .alias("overlap_micro"),
    )


@register(
    "twonn_intrinsic_dimension",
    """
    WITH pairs AS (
      SELECT a.vec_id AS anchor,
             list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               AS dist,
             b.vec_id AS nb
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
    nn AS (SELECT anchor, dist,
                  row_number() OVER (PARTITION BY anchor
                                     ORDER BY dist ASC, nb ASC) AS rk
           FROM pairs),
    rr AS (SELECT anchor,
                  MIN(CASE WHEN rk = 1 THEN dist END) AS r1,
                  MIN(CASE WHEN rk = 2 THEN dist END) AS r2
           FROM nn WHERE rk <= 2 GROUP BY anchor),
    mu AS (SELECT CAST(round(1e9 * ln(r2 / r1)) AS BIGINT) AS lnmu_nano
           FROM rr WHERE r1 > 0),
    s AS (SELECT COUNT(*)::BIGINT AS n_used,
                 SUM(lnmu_nano)::BIGINT AS s_nano FROM mu),
    t AS (SELECT COUNT(*)::BIGINT AS n_vectors FROM embeddings)
    SELECT t.n_vectors, s.n_used,
           CASE WHEN s.s_nano > 0
                THEN ROUND(s.n_used * 1e9 / (s.s_nano * 1.0), 6)
                ELSE NULL END AS id_twonn
    FROM s CROSS JOIN t
    """,
)
def twonn_intrinsic_dimension(spark, sf_dir):
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) of the
    embedding corpus: for each vector take the distance ratio mu =
    r2/r1 of its two nearest neighbors; under a locally uniform density
    mu is Pareto(d) and the MLE is d = N / sum ln(mu_i). This is THE
    feasibility number for the whole ANN stack — `ivf_nprobe_cost_curve`
    and `knn_distance_concentration` measure the SYMPTOMS of high
    intrinsic dimension (flat recall curves, concentrating distances);
    TwoNN measures the cause, and an ID far below the ambient 64 dims
    is the license for aggressive PQ/LSH compression. Exact-by-audit
    shape: the brute-force n^2 pair scan IS the point (the estimator
    needs exact 2-NN; at 100 TB you run it on a uniform sample — the
    estimator is sample-consistent), with the two smallest distances
    per anchor taken by a PARTITIONED rank (per-anchor window, fully
    parallel, tie-broken on neighbor id in both engines). Distances use
    the gate-proven list_distance parity; ln(r2/r1) is the accepted
    WoE-family in-engine log on identical doubles, nano-quantized per
    anchor so the corpus fold is exact BIGINT; the estimate is ONE
    division. Coincident-point anchors (r1 = 0, mu undefined) are
    dropped and reported via n_used; an all-duplicates degenerate
    (s_nano = 0) guards to NULL.

    Scale: the pair join is the one quadratic stage — broadcast the
    smaller side, or at production sizes replace the exact 2-NN with
    the IVF-blocked `knn_join_ivf` candidates (same downstream math)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the anchor side arrives as ONE parquet split at test SFs, which would
    # serialize the n^2 distance fan-out into a single task; hash-spreading
    # it on vec_id parallelizes the join AND pre-aligns the per-anchor
    # window (no further exchange before the rank). The EXPLICIT partition
    # count matters: the anchor frame is tiny BEFORE the fan-out, so an
    # AQE-advisory repartition would coalesce right back to one task (the
    # repartitionByRange(num, ...) exemption noted in operators/ranking.py).
    a = emb.select(
        F.col("vec_id").alias("anchor"), F.col("embedding").alias("ea")
    ).repartition(32, F.col("anchor"))
    b = emb.select(F.col("vec_id").alias("nb"), F.col("embedding").alias("eb"))
    # Round-14 (guide §1.2 measure-first): the n^2 distance eval IS this
    # query — the interpreted zip_with/aggregate kernel on 4M pairs
    # measured 4.0 s vs 1.7 s for the codegen'd unrolled add-chain
    # (euclidean_distance_fixed, same fold order + per-term coalesce =
    # bit-identical; s_nano matched exactly in the probe). dim derives
    # from the corpus like knn_join does — one tiny aggregate job.
    dim = int(emb.agg(F.max(F.size("embedding"))).collect()[0][0] or 0)
    pairs = a.join(F.broadcast(b), F.col("nb") != F.col("anchor")).select(
        "anchor",
        V.euclidean_distance_fixed(F.col("ea"), F.col("eb"), dim).alias("dist"),
        "nb",
    )
    nn = topk_per_group(
        pairs,
        ["anchor"],
        "dist",
        2,
        higher_is_better=False,
        tie_cols=["nb"],
        rank_col="rk",
    )
    rr = nn.groupBy("anchor").agg(
        F.min(F.when(F.col("rk") == 1, F.col("dist"))).alias("r1"),
        F.min(F.when(F.col("rk") == 2, F.col("dist"))).alias("r2"),
    )
    mu = rr.filter(F.col("r1") > 0).select(
        F.round(F.lit(1e9) * F.log(F.col("r2") / F.col("r1")))
        .cast("bigint")
        .alias("lnmu_nano")
    )
    s = mu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        F.sum("lnmu_nano").cast("bigint").alias("s_nano"),
    )
    t = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    return s.crossJoin(F.broadcast(t)).select(
        "n_vectors",
        "n_used",
        F.when(
            F.col("s_nano") > 0,
            F.round(
                F.col("n_used") * F.lit(1e9) / (F.col("s_nano") * F.lit(1.0)),
                6,
            ),
        ).alias("id_twonn"),
    )


@register(
    "embedding_pairwise_cosine_moments",
    """
    WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                      unnest(embedding)::DOUBLE AS v
               FROM embeddings),
    nrm AS (SELECT vec_id, sqrt(SUM(v * v)) AS nv FROM x GROUP BY vec_id),
    u AS (SELECT x.vec_id, x.pos, x.v / nrm.nv AS u
          FROM x JOIN nrm USING (vec_id) WHERE nrm.nv > 0),
    n AS (SELECT COUNT(*)::BIGINT AS n FROM nrm WHERE nv > 0),
    s AS (SELECT pos, SUM(CAST(round(1e12 * u) AS DECIMAL(38,0))) AS sq
          FROM u GROUP BY pos),
    selfdot AS (SELECT vec_id,
                       SUM(CAST(round(1e12 * u * u) AS DECIMAL(38,0))) AS dq
                FROM u GROUP BY vec_id),
    sums AS (SELECT SUM(CAST(round(1e6 * (sq::DOUBLE / 1e12)
                                       * (sq::DOUBLE / 1e12))
                        AS DECIMAL(38,0))) AS snorm2q
             FROM s),
    diag AS (SELECT SUM(CAST(round(1e6 * (dq::DOUBLE / 1e12))
                        AS DECIMAL(38,0))) AS trq,
                    SUM(CAST(round(1e6 * (dq::DOUBLE / 1e12)
                                       * (dq::DOUBLE / 1e12))
                        AS DECIMAL(38,0))) AS tr2q
             FROM selfdot),
    g AS (SELECT a.pos AS pa, b.pos AS pb,
                 SUM(CAST(round(1e12 * a.u * b.u) AS DECIMAL(38,0))) AS gq
          FROM u a JOIN u b ON a.vec_id = b.vec_id
          GROUP BY 1, 2),
    frob AS (SELECT SUM(CAST(round(1e6 * (gq::DOUBLE / 1e12)
                                       * (gq::DOUBLE / 1e12))
                        AS DECIMAL(38,0))) AS fq
             FROM g)
    SELECT n.n AS n_vectors,
           ROUND((sums.snorm2q::DOUBLE / 1e6 - diag.trq::DOUBLE / 1e6)
                 / (n.n * (n.n - 1.0)), 6) AS mean_cosine,
           ROUND((frob.fq::DOUBLE / 1e6 - diag.tr2q::DOUBLE / 1e6)
                 / (n.n * (n.n - 1.0))
                 - ((sums.snorm2q::DOUBLE / 1e6 - diag.trq::DOUBLE / 1e6)
                    / (n.n * (n.n - 1.0)))
                   * ((sums.snorm2q::DOUBLE / 1e6 - diag.trq::DOUBLE / 1e6)
                      / (n.n * (n.n - 1.0))), 6) AS var_cosine
    FROM n CROSS JOIN sums CROSS JOIN diag CROSS JOIN frob
    """,
)
def embedding_pairwise_cosine_moments(spark, sf_dir):
    """EXACT mean and variance of ALL n(n-1) pairwise cosines in the
    embedding corpus -- without ever forming a pair. The Gram-moment
    identities do the work: sum of pairwise dots = ||sum u||^2 -
    sum ||u||^2 (a d-vector of column sums), and sum of SQUARED
    pairwise dots = ||U'U||_F^2 - sum (u.u)^2 (the d x d second-moment
    matrix: 64 x 64 = 4,096 entries regardless of corpus size). This
    sharpens `embedding_isotropy`'s single-pairing ESTIMATE into the
    exact population moments -- mean cosine is the anisotropy constant
    that inflates every similarity the engine serves, and the variance
    says whether re-centering would fix it (tight high mean: one
    common direction; wide: cluster structure, re-center per cluster).
    Normalized coordinates are quantized at 1e-12 before every fold so
    all sums are exact DECIMAL(38,0) at any parallelism.

    Scale: JOIN-FREE since round 13. The round-12 shape self-joined the
    exploded (vec_id, pos, u) frame on vec_id to form the Gram products
    -- and round-13 profiling showed the join was NOT even the
    bottleneck: the 246M-row DECIMAL(38,0) product fold was (BigDecimal
    accumulation outside primitive codegen; 14.2 s for the Frobenius
    term alone at sf0.1, identical cost in join and explode shapes).
    The round-13 shape removes both. Norms are a per-row `aggregate`
    fold (strict left fold in array order -- the same summation order
    DuckDB's unnest+SUM produces, so the u coordinates and the 1e-12
    quantization boundaries stay bit-identical), normalization a
    per-row `transform`, column sums one 64-group hash agg, self-dots
    a per-row exact-decimal fold. The Gram second-moment matrix is the
    one genuinely heavy term (246M scalar products at sf0.1), so it
    uses the sanctioned Arrow escape hatch (SURVEY §2.7): mapInPandas
    emits one EXACT int64 64x64 partial per 1024-row chunk -- numpy
    computes (1e12*u[a])*u[b] with the oracle's left-associated double
    multiply and rounds half-away-from-zero via the exact trunc/frac
    identity (bit-identical to Spark's and DuckDB's round for
    |x| < 2^51; every quantized product is <= 1e12, so a 1024-row chunk
    partial is bounded ~1e15 and int64 cannot overflow at ANY corpus
    size) -- and a 4,096-group decimal merge
    folds the partials exactly, order-proof. Zero joins, zero vec_id
    shuffles, no corpus-grain decimal arithmetic. Measured at sf0.1 on
    local[32]: 13.7 s (r12 join+decimal shape) -> ~4 s. The classic
    quadratic pair statistic at linear map-only cost -- this is the
    shape to reach for before ANY sampled pair estimate."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    withn = emb.select(
        arr.alias("v"),
        F.sqrt(
            F.aggregate(
                arr, F.lit(0.0), lambda acc, x: acc + x * x
            )
        ).alias("nv"),
    )
    # the normalized frame feeds four consumers (count, column sums,
    # self-dots, Gram partials); persist() trades three re-derivations
    # (scan + per-row norm fold each) for one narrow array-column cache
    u = withn.filter(F.col("nv") > 0).select(
        F.transform("v", lambda x: x / F.col("nv")).alias("u")
    ).persist()
    n = u.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dec = "decimal(38,0)"
    ue = u.select(F.posexplode("u").alias("p0", "uu"))
    s = ue.groupBy("p0").agg(
        F.sum(F.round(F.lit(1e12) * F.col("uu")).cast(dec)).alias("sq")
    )
    # self-dot per ROW (no groupBy(vec_id) shuffle): exact decimal fold
    # over the 64 elements, order-proof because every term is an integer
    selfdot = u.select(
        F.aggregate(
            "u",
            F.lit(0).cast(dec),
            lambda acc, x: acc
            + F.round(F.lit(1e12) * x * x).cast(dec),
        ).alias("dq")
    )
    sd = F.col("sq").cast("double") / F.lit(1e12)
    sums = s.agg(
        F.sum(F.round(F.lit(1e6) * sd * sd).cast(dec)).alias("snorm2q")
    )
    dd = F.col("dq").cast("double") / F.lit(1e12)
    diag = selfdot.agg(
        F.sum(F.round(F.lit(1e6) * dd).cast(dec)).alias("trq"),
        F.sum(F.round(F.lit(1e6) * dd * dd).cast(dec)).alias("tr2q"),
    )

    def gram_partials(batches):
        # one exact int64 64x64 partial per 1024-row CHUNK (not per
        # partition): every partial is bounded by 1024 * 1e12 ~ 1e15 by
        # construction, so no partition row count can overflow int64 at
        # ANY corpus size (round-13 review); chunking also keeps the
        # (rows, 64, 64) product tensor ~35 MB
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["u"].to_numpy())
            d = mat.shape[1]
            idx = np.arange(d, dtype=np.int32)
            for lo in range(0, mat.shape[0], 1024):
                chunk = mat[lo:lo + 1024]
                a = 1e12 * chunk
                # oracle-order left-assoc multiply: (1e12*ua)*ub
                prod = a[:, :, None] * chunk[:, None, :]
                t = np.trunc(prod)
                frac = prod - t  # exact: Sterbenz / |prod| < 2^53
                q = t + np.where(
                    np.abs(frac) >= 0.5, np.copysign(1.0, prod), 0.0
                )
                part = q.astype(np.int64).sum(axis=0)
                yield pd.DataFrame(
                    {
                        "pa": np.repeat(idx, d),
                        "pb": np.tile(idx, d),
                        "gl": part.reshape(-1),
                    }
                )

    # repartition so every core carries a slice of the product work (the
    # parquet scan alone yields too few splits to parallelize 246M
    # products); partials are exact integers, so the round-robin
    # placement cannot change the merged result
    g = (
        u.repartition(32)
        .mapInPandas(gram_partials, "pa int, pb int, gl long")
        .groupBy("pa", "pb")
        .agg(F.sum(F.col("gl").cast(dec)).alias("gq"))
    )
    gd = F.col("gq").cast("double") / F.lit(1e12)
    frob = g.agg(
        F.sum(F.round(F.lit(1e6) * gd * gd).cast(dec)).alias("fq")
    )
    j = (
        n.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(diag))
        .crossJoin(F.broadcast(frob))
    )
    nn = F.col("n") * (F.col("n") - F.lit(1.0))
    m1 = (
        F.col("snorm2q").cast("double") / F.lit(1e6)
        - F.col("trq").cast("double") / F.lit(1e6)
    ) / nn
    m2 = (
        F.col("fq").cast("double") / F.lit(1e6)
        - F.col("tr2q").cast("double") / F.lit(1e6)
    ) / nn
    return j.select(
        F.col("n").alias("n_vectors"),
        F.round(m1, 6).alias("mean_cosine"),
        F.round(m2 - m1 * m1, 6).alias("var_cosine"),
    )


@register(
    "mmd_label_groups",
    """
    WITH x AS (SELECT vec_id, label,
                      generate_subscripts(embedding, 1) AS pos,
                      unnest(embedding)::DOUBLE AS v
               FROM embeddings WHERE label IN (0, 1)),
    n AS (SELECT label, COUNT(DISTINCT vec_id)::BIGINT AS n
          FROM x GROUP BY label),
    s AS (SELECT label, pos,
                 SUM(CAST(round(1e12 * v) AS DECIMAL(38,0))) AS sq
          FROM x GROUP BY label, pos),
    lin AS (SELECT SUM(CAST(round(1e6 * d * d) AS DECIMAL(38,0))) AS lq
            FROM (SELECT a.sq::DOUBLE / 1e12 / na.n
                         - b.sq::DOUBLE / 1e12 / nb.n AS d
                  FROM s a JOIN s b ON a.pos = b.pos
                  JOIN n na ON na.label = a.label AND a.label = 0
                  JOIN n nb ON nb.label = b.label AND b.label = 1) z),
    m AS (SELECT a.label, a.pos AS pa, b.pos AS pb,
                 SUM(CAST(round(1e12 * a.v * b.v) AS DECIMAL(38,0))) AS mq
          FROM x a JOIN x b ON a.vec_id = b.vec_id
          GROUP BY a.label, a.pos, b.pos),
    sd AS (SELECT label, vec_id,
                  SUM(CAST(round(1e12 * v * v) AS DECIMAL(38,0))) AS dq
           FROM x GROUP BY label, vec_id),
    diag AS (SELECT label,
                    SUM(CAST(round(1e6 * (dq::DOUBLE / 1e12)
                                       * (dq::DOUBLE / 1e12))
                        AS DECIMAL(38,0))) AS tr2q
             FROM sd GROUP BY label),
    e11 AS (SELECT m.label,
                   SUM(CAST(round(1e6 * (m.mq::DOUBLE / 1e12)
                                      * (m.mq::DOUBLE / 1e12))
                       AS DECIMAL(38,0))) AS fq
            FROM m GROUP BY m.label),
    fix AS (SELECT SUM(CAST(round(1e6 * (a.mq::DOUBLE / 1e12)
                                      * (b.mq::DOUBLE / 1e12))
                       AS DECIMAL(38,0))) AS cq
            FROM m a JOIN m b ON a.pa = b.pa AND a.pb = b.pb
            WHERE a.label = 0 AND b.label = 1)
    SELECT na.n AS n_label0, nb.n AS n_label1,
           ROUND(lin.lq::DOUBLE / 1e6, 6) AS mmd2_linear,
           ROUND((e0.fq::DOUBLE / 1e6 - d0.tr2q::DOUBLE / 1e6)
                   / (na.n * (na.n - 1.0))
                 + (e1.fq::DOUBLE / 1e6 - d1.tr2q::DOUBLE / 1e6)
                   / (nb.n * (nb.n - 1.0))
                 - 2.0 * fix.cq::DOUBLE / 1e6 / (na.n * 1.0 * nb.n), 6)
             AS mmd2_quadratic
    FROM n na, n nb, lin, fix,
         e11 e0, e11 e1, diag d0, diag d1
    WHERE na.label = 0 AND nb.label = 1
      AND e0.label = 0 AND e1.label = 1
      AND d0.label = 0 AND d1.label = 1
    """,
)
def mmd_label_groups(spark, sf_dir):
    """Maximum mean discrepancy between the label-0 and label-1
    embedding populations, under the linear kernel (MMD^2 = ||mu_0 -
    mu_1||^2) and the quadratic kernel k(x,y) = (x.y)^2 -- the
    kernel two-sample test (Gretton et al. 2012) computed EXACTLY at
    linear cost: like `embedding_pairwise_cosine_moments`, the
    pairwise kernel sums collapse onto per-group column sums and the
    per-group 64x64 second-moment matrices (sum_(i,j) (x_i.x_j)^2 =
    <M_g, M_h>_F), so no pair is ever formed. This is the
    distribution-level drift gate the per-dimension
    `embedding_dim_stats` cannot give: linear MMD sees mean shift
    only; the quadratic kernel also sees covariance rotation --
    cheaply, before anyone pays for an RBF approximation. Unbiased
    within-group estimators subtract the exact diagonals; every fold
    is quantized-to-integer.

    Scale: one coordinate scan for the column sums, per-row folds for
    the self-dots, and the per-group 64x64 second-moment matrices as a
    JOIN-FREE double posexplode with two-level exact folds (round 13:
    the cosine-moments profiling showed the corpus-grain DECIMAL(38,0)
    product fold -- not the vec_id join -- was the cost; here LONG
    partial sums per Spark partition replace it, merged by a bounded
    decimal agg, and the 8,192-row matrix is persisted for its three
    consumers instead of replaying the corpus explode per consumer).
    The quadratic statistic at linear map-only cost; measured
    3.8 s -> ~3.0-3.4 s median at sf0.1 (modest here: only 2k vectors
    carry label 0/1 at this SF, so fixed plan overhead dominates -- the
    removed corpus-grain decimal fold and vec_id shuffle join are the
    terms that GROW with corpus size)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isin(0, 1)
    )
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "p0", "v"
        ),
    ).select("vec_id", "label", (F.col("p0") + 1).alias("pos"), "v")
    dec = "decimal(38,0)"
    n = x.groupBy("label").agg(
        F.countDistinct("vec_id").cast("bigint").alias("n")
    )
    s = x.groupBy("label", "pos").agg(
        F.sum(F.round(F.lit(1e12) * F.col("v")).cast(dec)).alias("sq")
    )
    n0 = n.filter(F.col("label") == 0).select(F.col("n").alias("n0"))
    n1 = n.filter(F.col("label") == 1).select(F.col("n").alias("n1"))
    s0 = s.filter(F.col("label") == 0).select(
        "pos", F.col("sq").alias("sq0")
    )
    s1 = s.filter(F.col("label") == 1).select(
        "pos", F.col("sq").alias("sq1")
    )
    dcol = (
        s0.join(s1, "pos")
        .crossJoin(F.broadcast(n0))
        .crossJoin(F.broadcast(n1))
        .select(
            (
                F.col("sq0").cast("double") / F.lit(1e12) / F.col("n0")
                - F.col("sq1").cast("double") / F.lit(1e12) / F.col("n1")
            ).alias("d")
        )
    )
    lin = dcol.agg(
        F.sum(
            F.round(F.lit(1e6) * F.col("d") * F.col("d")).cast(dec)
        ).alias("lq")
    )
    # per-label Gram without a join OR corpus-grain decimal arithmetic:
    # double posexplode of the SAME row (64x64 products per vector,
    # never a vec_id shuffle), LONG partial sums per Spark partition,
    # then a (label, 64, 64)-group DECIMAL merge over the bounded
    # partials. The long-fold bound is ENFORCED by construction, not
    # assumed (round-13 review): round-robin repartition to
    # max(32, n/50k) partitions balances rows to +-1, so each
    # per-partition group sums <= 50k terms of <= 1e12 * max|v|^2 —
    # int64-safe for any |v| <= 13 at ANY corpus size. The bound is
    # CHECKED, not assumed (r13 advisor): the same job that counts rows
    # also takes max|v|, and an out-of-bound coordinate raises instead
    # of silently wrapping the non-ANSI long fold. persist(): the
    # 8,192-row matrix feeds THREE consumers (both Frobenius folds and
    # the cross inner product) that otherwise each replay the corpus
    # explode.
    meta = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(
            F.array_max(
                F.transform(
                    F.col("embedding").cast("array<double>"), F.abs
                )
            )
        ).alias("vmax"),
    ).collect()[0]
    n_rows = int(meta["n"])
    if meta["vmax"] is not None and float(meta["vmax"]) > 13.0:
        raise ValueError(
            f"mmd_label_groups: max |coordinate| = {meta['vmax']} exceeds "
            "the 13.0 bound that keeps the per-partition int64 partial "
            "sums overflow-free (50k terms x 1e12 x |v|^2 < 2^63); "
            "rescale the embeddings or lower the per-partition row cap"
        )
    m = (
        emb.select(
            "label", F.col("embedding").cast("array<double>").alias("v")
        )
        .repartition(max(32, -(-n_rows // 50_000)))
        .select("label", F.col("v"), F.posexplode("v").alias("pa", "va"))
        .select(
            "label",
            "pa",
            "va",
            F.posexplode("v").alias("pb", "vb"),
            F.spark_partition_id().alias("pid"),
        )
        .groupBy("label", "pa", "pb", "pid")
        .agg(
            F.sum(
                F.round(F.lit(1e12) * F.col("va") * F.col("vb")).cast("long")
            ).alias("gl")
        )
        .groupBy("label", "pa", "pb")
        .agg(F.sum(F.col("gl").cast(dec)).alias("mq"))
    ).persist()
    # self-dot per ROW: exact decimal fold over the 64 elements,
    # order-proof because every term is an integer
    sdot = emb.select(
        "label",
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0).cast(dec),
            lambda acc, v: acc + F.round(F.lit(1e12) * v * v).cast(dec),
        ).alias("dq"),
    )
    dd = F.col("dq").cast("double") / F.lit(1e12)
    diag = sdot.groupBy("label").agg(
        F.sum(F.round(F.lit(1e6) * dd * dd).cast(dec)).alias("tr2q")
    )
    md = F.col("mq").cast("double") / F.lit(1e12)
    e11 = m.groupBy("label").agg(
        F.sum(F.round(F.lit(1e6) * md * md).cast(dec)).alias("fq")
    )
    m0 = m.filter(F.col("label") == 0).select(
        "pa", "pb", F.col("mq").alias("mq0")
    )
    m1 = m.filter(F.col("label") == 1).select(
        "pa", "pb", F.col("mq").alias("mq1")
    )
    cross = m0.join(m1, ["pa", "pb"]).agg(
        F.sum(
            F.round(
                F.lit(1e6)
                * (F.col("mq0").cast("double") / F.lit(1e12))
                * (F.col("mq1").cast("double") / F.lit(1e12))
            ).cast(dec)
        ).alias("cq")
    )
    e0 = e11.filter(F.col("label") == 0).select(F.col("fq").alias("f0"))
    e1 = e11.filter(F.col("label") == 1).select(F.col("fq").alias("f1"))
    d0 = diag.filter(F.col("label") == 0).select(
        F.col("tr2q").alias("t0")
    )
    d1 = diag.filter(F.col("label") == 1).select(
        F.col("tr2q").alias("t1")
    )
    j = (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(lin))
        .crossJoin(F.broadcast(cross))
        .crossJoin(F.broadcast(e0))
        .crossJoin(F.broadcast(e1))
        .crossJoin(F.broadcast(d0))
        .crossJoin(F.broadcast(d1))
    )
    mmd2q = (
        (F.col("f0").cast("double") / F.lit(1e6) - F.col("t0").cast("double") / F.lit(1e6))
        / (F.col("n0") * (F.col("n0") - F.lit(1.0)))
        + (F.col("f1").cast("double") / F.lit(1e6) - F.col("t1").cast("double") / F.lit(1e6))
        / (F.col("n1") * (F.col("n1") - F.lit(1.0)))
        - F.lit(2.0)
        * F.col("cq").cast("double")
        / F.lit(1e6)
        / (F.col("n0") * F.lit(1.0) * F.col("n1"))
    )
    return j.select(
        F.col("n0").alias("n_label0"),
        F.col("n1").alias("n_label1"),
        F.round(F.col("lq").cast("double") / F.lit(1e6), 6).alias(
            "mmd2_linear"
        ),
        F.round(mmd2q, 6).alias("mmd2_quadratic"),
    )
