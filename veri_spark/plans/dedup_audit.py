"""Dedup calibration/audit tier: SimHash precision, containment matrix, tiered pipeline, LSH planning, winnowing, span extents.

Split from plans/dedup.py (round-11 hygiene, mirroring the round-5/6/10
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

from veri_spark.functions.text import EN_STOPWORDS_SQL  # noqa: F401

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
# Round-4 batch 8: simhash calibration, containment matrix, correlation
# ---------------------------------------------------------------------------

@register(
    "simhash_precision_audit",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM t),
    bsum AS (SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) bits
             GROUP BY doc_id, bit),
    sig AS (SELECT doc_id,
                   SUM(CASE WHEN s >= 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END)::BIGINT AS simhash
            FROM bsum GROUP BY doc_id),
    bands AS (SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS v
              FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
                    bit_count(xor(a.simhash, c.simhash))::INT AS hamming
             FROM bands a JOIN bands c
               ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id
             WHERE bit_count(xor(a.simhash, c.simhash)) <= 3),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, greatest(len(ws) - 1, 1)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
           WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand)),
    sz AS (SELECT doc_id, COUNT(*)::DOUBLE AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::DOUBLE AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    j AS (SELECT c.hamming,
                 ROUND(COALESCE(i.i, 0)
                       / (sa.n + sb.n - COALESCE(i.i, 0)), 6) AS jac
          FROM cand c
          LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
          JOIN sz sa ON sa.doc_id = c.doc_a
          JOIN sz sb ON sb.doc_id = c.doc_b)
    SELECT hamming, COUNT(*)::BIGINT AS n_pairs,
           ROUND(AVG(jac), 6) AS mean_jaccard,
           SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_precise
    FROM j GROUP BY hamming ORDER BY hamming ASC
    """,
)
def simhash_precision_audit(spark, sf_dir):
    """Precision calibration for the SimHash near-dup detector: for every
    byte-banded candidate pair within Hamming distance 3, the TRUE
    trigram Jaccard — bucketed by Hamming distance with pair counts, mean
    Jaccard, and the >=0.5-precision count. The MinHash estimator has
    `minhash_estimate_error`; this is the same discipline for the SimHash
    tier, and together they decide which detector's threshold to trust on
    a new corpus. Exact Jaccard is computed ONLY for candidate docs
    (semi-pruned shingle join), so the audit cost scales with candidates,
    not the corpus."""
    from veri_spark.operators.dedup import doc_shingles, simhash_hamming_pairs

    docs = load_table(spark, sf_dir, "documents")
    cand = simhash_hamming_pairs(docs, max_hamming=3, parallelism=16).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    ).persist()
    cd = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = doc_shingles(docs, parallelism=16).join(
        F.broadcast(cd), "doc_id", "left_semi"
    ).persist()
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("n"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(cand.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("double").alias("i"))
    )
    j = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            F.broadcast(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))),
            "doc_a",
        )
        .join(
            F.broadcast(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))),
            "doc_b",
        )
        .select(
            "hamming",
            F.round(
                F.coalesce(F.col("i"), F.lit(0.0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0.0))),
                6,
            ).alias("jac"),
        )
    )
    return (
        j.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.avg("jac"), 6).alias("mean_jaccard"),
            F.sum(F.when(F.col("jac") >= 0.5, 1).otherwise(0)).cast("bigint").alias("n_precise"),
        )
        .orderBy(F.col("hamming").asc())
    )



@register(
    "source_containment_matrix",
    """
    WITH ss AS (SELECT DISTINCT source,
                       unnest(list_transform(
                         range(1, greatest(len(ws) - 1, 1)),
                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                         AS shingle
                FROM (SELECT source, string_split(text, ' ') AS ws
                      FROM documents)),
         sz AS (SELECT source, COUNT(*)::DOUBLE AS n FROM ss GROUP BY source),
         inter AS (SELECT a.source AS source_a, b.source AS source_b,
                          COUNT(*)::DOUBLE AS c
                   FROM ss a JOIN ss b
                     ON a.shingle = b.shingle AND a.source != b.source
                   GROUP BY 1, 2)
    SELECT source_a, source_b,
           ROUND(inter.c / sz.n, 6) AS containment
    FROM inter JOIN sz ON sz.source = inter.source_a
    ORDER BY containment DESC, source_a ASC, source_b ASC LIMIT 15
    """,
)
def source_containment_matrix(spark, sf_dir):
    """DIRECTED shard containment: what fraction of source A's distinct
    trigrams also appear in source B — the asymmetric complement of
    `source_overlap_jaccard` (Jaccard says "similar"; containment says
    "A is inside B", which is what decides WHICH shard to drop when a
    crawl subsumes another). Same container-grain bound: the shingle
    join fan-out is |sources|^2 per shingle, sizes broadcast."""
    from veri_spark.functions.text import tokens, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    ss = (
        docs.select("source", tokens("text").alias("__toks"))
        .select("source", F.explode(word_shingles(F.col("__toks"), 3)).alias("shingle"))
        .distinct()
        .persist()
    )
    sz = ss.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n"))
    inter = (
        ss.select(F.col("source").alias("source_a"), "shingle")
        .join(ss.select(F.col("source").alias("source_b"), "shingle"), "shingle")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    return (
        inter.join(
            F.broadcast(sz.select(F.col("source").alias("source_a"), "n")), "source_a"
        )
        .select(
            "source_a", "source_b",
            F.round(F.col("c") / F.col("n"), 6).alias("containment"),
        )
        .orderBy(
            F.col("containment").desc(), F.col("source_a").asc(), F.col("source_b").asc()
        )
        .limit(15)
    )



@register(
    "dedup_tiered_pipeline",
    f"""
    WITH d AS (SELECT doc_id, text, md5(lower(trim(text))) AS fp FROM documents),
    k1 AS (SELECT fp, MIN(doc_id) AS keeper FROM d GROUP BY fp),
    s1 AS (SELECT d.doc_id, d.text FROM d JOIN k1 USING (fp)
           WHERE d.doc_id = k1.keeper),
    t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM s1),
    h2 AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM t),
    bsum AS (SELECT doc_id, bit,
                    SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM h2 CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) bits
             GROUP BY doc_id, bit),
    sig2 AS (SELECT doc_id,
                    SUM(CASE WHEN s >= 0 THEN (1::BIGINT << bit)
                        ELSE 0::BIGINT END)::BIGINT AS simhash
             FROM bsum GROUP BY doc_id),
    bands2 AS (SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS v
               FROM sig2 CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
              FROM bands2 a JOIN bands2 c
                ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id
              WHERE bit_count(xor(a.simhash, c.simhash)) <= 3),
    drop2 AS (SELECT DISTINCT doc_b AS doc_id FROM cand2),
    s2 AS (SELECT doc_id, text FROM s1
           WHERE doc_id NOT IN (SELECT doc_id FROM drop2)),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, greatest(len(ws) - 1, 1)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM s2)),
    seeds(seed, a, b) AS (VALUES {{_SEEDS}}),
    hashed AS (SELECT doc_id,
                      CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                        % 2147483647 AS h31
               FROM sh),
    sig3 AS (SELECT doc_id, seed, MIN((a * h31 + b) % 2147483647) AS h
             FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands3 AS (SELECT doc_id, seed // 4 AS band,
                      string_agg(h::VARCHAR, ',' ORDER BY seed) AS band_key
               FROM sig3 GROUP BY doc_id, seed // 4),
    cand3 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands3 a JOIN bands3 b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*)::BIGINT AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle
               AND a.doc_id < b.doc_id
              JOIN cand3 c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
              GROUP BY 1, 2),
    drop3 AS (SELECT DISTINCT i.doc_b AS doc_id
              FROM inter i
              JOIN sz sa ON sa.doc_id = i.doc_a
              JOIN sz sb ON sb.doc_id = i.doc_b
              WHERE 3 * i.i >= sa.n + sb.n),
    n0 AS (SELECT COUNT(*)::BIGINT AS n FROM d),
    n1 AS (SELECT COUNT(*)::BIGINT AS n FROM s1),
    n2 AS (SELECT COUNT(*)::BIGINT AS n FROM s2),
    n3 AS (SELECT (SELECT n FROM n2)
                  - (SELECT COUNT(*) FROM drop3)::BIGINT AS n)
    SELECT 1::BIGINT AS tier, (SELECT n FROM n0) AS n_in,
           (SELECT n FROM n0) - (SELECT n FROM n1) AS n_dropped,
           (SELECT n FROM n1) AS n_out
    UNION ALL
    SELECT 2, (SELECT n FROM n1),
           (SELECT n FROM n1) - (SELECT n FROM n2), (SELECT n FROM n2)
    UNION ALL
    SELECT 3, (SELECT n FROM n2),
           (SELECT n FROM n2) - (SELECT n FROM n3), (SELECT n FROM n3)
    """.replace("{_SEEDS}", _minhash_seed_values()),
)
def dedup_tiered_pipeline(spark, sf_dir):
    """The COMPOSED production dedup pipeline, tier yields end-to-end:
    exact fingerprint (md5 of normalized text, keep lowest doc_id) ->
    SimHash byte-banding at Hamming<=3 -> MinHash-banded candidates
    verified at trigram Jaccard >= 0.5 (stated as the INTEGER condition
    3i >= |A|+|B|, so the threshold has no float boundary in either
    engine). Each tier sees only the previous tier's survivors — the
    ordering cheap-to-expensive is the point: the exact tier deletes for
    the cost of a hash groupBy, the banded tiers only pay on what
    remains. Drop rule per tier: a doc with a (verified) pair to a
    smaller surviving id is dropped (greedy keep-first, one pass —
    identical rule both engines). Output: (tier, n_in, n_dropped, n_out).
    """
    from veri_spark.operators.dedup import (
        doc_shingles, minhash_candidate_pairs, simhash_hamming_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "text", F.md5(F.lower(F.trim("text"))).alias("fp"))
    k1 = d.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    s1 = (
        d.join(k1, "fp")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "text")
        .persist()
    )
    n0 = docs.count()
    n1 = s1.count()
    drop2 = (
        simhash_hamming_pairs(s1, max_hamming=3, parallelism=16)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(drop2, "doc_id", "left_anti").persist()
    n2 = s2.count()
    cand3 = minhash_candidate_pairs(s2, num_hashes=16, bands=4, parallelism=16)
    sh = doc_shingles(s2, parallelism=16).persist()
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(cand3, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    drop3 = (
        inter.join(
            F.broadcast(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))),
            "doc_a",
        )
        .join(
            F.broadcast(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))),
            "doc_b",
        )
        .filter(3 * F.col("i") >= F.col("na") + F.col("nb"))
        .select("doc_b")
        .distinct()
    )
    n3 = n2 - drop3.count()
    return spark.createDataFrame(
        [
            (1, n0, n0 - n1, n1),
            (2, n1, n1 - n2, n2),
            (3, n2, n2 - n3, n3),
        ],
        "tier bigint, n_in bigint, n_dropped bigint, n_out bigint",
    )


@register(
    "minhash_bucket_skew",
    f"""
    WITH {_DD_SHINGLES},
    seeds(seed, a, b) AS (VALUES {_minhash_seed_values()}),
    hashed AS (SELECT doc_id,
                      CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h31
               FROM sh),
    sig AS (SELECT doc_id, seed, MIN((a * h31 + b) % 2147483647) AS h
            FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     string_agg(h::VARCHAR, ',' ORDER BY seed) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    buckets AS (SELECT band, band_key, COUNT(*)::BIGINT AS sz
                FROM bands GROUP BY band, band_key)
    SELECT band::INTEGER AS band,
           COUNT(*)::BIGINT AS n_buckets,
           SUM(CASE WHEN sz >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_collision_buckets,
           MAX(sz)::BIGINT AS max_bucket,
           SUM(sz * (sz - 1) / 2)::BIGINT AS candidate_pairs
    FROM buckets
    GROUP BY band
    ORDER BY band ASC
    """,
)
def minhash_bucket_skew(spark, sf_dir):
    """LSH bucket-skew audit: per band, the bucket-size distribution of
    the MinHash band keys — n_buckets, colliding buckets, the largest
    bucket, and the implied candidate-pair fan-out (sum of C(size,2)).
    This is the number that decides whether `dedup_minhash_lsh`'s
    bucket join is safe at 100 TB: candidate_pairs IS the join's output
    size, and max_bucket is the straggler. A boilerplate-heavy corpus
    drives one bucket to millions of docs and the join quadratic —
    this audit catches it BEFORE the join runs (run it first, then cap
    or salt the offending buckets; `skewed_agg_salted` is the
    mitigation pattern). Cost: the same signature+banding pipeline as
    the dedup itself, then two tiny rollups — no pair join at all."""
    from veri_spark.operators.dedup import (
        doc_shingles,
        minhash_band_keys,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    sigs = minhash_signatures(sh)
    bk = minhash_band_keys(sigs)
    buckets = bk.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        buckets.groupBy(F.col("band").cast("int").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.when(F.col("sz") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_collision_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
            .cast("bigint")
            .alias("candidate_pairs"),
        )
        .orderBy(F.col("band").asc())
    )


@register(
    "weighted_jaccard_rescore",
    f"""
    WITH {_DD_SHINGLES},
    seeds(seed, a, b) AS (VALUES {_minhash_seed_values()}),
    hashed AS (SELECT doc_id, shingle,
                      CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h31
               FROM sh),
    sig AS (SELECT doc_id, seed, MIN((a * h31 + b) % 2147483647) AS h
            FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     string_agg(h::VARCHAR, ',' ORDER BY seed) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    nd AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n FROM sh),
    idf AS (SELECT shingle,
                   CAST(round(ln(ANY_VALUE(nd.n) / COUNT(*)) * 1000000)
                        AS BIGINT) AS w
            FROM sh CROSS JOIN nd GROUP BY shingle),
    dw AS (SELECT sh.doc_id, SUM(idf.w)::BIGINT AS tw
           FROM sh JOIN idf USING (shingle) GROUP BY sh.doc_id),
    iw AS (SELECT c.doc_a, c.doc_b, SUM(idf.w)::BIGINT AS w
           FROM cand c
           JOIN sh a ON a.doc_id = c.doc_a
           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
           JOIN idf ON idf.shingle = a.shingle
           GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           ROUND(i.w::DOUBLE / (da.tw + db.tw - i.w), 6) AS weighted_jaccard
    FROM iw i
    JOIN dw da ON da.doc_id = i.doc_a
    JOIN dw db ON db.doc_id = i.doc_b
    ORDER BY i.w::DOUBLE / (da.tw + db.tw - i.w) DESC, i.doc_a ASC, i.doc_b ASC
    LIMIT 20
    """,
)
def weighted_jaccard_rescore(spark, sf_dir):
    """IDF-weighted Jaccard re-scoring of the LSH candidate pairs: plain
    Jaccard counts a boilerplate shingle ('click here to subscribe') the
    same as a distinctive one, so near-dup rankings on web-scale corpora
    are dominated by template noise — weighting each shingle by
    ln(N/df) makes the score content-driven (min/max weighted Jaccard
    degenerates to intersection-IDF-mass over union-IDF-mass when both
    docs carry the same global weight). IDF is quantized to INTEGER
    micro-nats before summing (the `unigram_logprob_scores` trick), so
    every sum is order-insensitive integer arithmetic and the ranking
    is bit-deterministic across engines. Candidates come from the same
    banded signature chain as `dedup_minhash_lsh`; the exact
    intersection join touches only candidate docs. At 100 TB the df
    table doubles as the stop-shingle cap (`cap_stop_shingles`) —
    ultra-common shingles get near-zero weight here, solving the same
    skew problem by weighting instead of dropping."""
    from veri_spark.operators.dedup import doc_shingles
    from veri_spark.plans.dedup import shared_minhash_cands

    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs).persist()
    # round 15: the session-shared candidate set (already checkpointed)
    cand = shared_minhash_cands(spark, sf_dir)
    nd = sh.agg(F.countDistinct("doc_id").cast("double").alias("n"))
    idf = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .select(
            "shingle",
            F.round(F.log(F.col("n") / F.col("df")) * 1000000)
            .cast("bigint")
            .alias("w"),
        )
    ).persist()
    dw = (
        sh.join(idf, "shingle")
        .groupBy("doc_id")
        .agg(F.sum("w").cast("bigint").alias("tw"))
    )
    shw = sh.join(idf, "shingle")
    iw = (
        shw.select(F.col("doc_id").alias("doc_a"), "shingle", "w")
        .join(
            shw.select(F.col("doc_id").alias("doc_b"), "shingle"),
            "shingle",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(cand, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").cast("bigint").alias("iw"))
    )
    j = (
        iw.join(dw.select(F.col("doc_id").alias("doc_a"), F.col("tw").alias("ta")), "doc_a")
        .join(dw.select(F.col("doc_id").alias("doc_b"), F.col("tw").alias("tb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("iw").cast("double")
                / (F.col("ta") + F.col("tb") - F.col("iw"))
            ).alias("wj"),
        )
    )
    return (
        j.orderBy(F.col("wj").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(20)
        .select("doc_a", "doc_b", F.round("wj", 6).alias("weighted_jaccard"))
    )


@register(
    "simhash_bit_balance",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM t),
    b AS (SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) bits
          GROUP BY doc_id, bit),
    sh AS (SELECT doc_id, bit, CASE WHEN s >= 0 THEN 1 ELSE 0 END AS v FROM b),
    per_bit AS (
      SELECT bit, AVG(v) AS ones_frac FROM sh GROUP BY bit)
    SELECT COUNT(*)::BIGINT AS n_bits,
           ROUND(MIN(ones_frac), 6) AS min_ones_frac,
           ROUND(MAX(ones_frac), 6) AS max_ones_frac,
           ROUND(MAX(abs(ones_frac - 0.5)), 6) AS max_imbalance,
           SUM(CASE WHEN abs(ones_frac - 0.5) > 0.1 THEN 1 ELSE 0 END)::BIGINT
             AS n_skewed_bits
    FROM per_bit
    """,
)
def simhash_bit_balance(spark, sf_dir):
    """Sketch-health audit for SimHash: the ones-fraction of each of the
    32 signature bits across the corpus. A healthy SimHash has every bit
    near 0.5 — a skewed bit (ones_frac far from 0.5) carries almost no
    discriminating information, which silently widens Hamming-ball
    candidate sets and degrades `dedup_simhash_hamming`'s precision
    (corpus-wide token-frequency structure, e.g. boilerplate that every
    doc shares, is exactly what skews bits). Same signature pipeline as
    `dedup_simhash` (two partial-aggregated shuffles), then a 32-row
    bit rollup — the audit adds nothing corpus-sized. n_skewed_bits > 0
    is the signal to re-seed the token hash or strip boilerplate before
    trusting SimHash blocking at 100 TB."""
    from veri_spark.operators.dedup import simhash32

    docs = load_table(spark, sf_dir, "documents")
    sh = simhash32(docs)
    bits = sh.select(
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit"), F.col("simhash")
    ).select(
        "bit",
        F.expr("CAST(shiftright(simhash, bit) & 1 AS DOUBLE)").alias("v"),
    )
    per_bit = bits.groupBy("bit").agg(F.avg("v").alias("ones_frac"))
    imb = F.abs(F.col("ones_frac") - 0.5)
    return per_bit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bits"),
        F.round(F.min("ones_frac"), 6).alias("min_ones_frac"),
        F.round(F.max("ones_frac"), 6).alias("max_ones_frac"),
        F.round(F.max(imb), 6).alias("max_imbalance"),
        F.sum(F.when(imb > 0.1, 1).otherwise(0)).cast("bigint").alias("n_skewed_bits"),
    )


@register(
    "semantic_dedup_threshold_sweep",
    """
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             LEAST(GREATEST(list_cosine_similarity(a.embedding::DOUBLE[],
                                                   b.embedding::DOUBLE[]),
                            -1.0), 1.0) AS cos
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id),
    n AS (SELECT COUNT(*)::DOUBLE AS total FROM embeddings),
    t AS (SELECT unnest([0.8, 0.9, 0.95, 0.99]::DOUBLE[]) AS thr),
    hits AS (
      SELECT t.thr, p.id_a, p.id_b FROM p JOIN t ON p.cos >= t.thr),
    docs AS (
      SELECT thr, COUNT(DISTINCT v)::BIGINT AS n_docs
      FROM (SELECT thr, id_a AS v FROM hits
            UNION ALL SELECT thr, id_b AS v FROM hits)
      GROUP BY thr),
    pairs AS (SELECT thr, COUNT(*)::BIGINT AS n_pairs FROM hits GROUP BY thr)
    SELECT t.thr AS threshold,
           COALESCE(pairs.n_pairs, 0)::BIGINT AS n_pairs,
           COALESCE(docs.n_docs, 0)::BIGINT AS n_docs,
           ROUND(COALESCE(docs.n_docs, 0) / ANY_VALUE(n.total), 6) AS frac_docs
    FROM t
    LEFT JOIN pairs ON pairs.thr = t.thr
    LEFT JOIN docs ON docs.thr = t.thr
    CROSS JOIN n
    GROUP BY t.thr, pairs.n_pairs, docs.n_docs
    ORDER BY t.thr ASC
    """,
)
def semantic_dedup_threshold_sweep(spark, sf_dir):
    """Threshold calibration for EMBEDDING near-dup removal: pair and
    affected-document counts at cosine 0.8/0.9/0.95/0.99 — the vector
    counterpart of `jaccard_threshold_sweep`, and the curve you read
    before committing a semantic-dedup cutoff (too low deletes
    paraphrases a trainer needs; too high keeps true dups). Pairs come
    from the label-blocked self-join `dedup_embedding_cosine` uses
    (at 100 TB the block becomes an LSH/IVF bucket — same plan, other
    key); the sweep is a 4-row broadcast against the scored pairs, so
    the pair join runs ONCE for all thresholds. Affected-doc counts
    de-duplicate ids through a union before the distinct — exact, not
    estimated. Cosines are the hoisted-norm form, bit-identical to the
    oracle, so threshold boundaries cannot flap."""
    from veri_spark.operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb).select("id_a", "id_b", "cos").persist()
    n = emb.agg(F.count(F.lit(1)).cast("double").alias("total"))
    thr = spark.createDataFrame(
        [(0.8,), (0.9,), (0.95,), (0.99,)], "thr double"
    )
    hits = pairs.crossJoin(F.broadcast(thr)).filter(
        F.col("cos") >= F.col("thr")
    )
    docs = (
        hits.select("thr", F.col("id_a").alias("v"))
        .union(hits.select("thr", F.col("id_b").alias("v")))
        .groupBy("thr")
        .agg(F.countDistinct("v").cast("bigint").alias("n_docs"))
    )
    np = hits.groupBy("thr").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return (
        thr.join(np, "thr", "left")
        .join(docs, "thr", "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("thr").alias("threshold"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.round(
                F.coalesce(F.col("n_docs"), F.lit(0)) / F.col("total"), 6
            ).alias("frac_docs"),
        )
        .orderBy(F.col("threshold").asc())
    )


@register(
    "sorted_neighborhood_pairs",
    """
    WITH t AS (SELECT doc_id, substr(lower(trim(text)), 1, 16) AS k,
                      list_distinct(string_split(text, ' ')) AS toks
               FROM documents),
    o AS (SELECT doc_id, toks,
                 lead(doc_id, 1) OVER w AS n1_id, lead(toks, 1) OVER w AS n1_toks,
                 lead(doc_id, 2) OVER w AS n2_id, lead(toks, 2) OVER w AS n2_toks
          FROM t WINDOW w AS (ORDER BY k ASC, doc_id ASC)),
    pairs AS (
      SELECT doc_id AS doc_a, n1_id AS doc_b, toks AS ta, n1_toks AS tb
      FROM o WHERE n1_id IS NOT NULL
      UNION ALL
      SELECT doc_id, n2_id, toks, n2_toks FROM o WHERE n2_id IS NOT NULL),
    j AS (SELECT doc_a, doc_b,
                 len(list_intersect(ta, tb))::BIGINT AS inter,
                 len(list_distinct(list_concat(ta, tb)))::BIGINT AS uni
          FROM pairs)
    SELECT doc_a, doc_b, inter, uni, ROUND(inter / uni, 6) AS jaccard
    FROM j WHERE inter / uni >= 0.4
    ORDER BY doc_a ASC, doc_b ASC
    """,
)
def sorted_neighborhood_pairs(spark, sf_dir):
    """Sorted-neighborhood entity-resolution blocking (Hernandez-Stolfo):
    sort the corpus by a normalized blocking key (16-char lowercased text
    prefix), slide a w=3 window down the sort order, and verify only the
    pairs inside the window with exact token Jaccard — the classic
    alternative to hash blocking (LSH) when near-dups share prefixes but
    not shingle statistics.

    Round-7: now the DISTRIBUTED form the round-6 docstring only
    described. `sorted_neighborhood_candidates` (operators/ranking.py)
    range-partitions on the blocking key, ranks within each range bucket,
    reconstructs the global rank from a ~32-row offset aggregate, and
    pairs each row with the next w-1 = 2 via shifted equi-joins on the
    rank — NO unpartitioned window anywhere in the plan (asserted by
    tests/test_plan_shapes.py), no single-task sort, no boundary case
    (rank joins cross range-bucket edges by construction). Multi-pass SNM
    re-sorts on a second key to catch prefix-divergent dups; that is this
    query with a different k. Jaccard is one division of identical
    BIGINTs, thresholded on the unrounded ratio in both engines; the
    DuckDB oracle keeps the equivalent lead()-over-global-sort form."""
    from veri_spark.operators.ranking import sorted_neighborhood_candidates

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.substring(F.lower(F.trim(F.col("text"))), 1, 16).alias("k"),
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    )
    cand = sorted_neighborhood_candidates(t, ["k", "doc_id"], window=3)
    j = cand.select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
        .cast("bigint")
        .alias("inter"),
        F.size(F.array_union(F.col("toks_a"), F.col("toks_b")))
        .cast("bigint")
        .alias("uni"),
    )
    return (
        j.filter(F.col("inter") / F.col("uni") >= 0.4)
        .select(
            "doc_a", "doc_b", "inter", "uni",
            F.round(F.col("inter") / F.col("uni"), 6).alias("jaccard"),
        )
        .orderBy(F.col("doc_a").asc(), F.col("doc_b").asc())
    )


@register(
    "lsh_param_planner",
    """
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ),
    capped AS (SELECT s.doc_id, s.shingle FROM sh s
               JOIN (SELECT shingle FROM sh
                     GROUP BY shingle HAVING COUNT(DISTINCT doc_id) <= 64) keep
                 ON s.shingle = keep.shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
               FROM capped a JOIN capped b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY doc_a, doc_b),
    j AS (SELECT c::DOUBLE / (sa.n + sb.n - c) AS jac
          FROM common
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id),
    q0 AS (SELECT jac, jac * jac AS t2 FROM j),
    q1 AS (SELECT jac, t2, t2 * t2 AS t4 FROM q0),
    q2 AS (SELECT jac, t2, t4, t4 * t4 AS t8 FROM q1),
    qq AS (SELECT jac, 1 - jac AS m1, 1 - t2 AS m2, 1 - t4 AS m4,
                  1 - t8 AS m8 FROM q2),
    s1 AS (SELECT jac, m1 * m1 AS m1_2, m2 * m2 AS m2_2, m4 * m4 AS m4_2,
                  m8 * m8 AS m8_2 FROM qq),
    s2 AS (SELECT jac, m1_2 * m1_2 AS m1_4, m2_2 * m2_2 AS m2_4,
                  m4_2 * m4_2 AS m4_4, m8_2 FROM s1),
    s3 AS (SELECT jac, m1_4 * m1_4 AS m1_8, m2_4 * m2_4 AS m2_8, m4_4,
                  m8_2 FROM s2),
    s4 AS (SELECT jac, m1_8 * m1_8 AS m1_16, m2_8, m4_4, m8_2 FROM s3),
    p AS (SELECT jac >= 0.7 AS good,
                 CAST(round((1 - m1_16) * 1e6) AS BIGINT) AS p16_1,
                 CAST(round((1 - m2_8) * 1e6) AS BIGINT) AS p8_2,
                 CAST(round((1 - m4_4) * 1e6) AS BIGINT) AS p4_4,
                 CAST(round((1 - m8_2) * 1e6) AS BIGINT) AS p2_8
          FROM s4),
    agg AS (
      SELECT COUNT(*)::BIGINT AS n_pairs,
             SUM(CASE WHEN good THEN 1 ELSE 0 END)::BIGINT AS n_good,
             SUM(p16_1)::BIGINT AS s16_1,
             SUM(CASE WHEN good THEN p16_1 ELSE 0 END)::BIGINT AS g16_1,
             SUM(p8_2)::BIGINT AS s8_2,
             SUM(CASE WHEN good THEN p8_2 ELSE 0 END)::BIGINT AS g8_2,
             SUM(p4_4)::BIGINT AS s4_4,
             SUM(CASE WHEN good THEN p4_4 ELSE 0 END)::BIGINT AS g4_4,
             SUM(p2_8)::BIGINT AS s2_8,
             SUM(CASE WHEN good THEN p2_8 ELSE 0 END)::BIGINT AS g2_8
      FROM p)
    SELECT * FROM (
      SELECT 16 AS bands, 1 AS rows_per_band, n_pairs, n_good,
             s16_1 / 1e6 AS expected_candidates, g16_1 / 1e6 AS expected_good
      FROM agg
      UNION ALL
      SELECT 8, 2, n_pairs, n_good, s8_2 / 1e6, g8_2 / 1e6 FROM agg
      UNION ALL
      SELECT 4, 4, n_pairs, n_good, s4_4 / 1e6, g4_4 / 1e6 FROM agg
      UNION ALL
      SELECT 2, 8, n_pairs, n_good, s2_8 / 1e6, g2_8 / 1e6 FROM agg)
    ORDER BY bands DESC
    """,
)
def lsh_param_planner(spark, sf_dir):
    """MinHash-LSH banding planner: for each (bands, rows) split of a
    16-hash signature budget, the EXPECTED number of candidate pairs the
    banded join would admit — computed from the measured pair-similarity
    distribution, not the abstract s-curve: each observed pair
    contributes its collision probability 1-(1-jac^r)^b. Read together,
    expected_candidates (cost) and expected_good (recall mass at
    jac >= 0.7) pick the banding scheme BEFORE a 100 TB signature build
    commits to one — the decision `minhash_bucket_skew` and
    `jaccard_threshold_sweep` inform but don't answer. The powers are
    explicit squaring chains (identical association in both engines —
    pow()/exp() are not cross-engine bit-stable, squaring chains are),
    and each pair's probability quantizes to integer MICRO-UNITS before
    the order-insensitive sum. Same capped single-join pair plan as the
    sweep queries; everything after it is map-side arithmetic. Round 15:
    reads the session-shared ``capped_pair_stats`` aggregate (plans/
    dedup.py) instead of rebuilding the pair join."""
    from veri_spark.operators.dedup import pair_measure_col
    from veri_spark.plans.dedup import capped_pair_stats

    pairs = capped_pair_stats(spark, sf_dir).withColumn(
        "jaccard", pair_measure_col("jaccard")
    )
    j = pairs.select(F.col("jaccard").alias("jac"))
    j = j.withColumn("t2", F.col("jac") * F.col("jac"))
    j = j.withColumn("t4", F.col("t2") * F.col("t2"))
    j = j.withColumn("t8", F.col("t4") * F.col("t4"))
    for src, m in (("jac", "m1"), ("t2", "m2"), ("t4", "m4"), ("t8", "m8")):
        j = j.withColumn(m, 1 - F.col(src))
    j = j.withColumn("m1_2", F.col("m1") * F.col("m1"))
    j = j.withColumn("m1_4", F.col("m1_2") * F.col("m1_2"))
    j = j.withColumn("m1_8", F.col("m1_4") * F.col("m1_4"))
    j = j.withColumn("m1_16", F.col("m1_8") * F.col("m1_8"))
    j = j.withColumn("m2_2", F.col("m2") * F.col("m2"))
    j = j.withColumn("m2_4", F.col("m2_2") * F.col("m2_2"))
    j = j.withColumn("m2_8", F.col("m2_4") * F.col("m2_4"))
    j = j.withColumn("m4_2", F.col("m4") * F.col("m4"))
    j = j.withColumn("m4_4", F.col("m4_2") * F.col("m4_2"))
    j = j.withColumn("m8_2", F.col("m8") * F.col("m8"))
    micro = lambda c: F.round((1 - F.col(c)) * 1e6).cast("bigint")  # noqa: E731
    p = j.select(
        (F.col("jac") >= 0.7).alias("good"),
        micro("m1_16").alias("p16_1"),
        micro("m2_8").alias("p8_2"),
        micro("m4_4").alias("p4_4"),
        micro("m8_2").alias("p2_8"),
    )
    gsum = lambda c: F.sum(F.when(F.col("good"), F.col(c)).otherwise(0)).cast(  # noqa: E731
        "bigint"
    )
    # Round-14 (guide §1.2/§5): the old shape persisted this ONE-row agg
    # and unioned four selects over it — but the four union branches race
    # to populate the cache inside one action, each re-running the full
    # pair-join lineage (before-plan: 20 parquet scans, 72 Exchanges).
    # The aggregate is a single row by construction: collect it once
    # (bounded collect, the registry's literal-frame discipline) and emit
    # the four banding rows as literals. Division by 1e6 is the same
    # bigint→double IEEE op the Catalyst expression performed.
    r = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("good"), 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum("p16_1").cast("bigint").alias("s16_1"),
        gsum("p16_1").alias("g16_1"),
        F.sum("p8_2").cast("bigint").alias("s8_2"),
        gsum("p8_2").alias("g8_2"),
        F.sum("p4_4").cast("bigint").alias("s4_4"),
        gsum("p4_4").alias("g4_4"),
        F.sum("p2_8").cast("bigint").alias("s2_8"),
        gsum("p2_8").alias("g2_8"),
    ).collect()[0]

    def _micro(v):
        return None if v is None else v / 1e6

    data = [
        (b, rr, r["n_pairs"], r["n_good"], _micro(r[s]), _micro(r[g]))
        for b, rr, s, g in (
            (16, 1, "s16_1", "g16_1"),
            (8, 2, "s8_2", "g8_2"),
            (4, 4, "s4_4", "g4_4"),
            (2, 8, "s2_8", "g2_8"),
        )
    ]
    return spark.createDataFrame(
        data,
        "bands int, rows_per_band int, n_pairs bigint, n_good bigint,"
        " expected_candidates double, expected_good double",
    ).orderBy(F.col("bands").desc())



@register(
    "dup_ngram_coverage",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_transform(
                    range(1, greatest(len(ws) - 1, 1)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
           FROM w),
    dfreq AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df
              FROM sh GROUP BY shingle),
    flag AS (SELECT s.doc_id,
                    CASE WHEN d.df >= 2 THEN 1 ELSE 0 END AS dup
             FROM sh s JOIN dfreq d USING (shingle)),
    per AS (SELECT doc_id, COUNT(*)::BIGINT AS total,
                   SUM(dup)::BIGINT AS covered
            FROM flag GROUP BY doc_id)
    SELECT LEAST((10 * covered) // total, 9)::INT AS coverage_decile,
           COUNT(*)::BIGINT AS n_docs
    FROM per GROUP BY 1 ORDER BY 1 ASC
    """,
)
def dup_ngram_coverage(spark, sf_dir):
    """Duplicate-substring coverage histogram (the Lee et al. 2022
    "Deduplicating Training Data" readout, arXiv:2107.06499, at 3-token
    grain): for every document, the fraction of its POSITIONAL 3-gram
    slots whose shingle also occurs in at least one other document, bucketed
    into coverage deciles. MinHash/SimHash answer "is this DOC a near-dup";
    this answers "how much of each doc is boilerplate shared with the rest
    of the corpus" — the metric that decides between dropping whole docs
    and cutting repeated spans. Positional (non-distinct) shingles via the
    shared `word_shingles` builder; document frequency from one distinct
    (doc, shingle) aggregate; coverage = one equi-join back on the shingle
    key (both sides partial-aggregated, keys ride the shuffle — no
    all-pairs anything); the decile is INTEGER floor-division
    (10*covered DIV total, clamped to 9 so full coverage lands in the top
    bucket) so every row is exact. Docs under 3 tokens have no slots and
    are excluded by construction in both engines. At 100 TB the shingle
    key is hash-partitioned; hot boilerplate shingles are bounded by
    doc-frequency counting (no per-pair blowup)."""
    from veri_spark.functions.text import tokens, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", tokens("text").alias("ws"))
    sh = w.select(
        "doc_id", F.explode(word_shingles(F.col("ws"), 3)).alias("shingle")
    )
    dfreq = (
        sh.select("doc_id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(F.col("shingle").alias("sh2"), "df")
    )
    flag = sh.join(dfreq, F.col("shingle") == F.col("sh2")).select(
        "doc_id", F.when(F.col("df") >= 2, 1).otherwise(0).alias("dup")
    )
    per = flag.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("total"),
        F.sum("dup").cast("bigint").alias("covered"),
    )
    return (
        per.select(
            F.least(F.expr("(10 * covered) div total"), F.lit(9))
            .cast("int")
            .alias("coverage_decile")
        )
        .groupBy("coverage_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy(F.col("coverage_decile").asc())
    )



from veri_spark.functions.hashing import dd_hash as _dd_hash


@register(
    "winnowing_shared_fingerprints",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    hs AS (SELECT doc_id,
                  list_transform(
                    range(1, greatest(len(ws) - 1, 1)),
                    i -> {_dd_hash("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")}) AS h
           FROM w),
    fp AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, greatest(len(h) - 2, 1)),
                    i -> list_min(list_slice(h, i, i + 3))))) AS f
           FROM hs WHERE len(h) >= 4),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*)::BIGINT AS n_shared
              FROM fp a JOIN fp b
                ON a.f = b.f AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared FROM pairs
    ORDER BY n_shared DESC, doc_a ASC, doc_b ASC LIMIT 20
    """,
)
def winnowing_shared_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken 2003 —
    the MOSS local fingerprinting algorithm): hash every positional
    3-token shingle, slide a window of 4 consecutive hashes, keep each
    window's MINIMUM — the guarantee is that any shared run of >= 6 tokens
    between two documents shares at least one selected fingerprint, at
    ~1/4 the storage of full shingle sets, robust to position (unlike
    chunk hashing) and to local edits (unlike whole-doc hashes). Top-20
    document pairs by shared-fingerprint count. Execution: fingerprint
    selection is MAP-ONLY array math per document (positional hashes and
    window minima as `transform`/`slice` expressions — no explode until
    the distinct fingerprints, no UDF); the pair count is the standard
    banded-candidate equi-join on the fingerprint key, cost bounded by
    per-fingerprint bucket sizes exactly like MinHash-LSH banding. Docs
    shorter than 6 tokens (< 4 shingle hashes, no full window) are
    excluded in both engines. All-integer output."""
    from veri_spark.functions.hashing import portable_hash64
    from veri_spark.functions.text import tokens, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    # round 15: fan_parallel was measured here and NOT adopted (medians
    # 3.31 pre vs 3.26 spread — the eager fingerprint checkpoint's
    # explode already feeds a shuffle, so the spread bought nothing)
    w = docs.select("doc_id", tokens("text").alias("ws"))
    hs = w.select(
        "doc_id",
        F.transform(
            word_shingles(F.col("ws"), 3), lambda s: portable_hash64(s)
        ).alias("h"),
    )
    # windows of 4 over m hashes: exactly m-3 full windows (Spark sequence
    # is INCLUSIVE where DuckDB range is exclusive — both must stop at the
    # last FULL window or a truncated 3-hash tail window sneaks in)
    n = F.size(F.col("h"))
    idx = F.when(n >= 4, F.sequence(F.lit(1), n - 3)).otherwise(
        F.array().cast("array<int>")
    )
    fp = (
        hs.filter(n >= 4)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        idx, lambda i: F.array_min(F.slice(F.col("h"), i, 4))
                    )
                )
            ).alias("f"),
        )
        # Round-14 (guide §1.2): the fingerprint map — tokenize, 3-gram
        # hash, window minima, array_distinct — is the expensive half of
        # this query, and the self-join below otherwise re-derives it on
        # BOTH sides (before-plan: 4 parquet scans / two full fingerprint
        # subtrees; no ReusedExchange fires across the aliased sides).
        # Materializing the compact (doc_id, f) stream once (eager local
        # checkpoint, ~4 ints/row, fingerprints are ~1/4 of shingles by
        # winnowing's own guarantee) makes both join sides read the same
        # computed blocks; timed inside the bench action like every
        # builder (bench times construction+collect together).
        .localCheckpoint(eager=True)
    )
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("f").alias("fb"))
    pairs = (
        fp.join(b, (F.col("f") == F.col("fb")) & (F.col("doc_id") < F.col("doc_b")))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return pairs.orderBy(
        F.col("n_shared").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    ).limit(20)


@register(
    "spotsigs_neardup",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sg AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(
               list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                 i -> CASE WHEN ws[i] IN ({EN_STOPWORDS_SQL})
                      THEN ws[i] || ':' || ws[i + 1] || ':' || ws[i + 2]
                      END),
               x -> x IS NOT NULL))) AS sig
      FROM d),
    sz AS (SELECT doc_id, COUNT(*)::BIGINT AS n_sigs FROM sg GROUP BY doc_id),
    pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  COUNT(*)::BIGINT AS n_common
           FROM sg a JOIN sg b ON a.sig = b.sig AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    j AS (SELECT pr.doc_a, pr.doc_b, pr.n_common,
                 pr.n_common::DOUBLE
                   / (za.n_sigs + zb.n_sigs - pr.n_common) AS jac
          FROM pr
          JOIN sz za ON za.doc_id = pr.doc_a
          JOIN sz zb ON zb.doc_id = pr.doc_b)
    SELECT doc_a, doc_b, n_common, ROUND(jac, 6) AS jaccard
    FROM j
    ORDER BY jac DESC, n_common DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def spotsigs_neardup(spark, sf_dir):
    """SpotSigs near-duplicate detection (Theobald et al., SIGIR'08,
    simplified): spot signatures are token chains ANCHORED AT STOPWORDS
    (antecedent + its next two tokens) — natural-language text is dense
    in stopwords while boilerplate/markup is not, so the signature set
    concentrates on exactly the prose that matters for near-dup
    semantics and skips navigation chrome for free, the property that
    made SpotSigs the classic web-dedup alternative to uniform
    shingling (`dedup_ngram_jaccard`). Signature extraction is one
    in-codegen array transform (no explode until the distinct signature
    set per doc); candidate pairs come from the signature inverted
    index (equi-join on the signature — the same bounded-fanout shape
    as every banded/blocked dedup here, never all-pairs); Jaccard uses
    |A|+|B|-|A∩B| from per-doc signature counts, ranked on the
    unrounded ratio of exact BIGINTs with full tie-breaks. The anchor
    set is the single-sourced EN_STOPWORDS (interpolated into BOTH
    engines). At 100 TB: add the SpotSigs length-partitioning bound
    (|A∩B| <= min sizes => docs whose size ratio is under the
    threshold can never pair) as a pre-filter on the size-keyed join —
    plan shape unchanged."""
    from veri_spark.functions.text import EN_STOPWORDS, tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("ws")
    )
    n = F.size("ws")
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    chain = F.transform(
        idx,
        lambda i: F.when(
            F.get(F.col("ws"), i - 1).isin(*EN_STOPWORDS),
            F.concat_ws(
                ":",
                F.get(F.col("ws"), i - 1),
                F.get(F.col("ws"), i),
                F.get(F.col("ws"), i + 1),
            ),
        ),
    )
    sg = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(chain, lambda x: x.isNotNull()))
        ).alias("sig"),
    )
    sz = sg.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_sigs"))
    a = sg.select(F.col("doc_id").alias("doc_a"), "sig")
    b = sg.select(F.col("doc_id").alias("doc_b"), "sig")
    pr = (
        a.join(b, "sig")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    j = (
        pr.join(
            F.broadcast(
                sz.select(F.col("doc_id").alias("doc_a"), F.col("n_sigs").alias("za"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sz.select(F.col("doc_id").alias("doc_b"), F.col("n_sigs").alias("zb"))
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("za") + F.col("zb") - F.col("n_common"))
            ).alias("jac"),
        )
    )
    return (
        j.orderBy(
            F.col("jac").desc(),
            F.col("n_common").desc(),
            F.col("doc_a").asc(),
            F.col("doc_b").asc(),
        )
        .limit(20)
        .select("doc_a", "doc_b", "n_common", F.round("jac", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Round 10: the Lee et al. output grain dup_ngram_coverage (deciles) and
# chunk_dedup_summary (fixed windows) bracketed but never produced —
# maximal duplicated SPANS (round-9 verdict task 5).
# ---------------------------------------------------------------------------

@register(
    "dup_span_extents",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sl AS (SELECT doc_id,
                  list_transform(range(1, greatest(len(ws) - 1, 1)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
           FROM w),
    sh AS (SELECT doc_id, generate_subscripts(sh, 1) AS pos,
                  unnest(sh) AS shingle
           FROM sl),
    dfreq AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df
              FROM sh GROUP BY shingle),
    dp AS (SELECT s.doc_id, s.pos
           FROM sh s JOIN dfreq d USING (shingle) WHERE d.df >= 2),
    tok AS (SELECT DISTINCT doc_id, t
            FROM (SELECT doc_id, unnest(range(pos, pos + 3)) AS t FROM dp)),
    isl AS (SELECT doc_id, t,
                   t - row_number() OVER (PARTITION BY doc_id
                                          ORDER BY t ASC) AS g
            FROM tok),
    spans AS (SELECT doc_id, COUNT(*)::BIGINT AS span_len
              FROM isl GROUP BY doc_id, g)
    SELECT LEAST(span_len, 12)::INT AS span_len_capped,
           COUNT(*)::BIGINT AS n_spans,
           SUM(span_len)::BIGINT AS tokens_removable
    FROM spans GROUP BY 1 ORDER BY 1 ASC
    """,
)
def dup_span_extents(spark, sf_dir):
    """Maximal duplicated-span extents — the actual output grain of Lee
    et al. 2022 ("Deduplicating Training Data", arXiv:2107.06499), which
    removes each maximal substring that also occurs elsewhere in the
    corpus, rather than dropping whole documents. `dup_ngram_coverage`
    reports HOW MUCH of each doc is duplicated; this reports the spans
    themselves: a token is covered when ANY of its positional 3-gram
    slots is corpus-duplicated (df >= 2), covered tokens merge into
    maximal runs via gaps-and-islands (t - row_number), and the output is
    the span-length histogram (capped at 12 so the top bucket absorbs the
    long boilerplate tail) with the exact total of removable tokens —
    spans are disjoint by construction, so tokens_removable is a true
    union, not a double-counted window sum.

    Execution: positional shingles (posexplode of the shared
    word_shingles builder), document frequency from one distinct
    (doc, shingle) partial aggregate, one equi-join back on the shingle
    key — all identical shapes to dup_ngram_coverage, NO all-pairs step
    anywhere. The token expansion is a bounded x3 explode + distinct on
    (doc_id, t); the islands window partitions BY DOCUMENT (frame bounded
    by doc length — never corpus-grain), exactly the event_run_lengths
    gaps-and-islands. At 100 TB everything shuffles on doc_id or the
    shingle hash; hot boilerplate shingles cost df-counting only."""
    from veri_spark.functions.text import tokens, word_shingles
    from veri_spark.plans._base import fan_parallel

    docs = load_table(spark, sf_dir, "documents")
    # round 15 (guide §2.6): spread the raw text before the tokenize +
    # positional-shingle explode (single-split scan otherwise)
    w = fan_parallel(docs.select("doc_id", "text")).select(
        "doc_id", tokens("text").alias("ws")
    )
    sh = w.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("ws"), 3)).alias("pos", "shingle"),
    )
    dfreq = (
        sh.select("doc_id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(F.col("shingle").alias("sh2"), "df")
    )
    dp = (
        sh.join(dfreq, F.col("shingle") == F.col("sh2"))
        .filter(F.col("df") >= 2)
        .select("doc_id", "pos")
    )
    tok = dp.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + 2)).alias("t"),
    ).distinct()
    isl = tok.select(
        "doc_id",
        "t",
        (
            F.col("t")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("t").asc())
            )
        ).alias("g"),
    )
    spans = isl.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("span_len")
    )
    return (
        spans.select(
            F.least(F.col("span_len"), F.lit(12)).cast("int").alias("span_len_capped"),
            "span_len",
        )
        .groupBy("span_len_capped")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("span_len").cast("bigint").alias("tokens_removable"),
        )
        .orderBy(F.col("span_len_capped").asc())
    )


@register(
    "cdc_chunk_dedup",
    f"""
    WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS len
               FROM documents WHERE length(text) > 0),
    cand AS (SELECT doc_id, text, len,
                    unnest(generate_series(2, len - 15))::BIGINT AS p
             FROM d),
    cuts AS (SELECT doc_id, text, len, p FROM cand
             WHERE {_dd_hash("substr(text, p::INT, 16)", "'cdc'")} % 64 = 0),
    starts AS (SELECT doc_id, text, len, 1::BIGINT AS p FROM d
               UNION ALL
               SELECT doc_id, text, len, p FROM cuts),
    ch AS (SELECT doc_id, len, p,
                  COALESCE(LEAD(p) OVER (PARTITION BY doc_id
                                         ORDER BY p ASC),
                           len + 1) - p AS clen,
                  md5(substr(text, p::INT,
                             (COALESCE(LEAD(p) OVER (PARTITION BY doc_id
                                                     ORDER BY p ASC),
                                       len + 1) - p)::INT)) AS chash
           FROM starts)
    SELECT COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
           COUNT(*)::BIGINT AS n_chunks,
           COUNT(DISTINCT chash)::BIGINT AS n_distinct_chunks,
           ROUND(1.0 - COUNT(DISTINCT chash) * 1.0 / COUNT(*), 6)
             AS chunk_dup_ratio,
           ROUND(SUM(clen) * 1.0 / COUNT(*), 6) AS mean_chunk_len
    FROM ch
    """,
)
def cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking (CDC) dedup audit: each document is cut
    wherever the fingerprint of its local 16-char window satisfies
    hash % 64 == 0, and chunks dedup by content hash across the corpus
    -- the storage-dedup primitive (LBFS/rsync lineage; FastCDC is the
    production variant of exactly this boundary rule) that
    `chunk_dedup_summary`'s FIXED-width chunks cannot match: a 1-byte
    insertion shifts every fixed boundary after it, but content-defined
    boundaries re-synchronize because the cut depends only on the
    local window, so shared suffixes still dedup. Boundary decisions
    use the portable md5 family on the window SUBSTRING (shift-invariant
    by construction; the same O(len * w) fingerprint grain the
    winnowing/MOSS queries already pay, traded for needing no rolling
    modular state that SQL cannot thread); position 1 is always a cut;
    chunk extents come from LEAD over per-document windows (bounded by
    document length); expected chunk size is the 64-char mask mean plus
    the window width.

    Scale: candidate positions explode to one row per character --
    corpus-linear with map-side pruning to the ~1/64 of positions that
    cut; per-doc windows are document-bounded; the global dedup is one
    distinct-count over chunk hashes (partial-aggregated). At 100 TB
    this is the same shape as the shingle pipeline: linear explode,
    banded reduce."""
    from veri_spark.plans._base import fan_parallel

    docs = fan_parallel(
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text", F.length("text").cast("bigint").alias("len"))
    )
    # round 15 (guide §2.6): the per-character candidate explode below
    # otherwise runs in the single-split scan task
    from veri_spark.functions.hashing import portable_hash64

    cand = docs.select(
        "doc_id",
        "text",
        "len",
        F.explode(
            F.sequence(F.lit(2).cast("bigint"), F.col("len") - 15)
        ).alias("p"),
    )
    cuts = cand.filter(
        portable_hash64(
            F.expr("substring(text, CAST(p AS INT), 16)"), "cdc"
        )
        % 64
        == 0
    )
    starts = docs.select(
        "doc_id", "text", "len", F.lit(1).cast("bigint").alias("p")
    ).unionByName(cuts.select("doc_id", "text", "len", "p"))
    w = Window.partitionBy("doc_id").orderBy(F.col("p").asc())
    ch = starts.select(
        "doc_id",
        (
            F.coalesce(F.lead("p").over(w), F.col("len") + 1) - F.col("p")
        ).alias("clen"),
        F.md5(
            F.expr(
                "substring(text, CAST(p AS INT), CAST("
                "coalesce(lead(p) over (partition by doc_id order by p asc),"
                " len + 1) - p AS INT))"
            )
        ).alias("chash"),
    )
    return ch.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.countDistinct("chash").cast("bigint").alias("n_distinct_chunks"),
        F.round(
            F.lit(1.0)
            - F.countDistinct("chash") * F.lit(1.0) / F.count(F.lit(1)),
            6,
        ).alias("chunk_dup_ratio"),
        F.round(F.sum("clen") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
            "mean_chunk_len"
        ),
    )


@register(
    "dedup_incremental_simhash",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
          FROM t),
    bsum AS (SELECT doc_id, bit,
                    SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
             FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) bits
             GROUP BY doc_id, bit),
    sig AS (SELECT doc_id,
                   SUM(CASE WHEN s >= 0 THEN (1::BIGINT << bit)
                       ELSE 0::BIGINT END)::BIGINT AS simhash
            FROM bsum GROUP BY doc_id),
    delta AS (SELECT doc_id FROM documents
              WHERE CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT)
                    % 10 = 7),
    bands AS (SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS v
              FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
    cand AS (SELECT DISTINCT a.doc_id AS delta_doc, c.doc_id AS corpus_doc,
                    a.simhash AS sa, c.simhash AS sb
             FROM bands a
             JOIN delta d ON a.doc_id = d.doc_id
             JOIN bands c ON a.b = c.b AND a.v = c.v
             WHERE c.doc_id NOT IN (SELECT doc_id FROM delta))
    SELECT delta_doc, corpus_doc, bit_count(xor(sa, sb))::INT AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """,
)
def dedup_incremental_simhash(spark, sf_dir):
    """SimHash side of the incremental dedup pair
    (`dedup_incremental_delta` is the MinHash side): the hash-shard
    delta's near-dups within Hamming distance 3 against the REST of the
    corpus, corpus signatures read from the store's PERSISTED signature
    index — byte-band blocking keeps exact recall (pigeonhole: <= 3
    flipped bits leave >= 1 of 4 bytes intact) while only the delta is
    ever tokenized. The two queries together give a shard ingest both
    near-dup families (shingle-overlap and bit-rot similarity) at
    delta cost.

    Scale: the corpus side is a parquet read of (id, fp, simhash) rows;
    banding explodes 4 rows per doc on each side; the join is band-key
    equality; one popcount per collided pair. The index carry-forward
    keeps nightly refreshes delta-sized (store.dedup_index_refresh)."""
    from veri_spark.functions.hashing import portable_hash64
    from veri_spark.plans._base import scratch_store_root
    from veri_spark.store import FeatureStore

    docs = load_table(spark, sf_dir, "documents")
    shard = portable_hash64(F.col("doc_id").cast("string")) % 10 == 7
    delta = docs.filter(shard)
    corpus = docs.filter(~shard)
    # SAME scratch key as dedup_incremental_delta (round 14): the index
    # already holds both signature families, so the pair builds the
    # corpus + index ONCE per sweep — the second query's put_corpus is an
    # identical-content skip and its refresh a zero-job stamp no-op
    store = FeatureStore(
        spark,
        scratch_store_root(
            "dedupidx_" + sf_dir.strip("/").replace("/", "_")
        ),
    )
    store.put_corpus("documents", corpus.select("doc_id", "text"))
    store.dedup_index_refresh("documents", if_needed=True)
    out = store.dedup_delta_simhash("documents", delta, max_hamming=3)
    return out.select(
        "delta_doc", "corpus_doc", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "dedup_index_band_skew",
    f"""
    WITH {_DD_SHINGLES},
    seeds(seed, a, b) AS (VALUES {_minhash_seed_values()}),
    hashed AS (SELECT doc_id,
                      CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                        % 2147483647 AS h31
               FROM sh),
    sig AS (SELECT doc_id, seed, MIN((a * h31 + b) % 2147483647) AS h
            FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 4 AS band,
                     string_agg(h::VARCHAR, ',' ORDER BY seed) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    buckets AS (SELECT band, band_key, COUNT(*)::BIGINT AS nb
                FROM bands GROUP BY band, band_key)
    SELECT band::BIGINT AS band,
           COUNT(*)::BIGINT AS n_buckets,
           MAX(nb)::BIGINT AS max_bucket,
           SUM(nb * (nb - 1) / 2)::BIGINT AS candidate_pairs
    FROM buckets GROUP BY band ORDER BY band ASC
    """,
)
def dedup_index_band_skew(spark, sf_dir):
    """Bucket-skew audit of the MinHash signature index — the number
    that decides whether the LSH candidate join survives 100 TB: per
    band, the bucket count, the LARGEST bucket, and the exact candidate
    pair mass sum nb*(nb-1)/2 the band contributes to the join. A
    degenerate band key (empty-text docs, boilerplate shingles) makes
    its bucket QUADRATIC — this audit is the monitoring hook that
    catches it before the join does, the same hazard
    `cap_stop_shingles` guards in the exact-Jaccard tier and
    `minhash_bucket_skew` measures for raw-signature buckets (this is
    the BAND-key grain the production index actually joins on,
    i.e. the skew of `store.dedup_index_refresh`'s persisted state).

    Scale: signature pipeline (one shuffle on doc id), one (band,
    band_key) aggregation, then a 4-row reduce — no pair is ever
    materialized."""
    from veri_spark.operators.dedup import dedup_signature_index

    docs = load_table(spark, sf_dir, "documents")
    bands, _ = dedup_signature_index(docs, parallelism=16, families="minhash")
    buckets = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("nb").cast("bigint").alias("max_bucket"),
            F.sum(F.col("nb") * (F.col("nb") - 1) / 2)
            .cast("bigint")
            .alias("candidate_pairs"),
        )
        .select(
            F.col("band").cast("bigint").alias("band"),
            "n_buckets",
            "max_bucket",
            "candidate_pairs",
        )
        .orderBy(F.col("band").asc())
    )
