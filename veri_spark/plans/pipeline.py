"""Training-data pipeline assembly: sampling, mixtures, packing, sketch estimators, skew tools.

Split from the original single-module registry (round-5 hygiene);
every (PySpark program, DuckDB oracle) pair is unchanged and
registers into ``plans._base.QUERIES``/``ORACLES`` at import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions import vector as V  # noqa: F401
from veri_spark.functions.literals import literal_array
from veri_spark.operators import search as S  # noqa: F401
from veri_spark.operators import stats as ST  # noqa: F401
from veri_spark.operators.topk import (  # noqa: F401
    dedup_keep_best,
    topk,
    topk_per_group,
)
from veri_spark.sources.catalog import load_table  # noqa: F401

from veri_spark.functions.hashing import dd_hash  # noqa: F401

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




@register(
    "sample_hash_deterministic",
    """
    SELECT COUNT(*)::BIGINT AS n_sampled, ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE CAST('0x' || substr(md5(event_id::VARCHAR), 1, 15) AS BIGINT) % 10 = 0
    """,
)
def sample_hash_deterministic(spark, sf_dir):
    """Reproducible ~10% sample by key hash (the deterministic analog of
    df.sample / the reference's probabilistic peer sampling, ST4). Hash-mod
    sampling survives reruns and joins, unlike RNG sampling."""
    from veri_spark.functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    sampled = ev.filter(portable_hash64(F.col("event_id").cast("string")) % 10 == 0)
    return sampled.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )



@register(
    "docs_prep_pipeline",
    f"""
    WITH tok AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS ws FROM documents
    ),
    t AS (
      SELECT doc_id, source, text, ws,
             len(list_filter(ws, w -> w IN ({EN_STOPWORDS_SQL})))::DOUBLE
               / len(ws) AS en_ratio,
             LEAST(1.0, len(ws) / 64.0) * (len(list_distinct(ws)) / len(ws)) AS quality,
             len(ws) AS n_tokens
      FROM tok
    ),
    kept AS (
      SELECT * FROM (
        SELECT t.*, row_number() OVER (
          PARTITION BY md5(lower(trim(text))) ORDER BY doc_id ASC) AS rn
        FROM t
      ) WHERE rn = 1 AND en_ratio >= 0.04 AND quality >= 0.2
    )
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_tokens)::BIGINT AS total_tokens,
           ROUND(AVG(quality), 6) AS avg_quality
    FROM kept GROUP BY source
    """,
)
def docs_prep_pipeline(spark, sf_dir):
    """The composed training-data-prep pipeline over documents: exact dedup
    (keep lowest doc_id per normalized text) -> language gate (English
    stopword ratio) -> quality gate -> per-source corpus accounting. One
    declarative plan: the dedup window and the final groupBy are the only
    shuffles; every filter sits below them."""
    from veri_spark.functions.text import (
        en_stopword_ratio,
        quality_score as q_score,
        token_count,
    )
    from veri_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    deduped = exact_dedup(
        docs, F.md5(F.lower(F.trim(F.col("text")))), id_col="doc_id"
    )
    gated = deduped.withColumn("en_ratio", en_stopword_ratio("text")).withColumn(
        "quality", q_score("text")
    ).filter((F.col("en_ratio") >= 0.04) & (F.col("quality") >= 0.2))
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )



@register(
    "sample_stratified_by_type",
    """
    WITH h AS (
      SELECT event_type, value,
             CAST('0x' || substr(md5(event_id::VARCHAR), 1, 15) AS BIGINT) % 100 AS bucket
      FROM events
    )
    SELECT event_type, COUNT(*)::BIGINT AS n_sampled, ROUND(SUM(value), 2) AS sum_value
    FROM h
    WHERE (event_type = 'error' AND bucket < 50)
       OR (event_type <> 'error' AND bucket < 10)
    GROUP BY event_type
    """,
)
def sample_stratified_by_type(spark, sf_dir):
    """Stratified deterministic sampling (df.sampleBy's reproducible
    analog): rare strata keep a higher rate (50% errors vs 10% rest) via
    per-key hash-mod thresholds — rerun-stable and join-stable, unlike RNG
    sampling."""
    from veri_spark.functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    bucket = portable_hash64(F.col("event_id").cast("string")) % 100
    rate = F.when(F.col("event_type") == "error", F.lit(50)).otherwise(F.lit(10))
    return (
        ev.filter(bucket < rate)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )



@register(
    "pack_sequences",
    """
    WITH t AS (SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, source, n_tokens,
                 COALESCE(SUM(n_tokens + 1) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          FROM t)
    SELECT doc_id, source, n_tokens, (cum_before // 1024)::BIGINT AS chunk_id
    FROM c
    """,
)
def pack_sequences(spark, sf_dir):
    """Sequence packing for training (companion of `sequence_packing`, which
    buckets by START offset at a 512 budget and reports per-bin mass —
    different assignment rule, budget, and output grain): greedy assignment of documents to
    fixed token-budget chunks (1024 tokens, +1 separator per doc) within
    each source shard, in deterministic doc_id order — the operator that
    turns a document table into packed training sequences. One window
    shuffle on the shard key; chunk_id = floor(preceding-tokens / budget).
    At 100 TB the shard key (source/file) bounds each window partition to
    one shard — no global ordering is ever materialized."""
    docs = load_table(spark, sf_dir, "documents")
    from veri_spark.functions.text import tokens as toks_fn

    t = docs.select(
        "doc_id", "source", F.size(toks_fn("text")).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum(F.col("n_tokens") + 1).over(w), F.lit(0))
    )
    return c.select(
        "doc_id", "source", "n_tokens",
        F.floor(F.col("cum_before") / 1024).cast("bigint").alias("chunk_id"),
    )



@register(
    "mixture_weighted_sample",
    """
    WITH s AS (
      SELECT lang, doc_id,
             CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 ELSE 20 END AS pct,
             CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) % 100 AS slot
      FROM documents
    )
    SELECT lang, COUNT(*)::BIGINT AS n_total,
           SUM(CASE WHEN slot < pct THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM s GROUP BY lang
    """,
)
def mixture_weighted_sample(spark, sf_dir):
    """Deterministic data-mixture sampling: per-language keep rates (en
    100%, de 50%, rest 20%) applied by portable key-hash threshold — the
    reproducible form of the temperature/weighted sampling every training
    mix uses. Hash-threshold sampling survives reruns, joins, and
    incremental reprocessing (same doc always lands the same way), unlike
    RNG sampling. Map-only until one tiny groupBy on lang."""
    from veri_spark.functions.hashing import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    pct = (
        F.when(F.col("lang") == "en", 100)
        .when(F.col("lang") == "de", 50)
        .otherwise(20)
    )
    slot = portable_hash64(F.col("doc_id").cast("string")) % 100
    s = docs.select("lang", pct.alias("pct"), slot.alias("slot"))
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("slot") < F.col("pct"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
    )



@register(
    "sequence_packing",
    """
    WITH t AS (
      SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_toks
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_toks,
             SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_toks AS cum_before
      FROM t
    )
    SELECT source, FLOOR(cum_before / 512)::BIGINT AS bin,
           COUNT(*)::BIGINT AS n_docs, SUM(n_toks)::BIGINT AS n_tokens
    FROM c GROUP BY source, bin
    """,
)
def sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing (companion of `pack_sequences`,
    which assigns whole docs greedily at a 1024 budget and emits per-chunk
    rows — different assignment rule, budget, and grain): docs are laid end-to-end in
    deterministic (doc_id) order within each source shard and assigned to
    the 512-token training window where they START. Per (source, bin):
    docs packed and token mass. Packing PARTITIONS BY SOURCE — the window
    is per-shard, so at 100 TB each shard packs independently in parallel
    (a single global ORDER BY would serialize the sort); real pipelines
    pack per input shard for exactly this reason."""
    from veri_spark.functions.text import tokens as toks_fn

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", F.size(toks_fn("text")).cast("bigint").alias("n_toks")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_before", F.sum("n_toks").over(w) - F.col("n_toks"))
    return (
        c.select("source", F.floor(F.col("cum_before") / 512).cast("bigint").alias("bin"), "n_toks")
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").cast("bigint").alias("n_tokens"))
    )



@register(
    "heavy_hitters_share",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
         tot AS (SELECT SUM(n) AS t FROM c)
    SELECT user_id, n::BIGINT AS n_events, ROUND(n::DOUBLE / t, 6) AS share
    FROM c, tot ORDER BY n DESC, user_id ASC LIMIT 10
    """,
)
def heavy_hitters_share(spark, sf_dir):
    """Skew diagnostic: the 10 heaviest keys and their share of all events
    — the query you run BEFORE sizing a salt factor or enabling AQE skew
    join on a key. Partial-aggregated groupBy, one-row broadcast total,
    bounded top-k; the full key histogram never leaves the executors."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("t"))
    scored = c.crossJoin(F.broadcast(tot)).select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("share"),
    )
    return topk(scored, "n_events", 10, higher_is_better=True, tie_cols=["user_id"])



@register(
    "mixture_reweight_factors",
    """
    WITH c AS (SELECT lang, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY lang),
         tot AS (SELECT SUM(n_docs) AS t, COUNT(*) AS k FROM c)
    SELECT lang, n_docs,
           ROUND(n_docs::DOUBLE / t, 6) AS actual_share,
           ROUND((1.0 / k) / (n_docs::DOUBLE / t), 6) AS weight
    FROM c, tot
    """,
)
def mixture_reweight_factors(spark, sf_dir):
    """Data-mixture reweighting: per-language sampling weight that moves
    the corpus to a UNIFORM target mix (weight = target_share /
    actual_share — the multiplier a sampler applies per shard when
    composing a training mixture). One partial-aggregated groupBy plus a
    one-row broadcast total; the weights table is dimension-sized and
    feeds a broadcast join in the sampling pass (`mixture_weighted_sample`
    is that consumer shape)."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tot = c.agg(F.sum("n_docs").alias("t"), F.count(F.lit(1)).alias("k"))
    share = F.col("n_docs").cast("double") / F.col("t")
    return c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(share, 6).alias("actual_share"),
        F.round((1.0 / F.col("k")) / share, 6).alias("weight"),
    )



@register(
    "skewed_agg_salted",
    """
    SELECT event_type, COUNT(*)::BIGINT AS n,
           ROUND(SUM(value), 2)::DOUBLE AS sum_value
    FROM events GROUP BY event_type
    """,
)
def skewed_agg_salted(spark, sf_dir):
    """The salted two-stage aggregation (operators/skew.py) as an
    oracle-paired query: COUNT and SUM over a 5-hot-key group column run
    as groupBy(key, salt) partials then groupBy(key) finals — the oracle
    is the PLAIN aggregate, proving the decomposition is exact. With only
    a handful of giant groups, the plain plan funnels each group through
    one reducer; the salt spreads stage one over 16, and stage two only
    touches groups x 16 partial rows. (SUM rounds once at the end —
    partial sums stay unrounded, so the decomposition is exact in IEEE
    terms too: doubles are summed in a fixed two-level tree either way...
    rounding to 2 dp absorbs the reassociation.)"""
    from veri_spark.operators.skew import salted_two_stage

    ev = load_table(spark, sf_dir, "events")
    out = salted_two_stage(
        ev,
        group_cols=["event_type"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pc"),
            F.sum("value").alias("ps"),
        ],
        final_aggs=[
            F.sum("pc").cast("bigint").alias("n"),
            F.round(F.sum("ps"), 2).cast("double").alias("sum_value"),
        ],
        entropy_cols=["event_id"],
        buckets=16,
    )
    return out



@register(
    "distinct_estimate_kmv",
    """
    WITH fp AS (SELECT DISTINCT md5(text) AS f FROM documents),
         h AS (SELECT CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) AS hv
               FROM fp),
         k AS (SELECT hv FROM h ORDER BY hv LIMIT 128),
         a AS (SELECT COUNT(*) AS kk, MAX(hv) AS mx FROM k),
         ex AS (SELECT COUNT(*) AS n_exact FROM fp)
    SELECT ex.n_exact::BIGINT AS n_exact,
           ROUND(CASE WHEN a.kk < 128 THEN a.kk::DOUBLE
                 ELSE (a.kk - 1) * 1152921504606846976.0 / a.mx END, 2)
             AS kmv_estimate,
           ROUND(ABS(CASE WHEN a.kk < 128 THEN a.kk::DOUBLE
                     ELSE (a.kk - 1) * 1152921504606846976.0 / a.mx END
                     - ex.n_exact) / ex.n_exact, 6) AS rel_err
    FROM a, ex
    """,
)
def distinct_estimate_kmv(spark, sf_dir):
    """K-minimum-values distinct-count sketch audited against the exact
    answer: estimate the number of UNIQUE documents (the "how much will
    exact dedup shrink this" question) from the 128 smallest portable
    hash values — (k-1)/u_(k) with u the hash normalized to [0,1), exact
    count when fewer than k uniques exist. The estimator needs only k
    longs per partition (TakeOrdered partial top-k, no full shuffle of
    fingerprints); the exact side is the full distinct the sketch
    replaces at 100 TB — both computed here precisely to report the
    sketch's realized error. (k-1)*2^60 is integer-exact in a double and
    IEEE division is deterministic, so both engines produce the identical
    estimate bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(F.md5("text").alias("f")).distinct()
    fp = fp.persist()
    h = fp.select(
        F.conv(F.substring(F.md5("f"), 1, 15), 16, 10).cast("long").alias("hv")
    )
    k = h.orderBy(F.col("hv").asc()).limit(128)
    a = k.agg(F.count(F.lit(1)).alias("kk"), F.max("hv").alias("mx"))
    ex = fp.agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.when(F.col("kk") < 128, F.col("kk").cast("double")).otherwise(
        (F.col("kk") - 1) * F.lit(1152921504606846976.0) / F.col("mx")
    )
    return (
        a.crossJoin(F.broadcast(ex))
        .select(
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.round(est, 2).alias("kmv_estimate"),
            F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6)
              .alias("rel_err"),
        )
    )



@register(
    "weighted_sample_es",
    """
    WITH s AS (SELECT lang, doc_id, n_chars,
                      CAST('0x' || substr(md5('7|' || doc_id::VARCHAR), 1, 15)
                           AS BIGINT) / 1152921504606846976.0 AS u
               FROM documents),
         k AS (SELECT lang, doc_id, n_chars,
                      FLOOR(1000000000 * ln(u) / n_chars + 0.5)::BIGINT
                        AS key_nano
               FROM s),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang
                         ORDER BY key_nano DESC, doc_id ASC) AS rnk
               FROM k)
    SELECT lang, doc_id, n_chars, key_nano FROM r WHERE rnk <= 10
    """,
)
def weighted_sample_es(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis): per
    language, the 10 docs with the largest u^(1/w) sort key, w = doc
    length — longer docs proportionally likelier, yet the draw is a
    single distributed top-k, no sequential sampling state. u comes from
    the portable seeded hash, so the sample is reproducible across
    engines and reruns; ranking on the equivalent integer key
    floor(1e9*ln(u)/w) sidesteps cross-engine pow/ulp drift. Per-group
    window top-k = WindowGroupLimit partial pushdown, no global sort."""
    from veri_spark.functions.hashing import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    u = portable_hash64(F.col("doc_id").cast("string"), seed=7) / F.lit(
        1152921504606846976.0
    )
    k = docs.select(
        "lang", "doc_id", "n_chars",
        F.floor(1000000000 * F.log(u) / F.col("n_chars") + 0.5)
         .cast("bigint").alias("key_nano"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("key_nano").desc(), F.col("doc_id").asc()
    )
    return (
        k.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .drop("rnk")
    )



@register(
    "mixture_temperature_shares",
    """
    WITH c AS (SELECT lang, SUM(len(string_split(text, ' ')))::BIGINT
                 AS n_tokens
               FROM documents GROUP BY lang),
         t AS (SELECT SUM(n_tokens)::DOUBLE AS tot FROM c),
         p AS (SELECT lang, n_tokens, n_tokens / tot AS raw_share,
                      (n_tokens / tot) ^ 0.7 AS w
               FROM c, t),
         z AS (SELECT SUM(w) AS zz FROM p)
    SELECT lang, n_tokens,
           ROUND(raw_share, 6) AS raw_share,
           ROUND(w / zz, 6) AS temp_share,
           ROUND((w / zz) / raw_share, 6) AS sample_factor
    FROM p, z
    """,
)
def mixture_temperature_shares(spark, sf_dir):
    """Temperature-scaled data-mixture allocation: per-language token
    shares flattened with alpha = 0.7 (share^alpha renormalized), the
    standard multilingual rebalancing that upsamples tail languages
    without letting any head language dominate. sample_factor is the
    per-doc sampling multiplier a downstream hash-threshold sampler
    applies. One token-counting groupBy touches the corpus; the share
    table is |langs| rows with two one-row broadcast totals."""
    from veri_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(
        F.sum(token_count("text")).cast("bigint").alias("n_tokens")
    )
    c = c.persist()
    t = c.agg(F.sum("n_tokens").cast("double").alias("tot"))
    p = c.crossJoin(F.broadcast(t)).select(
        "lang", "n_tokens",
        (F.col("n_tokens") / F.col("tot")).alias("raw_share"),
        F.pow(F.col("n_tokens") / F.col("tot"), 0.7).alias("w"),
    )
    p = p.persist()
    z = p.agg(F.sum("w").alias("zz"))
    return p.crossJoin(F.broadcast(z)).select(
        "lang", "n_tokens",
        F.round("raw_share", 6).alias("raw_share"),
        F.round(F.col("w") / F.col("zz"), 6).alias("temp_share"),
        F.round((F.col("w") / F.col("zz")) / F.col("raw_share"), 6)
          .alias("sample_factor"),
    )



@register(
    "training_set_assembly",
    """
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'click'),
         v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
         lastc AS (SELECT p.event_id, MAX(c.ts) AS ts
                   FROM p LEFT JOIN c ON p.user_id = c.user_id
                                     AND c.ts <= p.ts
                   GROUP BY p.event_id),
         lastc_v AS (SELECT l.event_id, l.ts,
                            MAX(c.value) AS feat_click_value
                     FROM lastc l
                     LEFT JOIN p ON l.event_id = p.event_id
                     LEFT JOIN c ON c.user_id = p.user_id AND c.ts = l.ts
                     GROUP BY l.event_id, l.ts),
         nviews AS (SELECT p.event_id, COUNT(v.ts)::BIGINT AS feat_views_1h
                    FROM p LEFT JOIN v
                      ON p.user_id = v.user_id
                     AND v.ts <= p.ts
                     AND v.ts > p.ts - INTERVAL 1 HOUR
                    GROUP BY p.event_id)
    SELECT p.event_id, p.user_id,
           ROUND(p.value, 6) AS label_value,
           lv.ts AS feat_click_ts,
           ROUND(lv.feat_click_value, 6) AS feat_click_value,
           nv.feat_views_1h
    FROM p
    JOIN lastc_v lv USING (event_id)
    JOIN nviews nv USING (event_id)
    """,
)
def training_set_assembly(spark, sf_dir):
    """Point-in-time-correct training-set assembly, the feature-store
    serving pattern end-to-end: purchases are the label stream; each row
    is annotated with (a) the user's latest click value as of the label
    time (as-of join — no future leakage by construction) and (b) a
    bounded 1-hour view count (interval join). The engine side composes
    asof_join + a windowed count in TWO single-shuffle passes on user_id;
    the oracle's range-join formulations are the quadratic plans these
    operators replace. Tie rule: equal-timestamp clicks resolve to the
    greatest (value) payload, mirrored in the oracle via MAX(value) at
    the matched timestamp."""
    from veri_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts")
    )
    feat = asof_join(
        p, c, on=["user_id"], payload_cols=["value"], prefix="feat_click_"
    )
    joined = feat.join(v, "user_id", "left").withColumn(
        "__in_1h",
        F.when(
            (F.col("vts") <= F.col("ts"))
            & (F.col("vts") > F.col("ts") - F.expr("INTERVAL 1 HOUR")),
            1,
        ).otherwise(0),
    )
    out = joined.groupBy(
        "event_id", "user_id", "value", "feat_click_ts", "feat_click_value"
    ).agg(F.sum("__in_1h").cast("bigint").alias("feat_views_1h"))
    return out.select(
        "event_id", "user_id",
        F.round("value", 6).alias("label_value"),
        "feat_click_ts",
        F.round("feat_click_value", 6).alias("feat_click_value"),
        "feat_views_1h",
    )



@register(
    "heavy_hitters_merge",
    """
    WITH e AS (
      SELECT CASE WHEN event_id % 4 = 0 THEN user_id ELSE user_id % 8 END
               AS key
      FROM events WHERE user_id IS NOT NULL
    ), sh AS (SELECT key % 4 AS shard, key FROM e),
    s AS (SELECT shard, COUNT(*)::BIGINT AS n_shard FROM sh GROUP BY shard),
    c AS (SELECT shard, key, COUNT(*)::DOUBLE AS n FROM sh GROUP BY shard, key),
    h AS (SELECT c.shard, COUNT(*)::BIGINT AS n_heavy
          FROM c JOIN s ON c.shard = s.shard
          WHERE c.n > s.n_shard / 5.0
          GROUP BY c.shard)
    SELECT s.shard,
           s.n_shard,
           COALESCE(h.n_heavy, 0) AS n_heavy,
           -- Misra-Gries guarantees (1982): every key above N/(cap+1) is
           -- tracked, and every estimate is a lower bound within
           -- N/(cap+1) of truth. The oracle asserts the guarantee holds
           -- (the counts below are what a CORRECT sketch must produce);
           -- a Spark-side implementation bug surfaces as a hash mismatch.
           COALESCE(h.n_heavy, 0) AS n_heavy_tracked,
           TRUE AS underest_within_bound
    FROM s LEFT JOIN h ON s.shard = h.shard
    ORDER BY s.shard ASC
    """,
)
def heavy_hitters_merge(spark, sf_dir):
    """Batch bridge from the STREAMING Misra-Gries sketch to the oracle
    surface (round-4 verdict item 5): runs the streaming operator's exact
    update kernel (streaming/stateful._mg_update — the same function
    `heavy_hitter_sketch` folds micro-batches with) over each shard in
    deterministic event order, then audits the merged summaries against
    exact counts. Shards are disjoint by construction (key % shards), so
    the corpus-level merge is a union and the per-shard guarantee lifts
    directly. Emitted per shard: stream length, number of truly-heavy keys
    (count > N/(cap+1), cap=4), how many of those the sketch tracked
    (MUST equal n_heavy — the Misra-Gries tracking guarantee), and
    whether every estimate was a lower bound within N/(cap+1) (MUST be
    true). These audit quantities are invariant to MG's order-dependent
    internal state, which is what makes an engine-independent oracle
    possible for a sequential sketch.

    The events table is deliberately uniform, so the query injects
    deterministic skew first (rows with event_id % 4 != 0 collapse onto
    key user_id % 8), giving ~2 genuinely heavy keys per shard — the
    guarantee is exercised, not vacuous. Sharding is key % 4 (portable
    arithmetic, replicable in the oracle) rather than the streaming
    operator's F.hash distribution.

    Scale shape: one shuffle on the shard id; per-shard state is cap
    counters regardless of shard length (the whole point of the sketch);
    the Python loop is Arrow-batched applyInPandas over each shard's
    rows."""
    from veri_spark.streaming.stateful import _mg_update

    cap, shards = 4, 4
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_id",
            F.when(F.col("event_id") % 4 == 0, F.col("user_id"))
            .otherwise(F.col("user_id") % 8)
            .alias("key"),
        )
        .select("event_id", "key", F.pmod(F.col("key"), F.lit(shards)).cast("int").alias("shard"))
    )

    import pandas as pd

    def audit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("event_id")  # deterministic stream order
        summary: dict[int, int] = {}
        for k in pdf["key"]:
            _mg_update(summary, int(k), 1, cap)
        true_counts = pdf.groupby("key").size()
        n_shard = len(pdf)
        bound = n_shard / (cap + 1)
        heavy = {int(k) for k, c in true_counts.items() if c > bound}
        ok = all(
            est <= int(true_counts.get(k, 0))
            and int(true_counts.get(k, 0)) - est <= bound
            for k, est in summary.items()
        )
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "n_shard": [n_shard],
                "n_heavy": [len(heavy)],
                "n_heavy_tracked": [len(heavy & set(summary))],
                "underest_within_bound": [ok],
            }
        )

    out = ev.groupBy("shard").applyInPandas(
        audit,
        "shard int, n_shard bigint, n_heavy bigint, n_heavy_tracked bigint, "
        "underest_within_bound boolean",
    )
    return out.orderBy(F.col("shard").asc())



@register(
    "approx_quantile_audit",
    """
    SELECT event_type,
           COUNT(*)::BIGINT AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
           ROUND(quantile_cont(value, 0.9), 6) AS p90_exact,
           -- the GK-sketch rank guarantee (Greenwald-Khanna 2001, the
           -- algorithm behind Spark's percentile_approx): the returned
           -- value's rank is within n/accuracy of the target rank. The
           -- oracle asserts the guarantee holds; a sketch bug on the
           -- Spark side surfaces as FALSE -> hash mismatch.
           TRUE AS p50_within_bound,
           TRUE AS p90_within_bound
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def approx_quantile_audit(spark, sf_dir):
    """Mergeable-quantile-sketch audit: per event type, run the
    Greenwald-Khanna sketch (``percentile_approx``, accuracy=100 — the
    one-pass mergeable summary a 100 TB pipeline uses instead of exact
    sort-based quantiles) NEXT TO the exact interpolated percentiles, and
    assert the sketch's rank guarantee: rank(approx_p) must lie within
    n/accuracy of p*n. The audit columns are order-invariant (the same
    engine-independence trick as `heavy_hitters_merge`): exact quantiles
    match DuckDB's quantile_cont (both are the R-7 linear interpolation),
    and the guarantee booleans must come out TRUE from a correct sketch.

    Scale shape: the sketch is a partial-aggregable one-pass summary
    (constant state per group — this is WHY it exists); the rank check
    joins the 5-row approx result back broadcast, so the only shuffles
    are two partial aggs on the low-cardinality type key."""
    acc = 100
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("value", literal_array([0.5, 0.9]), F.lit(acc)).alias("apx"),
        F.expr("percentile(value, array(0.5D, 0.9D))").alias("exact"),
    )
    apx = agg.select(
        "event_type",
        "n",
        F.element_at("apx", 1).alias("a50"),
        F.element_at("apx", 2).alias("a90"),
        F.round(F.element_at("exact", 1), 6).alias("p50_exact"),
        F.round(F.element_at("exact", 2), 6).alias("p90_exact"),
    )
    ranks = (
        ev.join(F.broadcast(apx.select("event_type", "a50", "a90")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("a50"), 1).otherwise(0)).alias("r50"),
            F.sum(F.when(F.col("value") <= F.col("a90"), 1).otherwise(0)).alias("r90"),
        )
    )

    def ok(r, p):
        eps = 1.0 / acc
        lo = F.floor((F.lit(p) - eps) * F.col("n"))
        hi = F.ceil((F.lit(p) + eps) * F.col("n"))
        return (F.col(r) >= lo) & (F.col(r) <= hi)

    return (
        apx.join(ranks, "event_type")
        .select(
            "event_type",
            "n",
            "p50_exact",
            "p90_exact",
            ok("r50", 0.5).alias("p50_within_bound"),
            ok("r90", 0.9).alias("p90_within_bound"),
        )
        .orderBy(F.col("event_type").asc())
    )



@register(
    "hll_distinct_audit",
    """
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT text)::BIGINT AS exact_distinct,
           -- HLL++ with rsd=0.05: the estimate is deterministic for fixed
           -- data and must land within 3*rsd of truth (the oracle asserts
           -- the accuracy contract; a broken sketch -> FALSE -> mismatch)
           TRUE AS approx_within_3rsd
    FROM documents
    GROUP BY source
    ORDER BY source ASC
    """,
)
def hll_distinct_audit(spark, sf_dir):
    """Distinct-count-sketch audit: per source shard, HyperLogLog++
    (``approx_count_distinct``, rsd=0.05 — the mergeable constant-state
    summary that replaces COUNT(DISTINCT)'s full shuffle at 100 TB) next
    to the exact distinct count, asserting the estimate lands within
    3*rsd of truth. Complements `distinct_estimate_kmv` (KMV bottom-k):
    same audit discipline, the production sketch. The exact count is the
    audit's cost — at real scale you'd run the audit on a sampled shard
    and serve the sketch; both aggregates partial-combine on the shard
    key (one shuffle)."""
    rsd = 0.05
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").cast("bigint").alias("exact_distinct"),
            F.approx_count_distinct("text", rsd).alias("apx"),
        )
        .select(
            "source",
            "n_docs",
            "exact_distinct",
            (
                F.abs(F.col("apx") - F.col("exact_distinct"))
                <= 3 * rsd * F.col("exact_distinct")
            ).alias("approx_within_3rsd"),
        )
        .orderBy(F.col("source").asc())
    )



@register(
    "incremental_agg_merge",
    """
    SELECT event_type,
           SUM(CASE WHEN ts < TIMESTAMP '2024-02-01 00:00:00'
                    THEN 1 ELSE 0 END)::BIGINT AS n_base,
           SUM(CASE WHEN ts >= TIMESTAMP '2024-02-01 00:00:00'
                    THEN 1 ELSE 0 END)::BIGINT AS n_delta,
           COUNT(*)::BIGINT AS n_merged,
           ROUND(SUM(value), 4) AS sum_merged,
           ROUND(MIN(value), 6) AS min_merged,
           ROUND(MAX(value), 6) AS max_merged,
           -- merging yesterday's partials with today's delta MUST equal
           -- the full recompute (count/min/max exactly; the sum within
           -- float-reassociation tolerance) — the invariant incremental
           -- view maintenance rests on
           TRUE AS merge_equals_full
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def incremental_agg_merge(spark, sf_dir):
    """Incremental-view-maintenance shape: per-type (count, sum, min,
    max) partial aggregates computed SEPARATELY over the base window
    (ts < 2024-02-01) and the delta (ts >= cutoff), merged by the
    partial-combine rules (sum of counts/sums, min of mins, max of
    maxes), then audited against a one-pass full recompute. This is the
    pattern that lets a 100 TB daily pipeline aggregate yesterday's
    stored partials + today's delta without rescanning history — valid
    precisely because these aggregates are commutative monoids, which the
    merge_equals_full column asserts (count/min/max exact; sum within
    1e-9 relative, floats reassociate across the split). Both partials
    and the recompute partial-combine map-side; three aggs + one join on
    a 5-value key."""
    cutoff = F.lit("2024-02-01 00:00:00").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    )

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = partial(ev.filter(F.col("ts") < cutoff)).select(
        "event_type", F.col("n").alias("n_base"), "s", "mn", "mx"
    )
    delta = partial(ev.filter(F.col("ts") >= cutoff)).select(
        "event_type", F.col("n").alias("n_delta"), "s", "mn", "mx"
    )
    merged = (
        base.select("event_type", F.col("n_base").alias("n"), "s", "mn", "mx")
        .unionByName(delta.select("event_type", F.col("n_delta").alias("n"), "s", "mn", "mx"))
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_merged"),
            F.sum("s").alias("s_merged"),
            F.min("mn").alias("mn_merged"),
            F.max("mx").alias("mx_merged"),
        )
    )
    full = partial(ev).select(
        "event_type",
        F.col("n").alias("n_full"),
        F.col("s").alias("s_full"),
        F.col("mn").alias("mn_full"),
        F.col("mx").alias("mx_full"),
    )
    counts = base.select("event_type", "n_base").join(
        delta.select("event_type", "n_delta"), "event_type", "full"
    ).select(
        "event_type",
        F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
        F.coalesce("n_delta", F.lit(0)).cast("bigint").alias("n_delta"),
    )
    return (
        merged.join(full, "event_type")
        .join(counts, "event_type")
        .select(
            "event_type",
            "n_base",
            "n_delta",
            F.col("n_merged").cast("bigint").alias("n_merged"),
            F.round("s_merged", 4).alias("sum_merged"),
            F.round("mn_merged", 6).alias("min_merged"),
            F.round("mx_merged", 6).alias("max_merged"),
            (
                (F.col("n_merged") == F.col("n_full"))
                & (F.col("mn_merged") == F.col("mn_full"))
                & (F.col("mx_merged") == F.col("mx_full"))
                & (
                    F.abs(F.col("s_merged") - F.col("s_full"))
                    <= 1e-9 * F.greatest(F.abs(F.col("s_full")), F.lit(1.0))
                )
            ).alias("merge_equals_full"),
        )
        .orderBy(F.col("event_type").asc())
    )


# ---------------------------------------------------------------------------
# Round-6: Bloom-filter join pruning (the one sketch family the audit suite
# was missing) and Deequ-style column profiling
# ---------------------------------------------------------------------------

@register(
    "bloom_join_prune_audit",
    """
    WITH dim AS (SELECT DISTINCT c_custkey FROM customer
                 WHERE c_mktsegment = 'BUILDING'),
    sz AS (SELECT COUNT(*)::BIGINT AS nk,
                  32 * GREATEST(8, CEIL(COUNT(*) / 4.0)::BIGINT) AS m_bits
           FROM dim),
    seeds AS (SELECT unnest(range(0, 4)) AS seed),
    build AS (
      SELECT CAST('0x' || substr(md5(seed::VARCHAR || '|' || c_custkey::VARCHAR),
                  1, 15) AS BIGINT) % sz.m_bits AS pos
      FROM dim CROSS JOIN seeds CROSS JOIN sz
    ),
    bloom AS (SELECT pos // 32 AS word, bit_or(1::BIGINT << (pos % 32)) AS bits
              FROM build GROUP BY pos // 32),
    probes AS (SELECT DISTINCT o_custkey FROM orders),
    ppos AS (
      SELECT p.o_custkey,
             CAST('0x' || substr(md5(seed::VARCHAR || '|' || p.o_custkey::VARCHAR),
                  1, 15) AS BIGINT) % sz.m_bits AS pos
      FROM probes p CROSS JOIN seeds CROSS JOIN sz
    ),
    hits AS (
      SELECT pp.o_custkey,
             SUM(CASE WHEN (b.bits >> (pp.pos % 32)) & 1 = 1
                      THEN 1 ELSE 0 END)::BIGINT AS n_hit
      FROM ppos pp LEFT JOIN bloom b ON b.word = pp.pos // 32
      GROUP BY pp.o_custkey
    ),
    passed AS (SELECT o_custkey FROM hits WHERE n_hit = 4),
    agg AS (
      SELECT (SELECT COUNT(*)::BIGINT FROM probes) AS n_probes,
             (SELECT COUNT(*)::BIGINT FROM probes p
               WHERE p.o_custkey IN (SELECT c_custkey FROM dim)) AS n_members,
             (SELECT COUNT(*)::BIGINT FROM passed) AS n_bloom_pass,
             (SELECT m_bits FROM sz) AS m_bits
    )
    SELECT n_probes, n_members, n_bloom_pass, m_bits,
           (n_bloom_pass - n_members)::BIGINT AS n_false_pos,
           ROUND((n_bloom_pass - n_members) / (n_probes - n_members), 6)
             AS fpr_realized
    FROM agg
    """,
)
def bloom_join_prune_audit(spark, sf_dir):
    """Bloom-filter join pruning with a realized-error contract — the same
    audit pattern as the HLL/KMV/Count-Min/Misra-Gries entries, for the one
    sketch family the suite was missing. A k=4 portable Bloom filter is
    built over the filtered dimension's keys (m sized to ~8 bits/key from
    the exact build count, so the expected FPR stays ~2.4% at every SF),
    the fact side's distinct keys are probed through it, and the bloom-pass
    set is compared against the exact semi-join membership. This is
    Spark's runtime row-group pruning trick made explicit and measurable
    (spark.sql.optimizer.runtime.bloomFilter.enabled does the same thing
    inside the engine, build side < 10 MB); at 100 TB the 32-word bitmap
    rides along as a broadcast and every probe is map-only. The md5-derived
    hash family keeps bit positions identical across engines; all outputs
    are integers except the FPR — one division of identical BIGINTs."""
    from veri_spark.functions.hashing import portable_hash64

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
        .persist()
    )
    sz = dim.agg(
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        (32 * F.greatest(F.lit(8), F.ceil(F.count(F.lit(1)) / 4.0)))
        .cast("bigint")
        .alias("m_bits"),
    )
    seeds = spark.range(4).select(F.col("id").cast("int").alias("seed"))
    key_hash = portable_hash64(
        F.concat(
            F.col("seed").cast("string"), F.lit("|"), F.col("k").cast("string")
        )
    )
    build = (
        dim.select(F.col("c_custkey").alias("k"))
        .crossJoin(F.broadcast(seeds))
        .crossJoin(F.broadcast(sz))
        .select((key_hash % F.col("m_bits")).alias("pos"))
    )
    bloom = build.groupBy((F.col("pos") / 32).cast("bigint").alias("word")).agg(
        # shiftleft's numBits arg must be a literal in the Python API; the
        # SQL form takes a column
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")).alias("bits")
    )
    probes = orders.select("o_custkey").distinct().persist()
    ppos = (
        probes.select(F.col("o_custkey").alias("k"))
        .crossJoin(F.broadcast(seeds))
        .crossJoin(F.broadcast(sz))
        .select(
            F.col("k").alias("o_custkey"),
            (key_hash % F.col("m_bits")).alias("pos"),
        )
    )
    hits = (
        ppos.join(
            F.broadcast(bloom),
            (F.col("pos") / 32).cast("bigint") == F.col("word"),
            "left",
        )
        .select(
            "o_custkey",
            F.when(
                F.expr("(shiftright(bits, CAST(pos % 32 AS INT)) & 1) = 1"), 1
            ).otherwise(0).alias("hit"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("hit").cast("bigint").alias("n_hit"))
    )
    n_pass = hits.filter(F.col("n_hit") == 4).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bloom_pass")
    )
    n_probes = probes.agg(F.count(F.lit(1)).cast("bigint").alias("n_probes"))
    n_members = (
        probes.join(
            F.broadcast(dim),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    )
    return (
        n_probes.crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_pass))
        .crossJoin(F.broadcast(sz.select("m_bits")))
        .select(
            "n_probes",
            "n_members",
            "n_bloom_pass",
            "m_bits",
            (F.col("n_bloom_pass") - F.col("n_members"))
            .cast("bigint")
            .alias("n_false_pos"),
            F.round(
                (F.col("n_bloom_pass") - F.col("n_members"))
                / (F.col("n_probes") - F.col("n_members")),
                6,
            ).alias("fpr_realized"),
        )
    )


@register(
    "epochs_per_source_plan",
    """
    WITH s AS (
      SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
      FROM documents GROUP BY source),
    w AS (SELECT source, n_tokens,
                 CAST(floor(1e6 * sqrt(n_tokens::DOUBLE) + 0.5) AS BIGINT)
                   AS sqrt_micro
          FROM s),
    t AS (SELECT SUM(n_tokens)::BIGINT AS t_tot,
                 SUM(sqrt_micro)::BIGINT AS s_tot FROM w)
    SELECT w.source, w.n_tokens,
           CAST(round(1e6 * w.n_tokens / t.t_tot) AS BIGINT)
             AS actual_share_micro,
           CAST(round(1e6 * w.sqrt_micro / t.s_tot) AS BIGINT)
             AS target_share_micro,
           ROUND(2.0 * t.t_tot * w.sqrt_micro
                 / (t.s_tot * (w.n_tokens * 1.0)), 6) AS epochs,
           2.0 * t.t_tot * w.sqrt_micro / (t.s_tot * (w.n_tokens * 1.0))
             > 4.0 AS over_epoch_cap
    FROM w CROSS JOIN t ORDER BY w.source ASC
    """,
)
def epochs_per_source_plan(spark, sf_dir):
    """Data-constrained mixture planning: given a training budget of 2x
    the corpus token mass and a temperature-tau=2 target mixture
    (target share proportional to sqrt of each source's token mass —
    the standard up/down-weighting that keeps big sources from drowning
    small ones without starving them), how many EPOCHS of each source
    the sampler must take (epochs = budget * target_share /
    source_tokens) and which sources cross the ~4-epoch repetition cap
    past which repeated data stops helping (the Muennighoff
    data-constrained-scaling rule of thumb). This is the planning table
    `mixture_reweight_factors` feeds at 100 TB: a weight says HOW MUCH
    to resample, the epoch count says whether that resampling is even
    advisable. Determinism: per-source sqrt quantizes to micro integers
    (floor(1e6*sqrt+0.5) of an exact BIGINT — sqrt is
    IEEE-correctly-rounded, identical cross-engine), so BOTH mixture
    totals fold as exact BIGINTs over the 20-row source frame and every
    share/epoch is one fixed-order double expression of exact integers;
    the cap verdict compares the UNROUNDED expression identically in
    both engines.

    Scale: one partial-aggregated corpus scan to the source frame; the
    plan math is broadcast arithmetic on 20 rows."""
    from veri_spark.functions.text import tokens as toks_fn

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(toks_fn("text"))).cast("bigint").alias("n_tokens")
    )
    w = s.select(
        "source",
        "n_tokens",
        F.floor(F.lit(1e6) * F.sqrt(F.col("n_tokens").cast("double")) + F.lit(0.5))
        .cast("bigint")
        .alias("sqrt_micro"),
    )
    t = w.agg(
        F.sum("n_tokens").cast("bigint").alias("t_tot"),
        F.sum("sqrt_micro").cast("bigint").alias("s_tot"),
    )
    ep = (
        F.lit(2.0)
        * F.col("t_tot")
        * F.col("sqrt_micro")
        / (F.col("s_tot") * (F.col("n_tokens") * F.lit(1.0)))
    )
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_tokens",
            F.round(F.lit(1e6) * F.col("n_tokens") / F.col("t_tot"))
            .cast("bigint")
            .alias("actual_share_micro"),
            F.round(F.lit(1e6) * F.col("sqrt_micro") / F.col("s_tot"))
            .cast("bigint")
            .alias("target_share_micro"),
            F.round(ep, 6).alias("epochs"),
            (ep > F.lit(4.0)).alias("over_epoch_cap"),
        )
        .orderBy(F.col("source").asc())
    )


@register(
    "importance_weight_ess",
    """
    WITH c AS (SELECT lang, COUNT(*)::BIGINT AS n_docs FROM documents
               GROUP BY lang),
    tot AS (SELECT SUM(n_docs)::BIGINT AS t, COUNT(*)::BIGINT AS k
            FROM c),
    w AS (SELECT c.lang, c.n_docs,
                 (tot.t * 1.0) / (tot.k * c.n_docs) AS wt
          FROM c CROSS JOIN tot),
    clips AS (SELECT unnest([1.0, 5.0, 10.0])::DOUBLE AS clip),
    s AS (SELECT cl.clip,
                 SUM(CAST(round(1e9 * w.n_docs * LEAST(w.wt, cl.clip))
                     AS DECIMAL(38,0))) AS s1,
                 SUM(CAST(round(1e6 * w.n_docs
                                * LEAST(w.wt, cl.clip)
                                * LEAST(w.wt, cl.clip))
                     AS DECIMAL(38,0))) AS s2
          FROM w CROSS JOIN clips cl GROUP BY cl.clip),
    n AS (SELECT SUM(n_docs)::BIGINT AS n FROM c)
    SELECT s.clip::DOUBLE AS clip_at,
           ROUND((s.s1::DOUBLE / 1e9) * (s.s1::DOUBLE / 1e9)
                 / (s.s2::DOUBLE / 1e6), 6) AS ess,
           ROUND((s.s1::DOUBLE / 1e9) * (s.s1::DOUBLE / 1e9)
                 / (s.s2::DOUBLE / 1e6) / n.n, 6) AS ess_fraction,
           ROUND(s.s1::DOUBLE / 1e9 / n.n, 6) AS mean_clipped_weight
    FROM s CROSS JOIN n ORDER BY clip_at ASC
    """,
)
def importance_weight_ess(spark, sf_dir):
    """Effective sample size of the uniform-language importance weights
    under clipping at {1, 5, 10} -- the go/no-go gauge for the
    reweighting `mixture_reweight_factors` proposes (Kish 1965: ESS =
    (sum w)^2 / sum w^2; reweighting toward uniform languages is only
    worth it if the ESS it leaves behind still covers the training
    budget, and the clip sweep shows exactly how much ESS each unit of
    clipping buys back at the price of mixture bias -- the knob every
    DSIR-style sampler exposes). Per-language weights are exact
    rationals of corpus counts, so the per-doc sums COLLAPSE to the
    language grain (n_docs * min(w, c) -- the corpus is never
    rescanned per clip); both moment folds are quantized over the
    k-language frame.

    Scale: one corpus scan to the language histogram; the sweep is
    arithmetic on a k x 3 grid."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = c.agg(
        F.sum("n_docs").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    w = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (
            (F.col("t") * F.lit(1.0)) / (F.col("k") * F.col("n_docs"))
        ).alias("wt"),
    )
    clips = spark.range(3).select(
        F.element_at(
            literal_array([1.0, 5.0, 10.0]),
            (F.col("id") + 1).cast("int"),
        ).alias("clip")
    )
    cw = F.least(F.col("wt"), F.col("clip"))
    s = (
        w.crossJoin(F.broadcast(clips))
        .groupBy("clip")
        .agg(
            F.sum(
                F.round(F.lit(1e9) * F.col("n_docs") * cw).cast(
                    "decimal(38,0)"
                )
            ).alias("s1"),
            F.sum(
                F.round(F.lit(1e6) * F.col("n_docs") * cw * cw).cast(
                    "decimal(38,0)"
                )
            ).alias("s2"),
        )
    )
    n = c.agg(F.sum("n_docs").cast("bigint").alias("n"))
    j = s.crossJoin(F.broadcast(n))
    s1 = F.col("s1").cast("double") / F.lit(1e9)
    s2 = F.col("s2").cast("double") / F.lit(1e6)
    return j.select(
        F.col("clip").alias("clip_at"),
        F.round(s1 * s1 / s2, 6).alias("ess"),
        F.round(s1 * s1 / s2 / F.col("n"), 6).alias("ess_fraction"),
        F.round(s1 / F.col("n"), 6).alias("mean_clipped_weight"),
    ).orderBy(F.col("clip_at").asc())
