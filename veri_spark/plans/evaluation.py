"""Statistical evaluation / model-quality operators: ranking AUC, Brier
decomposition, Kaplan-Meier survival, QQ-vs-normal drift, Theil-Sen trend.

These are the measurement half of a training-data pipeline: once the
quality scorers, calibration bins and drift monitors exist (plans/text.py,
plans/pipeline.py), someone has to answer "how good is the scorer as a
RANKER" (AUC), "is its probability meaningful" (Brier/Murphy), "how long
do users survive" (KM), "is the value distribution still normal-ish"
(QQ), and "what is the robust trend" (Theil-Sen). None of these exist in
the reference (it stores and retrieves vectors; veriservice.proto has no
evaluation surface) — they are north-star extensions like SURVEY.md §7
phase 6, built on the same determinism idioms the registry already uses:
exact integer aggregates with ONE final division, in-engine micro-nat
logs only over ratios of exact integers, and Python-precomputed literals
for engine-sensitive constants (the probit grid here, like the nDCG
discounts).

Scale shapes: every query aggregates the corpus to a bounded frame FIRST
(distinct score values, 10 calibration bins, <=31 lifetime days, a
calendar-bounded day grid) and only then runs the ordered/pairwise step —
prefix scans ride operators/ranking.py (no unpartitioned windows), and
the only non-equi joins are triangular folds over calendar-bounded
broadcast frames.

Registered into ``plans._base.QUERIES``/``ORACLES`` at import like every
domain module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions.literals import literal_array
from veri_spark.functions.text import EN_STOPWORDS_SQL  # noqa: F401
from veri_spark.sources.catalog import load_table  # noqa: F401

from veri_spark.plans._base import daily_event_counts, register  # noqa: F401


def _doc_scores(spark, sf_dir):
    """Shared per-doc (y, hits, n) frame for the scorer-evaluation pair:
    y = 1 iff lang = 'en', hits = EN-stopword count, n = token count
    (n > 0). The exact (hits, n) integer rational is the score — callers
    derive doubles/micros from it so both engines quantize identically."""
    from veri_spark.functions.text import EN_STOPWORDS, tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("lang", tokens("text").alias("ws"))
    return t.filter(F.size("ws") > 0).select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(F.filter(F.col("ws"), lambda w: w.isin(*EN_STOPWORDS)))
        .cast("bigint")
        .alias("hits"),
        F.size("ws").cast("bigint").alias("n"),
    )


_DD_DOC_SCORES = f"""
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             len(list_filter(ws, w -> w IN ({EN_STOPWORDS_SQL})))::BIGINT
               AS hits,
             len(ws)::BIGINT AS n
      FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents)
      WHERE len(ws) > 0"""


@register(
    "score_auc_mann_whitney",
    f"""
    WITH s AS ({_DD_DOC_SCORES}),
    sc AS (SELECT y, hits::DOUBLE / n AS score FROM s),
    g AS (SELECT score, SUM(y)::BIGINT AS pos, COUNT(*)::BIGINT AS cnt
          FROM sc GROUP BY score),
    p AS (SELECT score, pos, cnt,
                 SUM(cnt) OVER (ORDER BY score ASC)::BIGINT AS cum_incl
          FROM g),
    t AS (SELECT SUM(pos)::BIGINT AS n_pos,
                 SUM(cnt)::BIGINT AS n_tot,
                 SUM(pos * (2 * (cum_incl - cnt) + cnt + 1))::BIGINT AS r2
          FROM p)
    SELECT n_pos,
           (n_tot - n_pos)::BIGINT AS n_neg,
           ROUND((r2 - n_pos * (n_pos + 1))::DOUBLE
                 / (2.0 * n_pos * (n_tot - n_pos)), 6) AS auc
    FROM t
    """,
)
def score_auc_mann_whitney(spark, sf_dir):
    """ROC AUC of the stopword-ratio language scorer as a RANKER of
    lang='en', via the Mann-Whitney U identity (AUC = P(score_pos >
    score_neg) + P(=)/2) — the threshold-free companion to
    `calibration_reliability_bins`, and the metric that decides whether
    a quality scorer can gate at ALL before anyone argues about the
    threshold. Tie-correct midranks are computed WITHOUT a row-level
    sort: rows collapse to the per-distinct-score (pos, cnt) aggregate
    first, a distributed prefix scan (operators/ranking.global_prefix_agg
    — range partition + ~32-row offset fold, no unpartitioned window)
    orders the score DOMAIN, and the doubled midrank 2*cum_before +
    cnt + 1 keeps every intermediate an exact BIGINT: AUC is ONE double
    division of integers at the end, bit-identical in both engines. The
    score domain (distinct (hits, n) rationals) is vocabulary-sized, not
    corpus-sized; the corpus is touched by exactly one partial-aggregated
    scan. U-statistic magnitudes stay under int64 to ~3e9 documents
    (R2 <= n_pos * 2N)."""
    from veri_spark.operators.ranking import global_prefix_agg

    s = _doc_scores(spark, sf_dir)
    sc = s.select("y", (F.col("hits").cast("double") / F.col("n")).alias("score"))
    g = sc.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("pos"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    p = global_prefix_agg(
        g, [F.col("score").asc()], "cnt", agg="sum", out_col="cum_incl"
    )
    t = p.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("cnt").cast("bigint").alias("n_tot"),
        F.sum(
            F.col("pos")
            * (2 * (F.col("cum_incl") - F.col("cnt")) + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("r2"),
    )
    return t.select(
        "n_pos",
        (F.col("n_tot") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        F.round(
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (F.lit(2.0) * F.col("n_pos") * (F.col("n_tot") - F.col("n_pos"))),
            6,
        ).alias("auc"),
    )


@register(
    "brier_score_decomposition",
    f"""
    WITH s AS ({_DD_DOC_SCORES}),
    b AS (SELECT y,
                 CAST(round(1e6 * hits / n) AS BIGINT) AS s_micro,
                 LEAST((10 * hits) // n, 9)::INT AS bin
          FROM s),
    tot AS (SELECT COUNT(*)::BIGINT AS nn, SUM(y)::BIGINT AS p,
                   SUM(s_micro)::BIGINT AS ssum,
                   SUM(s_micro * s_micro)::BIGINT AS ss2,
                   SUM(s_micro * y)::BIGINT AS ssy
            FROM b),
    bins AS (SELECT bin, COUNT(*)::BIGINT AS n_b, SUM(y)::BIGINT AS p_b,
                    SUM(s_micro)::BIGINT AS s_b,
                    SUM(s_micro * s_micro)::BIGINT AS s2_b,
                    SUM(s_micro * y)::BIGINT AS sy_b
             FROM b GROUP BY bin),
    terms AS (
      SELECT CAST(round(1e9 * (n_b * ((s_b::DOUBLE / (1e6 * n_b)
                                  - p_b::DOUBLE / n_b)
                                 * (s_b::DOUBLE / (1e6 * n_b)
                                    - p_b::DOUBLE / n_b))
                          / tot.nn)) AS BIGINT) AS rel_nano,
             CAST(round(1e9 * (n_b * ((p_b::DOUBLE / n_b
                                        - tot.p::DOUBLE / tot.nn)
                                       * (p_b::DOUBLE / n_b
                                          - tot.p::DOUBLE / tot.nn))
                          / tot.nn)) AS BIGINT) AS res_nano,
             CAST(round(1e9 * ((s2_b::DOUBLE / 1e12
                                - (s_b::DOUBLE / 1e6)
                                  * (s_b::DOUBLE / 1e6) / n_b)
                          / tot.nn)) AS BIGINT) AS wbv_nano,
             CAST(round(1e9 * ((sy_b::DOUBLE / 1e6
                                - s_b::DOUBLE / 1e6 * p_b / n_b)
                          / tot.nn)) AS BIGINT) AS wbc_nano
      FROM bins CROSS JOIN tot)
    SELECT tot.nn AS n_docs,
           ROUND((tot.ss2 - 2e6 * tot.ssy + 1e12 * tot.p)
                 / (1e12 * tot.nn), 6) AS brier,
           ROUND((tot.p * (tot.nn - tot.p))::DOUBLE
                 / (tot.nn * tot.nn), 6) AS uncertainty,
           ROUND(SUM(res_nano) / 1e9, 6) AS resolution,
           ROUND(SUM(rel_nano) / 1e9, 6) AS reliability,
           ROUND(SUM(wbv_nano) / 1e9, 6) AS within_bin_var,
           ROUND(SUM(wbc_nano) / 1e9, 6) AS within_bin_cov
    FROM terms CROSS JOIN tot
    GROUP BY tot.nn, tot.p, tot.ss2, tot.ssy
    """,
)
def brier_score_decomposition(spark, sf_dir):
    """Murphy decomposition of the Brier score for the stopword-ratio
    pseudo-probability predicting lang='en': brier = uncertainty
    - resolution + reliability over the same 10 fixed bins as
    `calibration_reliability_bins` — reliability is the calibration gap
    the bins DISPLAY, resolution is the discrimination the AUC measures,
    so this one row ties the whole scorer-evaluation family together.
    Determinism: per-doc scores are micro-quantized integers, so the
    global Brier is three exact BIGINT sums (sum s^2, sum s*y, sum y)
    combined in ONE double expression — no float accumulates across
    rows in any order. The per-bin reliability/resolution terms are
    doubles of exact per-bin integers, NANO-quantized per bin and then
    integer-summed over the 10 bins, so the 10-term fold is
    order-proof too (the identity holds to the ~1e-9 quantization).
    sum(s_micro^2) stays under int64 to ~9e6 docs per the 1e12 scale —
    at 100 TB switch that one accumulator to DECIMAL(38,0), plan shape
    unchanged. One corpus scan, a 10-row bin aggregate, a one-row
    output."""
    b = _doc_scores(spark, sf_dir).select(
        "y",
        F.round(F.lit(1e6) * F.col("hits") / F.col("n"))
        .cast("bigint")
        .alias("s_micro"),
        F.least(F.expr("(10 * hits) div n"), F.lit(9)).cast("int").alias("bin"),
    )
    tot = b.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum("y").cast("bigint").alias("p"),
        F.sum("s_micro").cast("bigint").alias("ssum"),
        F.sum(F.col("s_micro") * F.col("s_micro")).cast("bigint").alias("ss2"),
        F.sum(F.col("s_micro") * F.col("y")).cast("bigint").alias("ssy"),
    )
    bins = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("y").cast("bigint").alias("p_b"),
        F.sum("s_micro").cast("bigint").alias("s_b"),
        F.sum(F.col("s_micro") * F.col("s_micro")).cast("bigint").alias("s2_b"),
        F.sum(F.col("s_micro") * F.col("y")).cast("bigint").alias("sy_b"),
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        F.round(
            F.lit(1e9)
            * (
                F.col("n_b")
                * (
                    (
                        F.col("s_b").cast("double")
                        / (F.lit(1e6) * F.col("n_b"))
                        - F.col("p_b").cast("double") / F.col("n_b")
                    )
                    * (
                        F.col("s_b").cast("double")
                        / (F.lit(1e6) * F.col("n_b"))
                        - F.col("p_b").cast("double") / F.col("n_b")
                    )
                )
                / F.col("nn")
            )
        )
        .cast("bigint")
        .alias("rel_nano"),
        F.round(
            F.lit(1e9)
            * (
                F.col("n_b")
                * (
                    (
                        F.col("p_b").cast("double") / F.col("n_b")
                        - F.col("p").cast("double") / F.col("nn")
                    )
                    * (
                        F.col("p_b").cast("double") / F.col("n_b")
                        - F.col("p").cast("double") / F.col("nn")
                    )
                )
                / F.col("nn")
            )
        )
        .cast("bigint")
        .alias("res_nano"),
        F.round(
            F.lit(1e9)
            * (
                (
                    F.col("s2_b").cast("double") / F.lit(1e12)
                    - (F.col("s_b").cast("double") / F.lit(1e6))
                    * (F.col("s_b").cast("double") / F.lit(1e6))
                    / F.col("n_b")
                )
                / F.col("nn")
            )
        )
        .cast("bigint")
        .alias("wbv_nano"),
        F.round(
            F.lit(1e9)
            * (
                (
                    F.col("sy_b").cast("double") / F.lit(1e6)
                    - F.col("s_b").cast("double")
                    / F.lit(1e6)
                    * F.col("p_b")
                    / F.col("n_b")
                )
                / F.col("nn")
            )
        )
        .cast("bigint")
        .alias("wbc_nano"),
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .groupBy("nn", "p", "ss2", "ssy")
        .agg(
            F.sum("res_nano").alias("res_sum"),
            F.sum("rel_nano").alias("rel_sum"),
            F.sum("wbv_nano").alias("wbv_sum"),
            F.sum("wbc_nano").alias("wbc_sum"),
        )
        .select(
            F.col("nn").alias("n_docs"),
            F.round(
                (
                    F.col("ss2")
                    - F.lit(2e6) * F.col("ssy")
                    + F.lit(1e12) * F.col("p")
                )
                / (F.lit(1e12) * F.col("nn")),
                6,
            ).alias("brier"),
            F.round(
                (F.col("p") * (F.col("nn") - F.col("p"))).cast("double")
                / (F.col("nn") * F.col("nn")),
                6,
            ).alias("uncertainty"),
            F.round(F.col("res_sum") / F.lit(1e9), 6).alias("resolution"),
            F.round(F.col("rel_sum") / F.lit(1e9), 6).alias("reliability"),
            F.round(F.col("wbv_sum") / F.lit(1e9), 6).alias("within_bin_var"),
            F.round(F.col("wbc_sum") / F.lit(1e9), 6).alias("within_bin_cov"),
        )
    )


@register(
    "kaplan_meier_time_to_purchase",
    """
    WITH u AS (SELECT user_id,
                      MIN(epoch_us(ts::TIMESTAMP)) AS fu,
                      MIN(CASE WHEN event_type = 'purchase'
                               THEN epoch_us(ts::TIMESTAMP) END) AS pu,
                      MAX(epoch_us(ts::TIMESTAMP)) AS lu
               FROM events GROUP BY user_id),
    uu AS (SELECT CASE WHEN pu IS NOT NULL
                            AND (pu - fu) // 3600000000 < 48
                       THEN (pu - fu) // 3600000000
                       ELSE LEAST(48, (lu - fu) // 3600000000)
                  END::BIGINT AS t,
                  CASE WHEN pu IS NOT NULL
                            AND (pu - fu) // 3600000000 < 48
                       THEN 1 ELSE 0 END AS e
           FROM u),
    d AS (SELECT t, SUM(e)::BIGINT AS d_t, SUM(1 - e)::BIGINT AS c_t,
                 COUNT(*)::BIGINT AS m_t
          FROM uu GROUP BY t),
    r AS (SELECT t, d_t, c_t,
                 SUM(m_t) OVER (ORDER BY t DESC)::BIGINT AS n_t
          FROM d),
    k AS (SELECT t, d_t, c_t, n_t,
                 CAST(FLOOR(1e6 * LN((n_t - d_t)::DOUBLE / n_t) + 0.5)
                      AS BIGINT) AS step_micro
          FROM r WHERE d_t > 0 AND n_t > d_t)
    SELECT t AS t_hours, n_t AS n_at_risk, d_t AS n_events,
           c_t AS n_censored_at,
           CAST(round(1e6 * d_t / n_t) AS BIGINT) AS hazard_micro,
           SUM(step_micro) OVER (ORDER BY t ASC)::BIGINT
             AS log_surv_micro_nats
    FROM k ORDER BY t_hours ASC
    """,
)
def kaplan_meier_time_to_purchase(spark, sf_dir):
    """Kaplan-Meier estimate of TIME TO FIRST PURCHASE (hours from a
    user's first event), right-censored at a 48-hour horizon or at the
    user's last observed event, whichever comes first — the standard
    incomplete-observation correction a naive conversion-lag histogram
    gets wrong (users who never purchased still carry information: they
    survived AT LEAST as long as they were watched), and the curve
    activation/conversion planning reads. Output: one row per event
    time with the risk set, conversions, censored count, the discrete
    hazard d/n, and the KM log-survival as EXACT INTEGER micro-nats
    (sum of floor(1e6*ln((n-d)/n)+0.5) steps — ln of a ratio of exact
    BIGINTs, the WoE/MI idiom; survival itself is exp(micro/1e6), left
    to the reader because exp is not correctly-rounded-guaranteed
    cross-engine). Hour arithmetic is exact integer MICROSECOND
    division (the events_interarrival idiom — unix_micros/epoch_us,
    never unix_timestamp's second truncation). Scale shape: the corpus
    collapses to one row per user (one partial-aggregated shuffle),
    then to one row per distinct event HOUR — bounded by the 48-hour
    horizon, not the data — so the risk-set suffix sum and the
    log-survival prefix sum are triangular folds over a
    horizon-bounded broadcast frame; no window function touches
    anything corpus-sized. Steps where the whole remaining risk set
    converts (n_t = d_t, log S = -inf) are excluded deterministically
    in both engines."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("fu"),
        F.min(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("pu"),
        F.max(us).alias("lu"),
    )
    HOUR_US = 3600000000
    h_p = F.expr(f"(pu - fu) div {HOUR_US}")
    h_l = F.expr(f"(lu - fu) div {HOUR_US}")
    converted = F.col("pu").isNotNull() & (h_p < 48)
    uu = u.select(
        F.when(converted, h_p)
        .otherwise(F.least(F.lit(48).cast("bigint"), h_l))
        .cast("bigint")
        .alias("t"),
        F.when(converted, 1).otherwise(0).alias("e"),
    )
    d = uu.groupBy("t").agg(
        F.sum("e").cast("bigint").alias("d_t"),
        F.sum(1 - F.col("e")).cast("bigint").alias("c_t"),
        F.count(F.lit(1)).cast("bigint").alias("m_t"),
    )
    # suffix risk set over the <=49-hour frame: triangular broadcast fold
    # (deliberately not a window — the frame is horizon-bounded)
    other = d.select(F.col("t").alias("t2"), F.col("m_t").alias("m2"))
    r = (
        d.join(F.broadcast(other), F.col("t2") >= F.col("t"))
        .groupBy("t", "d_t", "c_t")
        .agg(F.sum("m2").cast("bigint").alias("n_t"))
    )
    k = r.filter((F.col("d_t") > 0) & (F.col("n_t") > F.col("d_t"))).select(
        "t",
        "d_t",
        "c_t",
        "n_t",
        F.floor(
            F.lit(1e6)
            * F.log((F.col("n_t") - F.col("d_t")).cast("double") / F.col("n_t"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("step_micro"),
    )
    ks = k.select(F.col("t").alias("t3"), F.col("step_micro").alias("s3"))
    out = (
        k.join(F.broadcast(ks), F.col("t3") <= F.col("t"))
        .groupBy("t", "n_t", "d_t", "c_t")
        .agg(F.sum("s3").cast("bigint").alias("log_surv_micro_nats"))
    )
    return out.select(
        F.col("t").alias("t_hours"),
        F.col("n_t").alias("n_at_risk"),
        F.col("d_t").alias("n_events"),
        F.col("c_t").alias("n_censored_at"),
        F.round(F.lit(1e6) * F.col("d_t") / F.col("n_t"))
        .cast("bigint")
        .alias("hazard_micro"),
        "log_surv_micro_nats",
    ).orderBy(F.col("t_hours").asc())


# Probit (inverse standard-normal CDF) values for the QQ grid, micro-
# quantized Python literals (the nDCG/Benford rule: engine math libraries
# are not correctly-rounded-guaranteed, so z_p is NEVER computed in-engine).
# Defining formula, pinned by tests/test_round8_eval.py: Acklam's rational
# approximation (max abs error ~1.15e-9, three decimal orders inside the
# 1e-6 grid), z_micro = round(probit(p) * 1e6).
_QQ_GRID = [
    (1, -2326348),
    (5, -1644854),
    (10, -1281552),
    (25, -674490),
    (50, 0),
    (75, 674490),
    (90, 1281552),
    (95, 1644854),
    (99, 2326348),
]

_QQ_PS_SQL = ", ".join(f"{p / 100.0!r}" for p, _ in _QQ_GRID)
_QQ_ROWS_SQL = ", ".join(f"({i + 1}, {p}, {z})" for i, (p, z) in enumerate(_QQ_GRID))


@register(
    "value_qq_normal_audit",
    f"""
    WITH m AS (
      SELECT COUNT(*)::BIGINT AS nn,
             SUM(CAST(value AS DECIMAL(28,10)))::DOUBLE AS s1,
             SUM(CAST(value * value AS DECIMAL(38,10)))::DOUBLE AS s2
      FROM events),
    q AS (SELECT quantile_cont(value, [{_QQ_PS_SQL}]::DOUBLE[]) AS qs FROM events),
    e AS (SELECT unnest(q.qs) AS emp_q, generate_subscripts(q.qs, 1) AS i
          FROM q),
    g AS (SELECT * FROM (VALUES {_QQ_ROWS_SQL}) AS v(i, p_pct, z_theo_micro))
    SELECT g.p_pct::INT AS p_pct,
           g.z_theo_micro::BIGINT AS z_theo_micro,
           ROUND(e.emp_q, 6) AS emp_q,
           CAST(round(1e6 * (e.emp_q - m.s1 / m.nn)
                      / sqrt(m.s2 / m.nn - (m.s1 / m.nn) * (m.s1 / m.nn)))
                AS BIGINT) AS emp_z_micro
    FROM e JOIN g ON g.i = e.i CROSS JOIN m
    ORDER BY p_pct ASC
    """,
)
def value_qq_normal_audit(spark, sf_dir):
    """QQ-plot-against-normal audit of the event value distribution: the
    empirical quantiles at 9 probability points vs the standard-normal
    quantiles (probit literals), both standardized by the sample
    mean/std — the distribution-shape drift monitor that catches what a
    mean/variance check cannot (skew, heavy tails, truncation), read as
    'emp_z_micro tracks z_theo_micro iff the data is normal'. Probit
    values are Python-precomputed micro literals injected into BOTH
    engines (the nDCG rule — never in-engine); mean/std come from EXACT
    per-row decimal casts summed order-insensitively (the value_moments
    idiom) with sqrt (IEEE-correctly-rounded) applied once; empirical
    quantiles use the identical linear-interpolation rule in both
    engines (the events_value_quantiles precedent). One corpus scan for
    moments + one percentile aggregate; the 9-point grid is a literal
    broadcast."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,10)"))
        .cast("double")
        .alias("s2"),
    )
    ps = [p / 100.0 for p, _ in _QQ_GRID]
    q = ev.agg(
        F.percentile("value", literal_array(ps)).alias("qs")
    )
    e = q.select(F.posexplode("qs").alias("pos", "emp_q"))
    g = spark.createDataFrame(
        [(i, p, z) for i, (p, z) in enumerate(_QQ_GRID)],
        "pos int, p_pct int, z_theo_micro bigint",
    )
    mean = F.col("s1") / F.col("nn")
    std = F.sqrt(F.col("s2") / F.col("nn") - mean * mean)
    return (
        e.join(F.broadcast(g), "pos")
        .crossJoin(F.broadcast(m))
        .select(
            "p_pct",
            "z_theo_micro",
            F.round("emp_q", 6).alias("emp_q"),
            F.round(F.lit(1e6) * (F.col("emp_q") - mean) / std)
            .cast("bigint")
            .alias("emp_z_micro"),
        )
        .orderBy(F.col("p_pct").asc())
    )


@register(
    "theil_sen_daily_trend",
    """
    WITH d0 AS (SELECT MIN(ts::DATE) AS day0 FROM events),
    d AS (SELECT date_diff('day', d0.day0, ts::DATE)::BIGINT AS x,
                 COUNT(*)::BIGINT AS y
          FROM events CROSS JOIN d0 GROUP BY 1),
    pr AS (SELECT a.x AS xi, b.x AS xj,
                  (b.y - a.y)::DOUBLE / (b.x - a.x) AS slope
           FROM d a JOIN d b ON b.x > a.x),
    np AS (SELECT COUNT(*)::BIGINT AS n_pairs FROM pr),
    rk AS (SELECT slope,
                  row_number() OVER (ORDER BY slope ASC, xi ASC, xj ASC)
                    AS rn
           FROM pr),
    med AS (SELECT 0.5 * (MAX(CASE WHEN rn = (np.n_pairs + 1) // 2
                                   THEN slope END)
                          + MAX(CASE WHEN rn = (np.n_pairs + 2) // 2
                                     THEN slope END)) AS ts_slope,
                   MAX(np.n_pairs) AS n_pairs
            FROM rk CROSS JOIN np),
    ols AS (SELECT COUNT(*)::BIGINT AS nd, SUM(x)::BIGINT AS sx,
                   SUM(y)::BIGINT AS sy, SUM(x * y)::BIGINT AS sxy,
                   SUM(x * x)::BIGINT AS sxx
            FROM d)
    SELECT ols.nd AS n_days, med.n_pairs,
           ROUND(med.ts_slope, 6) AS theil_sen_slope,
           ROUND((ols.nd * ols.sxy - ols.sx * ols.sy)::DOUBLE
                 / (ols.nd * ols.sxx - ols.sx * ols.sx), 6) AS ols_slope
    FROM med CROSS JOIN ols
    """,
)
def theil_sen_daily_trend(spark, sf_dir):
    """Theil-Sen robust trend of daily event volume — the median of all
    pairwise slopes, the estimator that shrugs off the outlier days that
    yank an OLS fit (reported alongside for the contrast). Scale shape:
    the corpus collapses to the CALENDAR-bounded daily-count frame first
    (one partial-aggregated scan), so the pairwise slope set is
    days-choose-2 — bounded by the time range, never by data volume
    (~6.6M pairs even for a 10-year window) — built as a broadcast
    triangular join; the median comes from the distributed rank
    (operators/ranking.global_row_number) with the standard
    even/odd-count average of the two middle order statistics, never an
    unpartitioned window. Determinism: slopes are single IEEE divisions
    of exact integer (count, day) deltas, ordered with full (slope, i,
    j) tie-breaks; the OLS slope is one double division of exact BIGINT
    moment sums."""
    from veri_spark.operators.ranking import global_row_number

    d = daily_event_counts(spark, sf_dir)
    a = d.select(F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = d.select(F.col("x").alias("xj"), F.col("y").alias("yj"))
    pr = a.join(F.broadcast(b), F.col("xj") > F.col("xi")).select(
        "xi",
        "xj",
        (
            (F.col("yj") - F.col("yi")).cast("double")
            / (F.col("xj") - F.col("xi"))
        ).alias("slope"),
    )
    np_ = pr.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    rk = global_row_number(
        pr, [F.col("slope").asc(), F.col("xi").asc(), F.col("xj").asc()],
        rn_col="rn",
    )
    med = (
        rk.crossJoin(F.broadcast(np_))
        .groupBy()
        .agg(
            (
                F.lit(0.5)
                * (
                    F.max(
                        F.when(
                            F.col("rn")
                            == F.floor((F.col("n_pairs") + 1) / 2),
                            F.col("slope"),
                        )
                    )
                    + F.max(
                        F.when(
                            F.col("rn")
                            == F.floor((F.col("n_pairs") + 2) / 2),
                            F.col("slope"),
                        )
                    )
                )
            ).alias("ts_slope"),
            F.max("n_pairs").alias("n_pairs"),
        )
    )
    ols = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return med.crossJoin(F.broadcast(ols)).select(
        F.col("nd").alias("n_days"),
        "n_pairs",
        F.round("ts_slope", 6).alias("theil_sen_slope"),
        F.round(
            (F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("ols_slope"),
    )


@register(
    "hourly_seasonal_naive_mase",
    """
    WITH b AS (SELECT MIN(epoch_us(ts::TIMESTAMP)) AS us0 FROM events),
    h AS (SELECT (epoch_us(ts::TIMESTAMP) - b.us0) // 3600000000 AS hr,
                 COUNT(*)::BIGINT AS y
          FROM events CROSS JOIN b GROUP BY 1),
    mx AS (SELECT MAX(hr)::BIGINT AS maxh FROM h),
    grid AS (SELECT unnest(range(0, mx.maxh + 1)) AS hr FROM mx),
    g AS (SELECT grid.hr, COALESCE(h.y, 0)::BIGINT AS y
          FROM grid LEFT JOIN h ON h.hr = grid.hr),
    m AS (SELECT SUM(ABS(a.y - s.y))::BIGINT AS sae_seasonal,
                 COUNT(*)::BIGINT AS n_seasonal
          FROM g a JOIN g s ON s.hr = a.hr - 24),
    n1 AS (SELECT SUM(ABS(a.y - p.y))::BIGINT AS sae_naive,
                  COUNT(*)::BIGINT AS n_naive
           FROM g a JOIN g p ON p.hr = a.hr - 1)
    SELECT (SELECT maxh + 1 FROM mx)::BIGINT AS n_hours,
           m.sae_seasonal, m.n_seasonal, n1.sae_naive, n1.n_naive,
           ROUND(m.sae_seasonal::DOUBLE / m.n_seasonal, 6) AS mae_seasonal,
           ROUND(n1.sae_naive::DOUBLE / n1.n_naive, 6) AS mae_naive,
           ROUND((m.sae_seasonal * n1.n_naive)::DOUBLE
                 / (n1.sae_naive * m.n_seasonal), 6) AS mase
    FROM m CROSS JOIN n1
    """,
)
def hourly_seasonal_naive_mase(spark, sf_dir):
    """MASE (mean absolute scaled error, Hyndman-Koehler 2006) of the
    SEASONAL-NAIVE forecast y_hat(t) = y(t-24h) on the dense hourly
    event-count series, scaled by the one-step naive baseline — the
    forecast-accuracy floor every demand model must beat, and the
    scale-free number that says whether the series even HAS exploitable
    daily seasonality (MASE < 1: the 24h lag beats persistence). The
    hour grid is DENSE (missing hours count 0 — a forecast audit that
    silently skips empty hours flatters itself), derived from exact
    integer microsecond division off the global origin; both error sums
    are exact BIGINTs of |int - int|, so the MASE is ONE cross-ratio
    (sae_s * n_1) / (sae_1 * n_s) of four exact integers. Scale shape:
    the corpus collapses to the calendar-bounded hourly frame in one
    partial-aggregated scan; the lag joins are equi-joins on the tiny
    grid, never windows over anything corpus-sized."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = ev.agg(F.min(us).alias("us0"))
    h = (
        ev.crossJoin(F.broadcast(b))
        .groupBy(
            F.expr(
                "(unix_micros(cast(ts as timestamp)) - us0) div 3600000000"
            ).alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    mx = h.agg(F.max("hr").cast("bigint").alias("maxh"))
    grid = mx.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("maxh"))).alias("hr")
    )
    g = grid.join(h, "hr", "left").select(
        "hr", F.coalesce("y", F.lit(0)).cast("bigint").alias("y")
    )
    a = g.select(F.col("hr").alias("ha"), F.col("y").alias("ya"))

    def lag_err(k: int, sae: str, cnt: str):
        p = g.select((F.col("hr") + k).alias("ha"), F.col("y").alias("yp"))
        return a.join(p, "ha").agg(
            F.sum(F.abs(F.col("ya") - F.col("yp"))).cast("bigint").alias(sae),
            F.count(F.lit(1)).cast("bigint").alias(cnt),
        )

    m = lag_err(24, "sae_seasonal", "n_seasonal")
    n1 = lag_err(1, "sae_naive", "n_naive")
    return (
        mx.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(n1))
        .select(
            (F.col("maxh") + 1).cast("bigint").alias("n_hours"),
            "sae_seasonal",
            "n_seasonal",
            "sae_naive",
            "n_naive",
            F.round(
                F.col("sae_seasonal").cast("double") / F.col("n_seasonal"), 6
            ).alias("mae_seasonal"),
            F.round(F.col("sae_naive").cast("double") / F.col("n_naive"), 6).alias(
                "mae_naive"
            ),
            F.round(
                (F.col("sae_seasonal") * F.col("n_naive")).cast("double")
                / (F.col("sae_naive") * F.col("n_seasonal")),
                6,
            ).alias("mase"),
        )
    )


@register(
    "markov_entropy_rate",
    """
    WITH o AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    tr AS (SELECT cur, nxt, COUNT(*)::BIGINT AS n_st
           FROM o WHERE nxt IS NOT NULL GROUP BY cur, nxt),
    rs AS (SELECT cur, SUM(n_st)::BIGINT AS n_s FROM tr GROUP BY cur),
    tot AS (SELECT SUM(n_st)::BIGINT AS n, COUNT(*)::BIGINT AS n_cells
            FROM tr),
    w AS (SELECT tr.n_st,
                 CAST(FLOOR(1e6 * LN(tr.n_st::DOUBLE / rs.n_s) + 0.5)
                      AS BIGINT) AS w_micro
          FROM tr JOIN rs ON rs.cur = tr.cur)
    SELECT (SELECT COUNT(*) FROM rs)::BIGINT AS n_states,
           tot.n AS n_transitions, tot.n_cells,
           ROUND(-SUM(w.n_st * w.w_micro)::DOUBLE / (tot.n * 1e6), 6)
             AS entropy_rate_nats
    FROM w CROSS JOIN tot GROUP BY tot.n, tot.n_cells
    """,
)
def markov_entropy_rate(spark, sf_dir):
    """Entropy rate of the user-journey Markov chain: H = -sum_st
    pi(s) P(t|s) ln P(t|s) with the empirical transition counts as the
    chain — the single number that says how PREDICTABLE the next event
    is (0 = deterministic funnels, ln(n_states) = uniform chaos), the
    information-theoretic summary of the matrix `event_transition_matrix`
    tabulates and the ceiling on `markov_prediction_accuracy`. With
    pi taken as the empirical row mass, H reduces to
    -(1/N) sum_st n_st * ln(n_st / n_s): each cell's log-ratio of exact
    BIGINTs is micro-nat quantized in-engine (the WoE/MI idiom), the
    weighted sum is an exact integer, and the rate is ONE division.
    One user-partitioned lead (single shuffle), a (state x state)-
    bounded cell aggregate — scale-free after the first reduce."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wo).alias("nxt"),
    )
    tr = (
        o.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_st"))
    )
    rs = tr.groupBy("cur").agg(F.sum("n_st").cast("bigint").alias("n_s"))
    tot = tr.agg(
        F.sum("n_st").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    ns = rs.agg(F.count(F.lit(1)).cast("bigint").alias("n_states"))
    w = tr.join(F.broadcast(rs), "cur").select(
        "n_st",
        F.floor(
            F.lit(1e6)
            * F.log(F.col("n_st").cast("double") / F.col("n_s"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    s = w.agg(F.sum(F.col("n_st") * F.col("w_micro")).alias("ws"))
    return (
        ns.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(s))
        .select(
            "n_states",
            F.col("n").alias("n_transitions"),
            "n_cells",
            F.round(
                -F.col("ws").cast("double") / (F.col("n") * F.lit(1e6)), 6
            ).alias("entropy_rate_nats"),
        )
    )


@register(
    "orders_little_law_audit",
    """
    WITH done AS (
      SELECT o.o_orderkey, o.o_orderdate::DATE AS od,
             MAX(l.l_shipdate)::DATE AS dd
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate),
    b AS (SELECT MIN(od) AS d0, MAX(dd) AS d1 FROM done),
    days AS (SELECT date_diff('day', b.d0, done.od)::BIGINT AS ad,
                    date_diff('day', b.d0, done.dd)::BIGINT AS cd,
                    date_diff('day', b.d0, b.d1)::BIGINT AS dmax
             FROM done CROSS JOIN b),
    arr AS (SELECT ad AS d, COUNT(*)::BIGINT AS a FROM days GROUP BY ad),
    dep AS (SELECT cd AS d, COUNT(*)::BIGINT AS c FROM days GROUP BY cd),
    grid AS (SELECT unnest(range(0, (SELECT MAX(dmax) FROM days) + 1)) AS d),
    cell AS (SELECT grid.d, COALESCE(arr.a, 0)::BIGINT AS a,
                    COALESCE(dep.c, 0)::BIGINT AS c
             FROM grid LEFT JOIN arr ON arr.d = grid.d
                       LEFT JOIN dep ON dep.d = grid.d),
    run AS (SELECT d,
                   SUM(a) OVER (ORDER BY d ASC)::BIGINT AS cum_a,
                   SUM(c) OVER (ORDER BY d ASC)::BIGINT AS cum_c
            FROM cell),
    win AS (SELECT 90::BIGINT AS t1,
                   (SELECT MAX(dmax) FROM days) - 90 AS t2),
    li AS (SELECT SUM(run.cum_a - run.cum_c)::BIGINT AS bl_sum,
                  COUNT(*)::BIGINT AS n_days
           FROM run CROSS JOIN win
           WHERE run.d >= win.t1 AND run.d <= win.t2),
    lam AS (SELECT COUNT(*)::BIGINT AS n_arr,
                   SUM(days.cd - days.ad)::BIGINT AS w_sum
            FROM days CROSS JOIN win
            WHERE days.ad >= win.t1 AND days.ad <= win.t2)
    SELECT li.n_days AS window_days, lam.n_arr AS n_orders_arrived,
           ROUND(li.bl_sum::DOUBLE / li.n_days, 6) AS avg_backlog,
           ROUND(lam.n_arr::DOUBLE / li.n_days, 6) AS lambda_per_day,
           ROUND(lam.w_sum::DOUBLE / lam.n_arr, 6) AS avg_wait_days,
           ROUND(li.bl_sum::DOUBLE / li.n_days
                 / (lam.n_arr::DOUBLE / li.n_days
                    * (lam.w_sum::DOUBLE / lam.n_arr)), 6) AS little_ratio
    FROM li CROSS JOIN lam
    """,
)
def orders_little_law_audit(spark, sf_dir):
    """Little's law audit on the order pipeline: over an interior window
    (edges trimmed by 90 days to damp boundary truncation), the
    day-averaged open-order backlog L must approximate arrival rate
    lambda times mean ship-lag W — the queueing identity that
    validates ANY throughput/latency/backlog dashboard trio (a ratio
    far from 1 means the three metrics are measured over inconsistent
    populations, the classic observability bug). Backlog-by-day is the
    prefix difference of the arrival and completion day-histograms —
    a multi-measure distributed prefix scan
    (operators/ranking.global_prefix_agg: ONE range exchange carries
    both cumulative measures) over the calendar-bounded dense day grid;
    every sum is an exact BIGINT (day indices from exact DATE
    differences), and the three metrics plus the ratio are single
    IEEE divisions at the end. The corpus is touched by one
    orders-lineitem join + two day-grain reduces; everything after is
    calendar-sized at any data scale."""
    from veri_spark.operators.ranking import global_prefix_agg

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    done = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("dd"))
        .select(F.col("o_orderdate").cast("date").alias("od"),
                F.col("dd").cast("date").alias("dd"))
    )
    b = done.agg(F.min("od").alias("d0"), F.max("dd").alias("d1"))
    days = done.crossJoin(F.broadcast(b)).select(
        F.datediff("od", "d0").cast("bigint").alias("ad"),
        F.datediff("dd", "d0").cast("bigint").alias("cd"),
        F.datediff("d1", "d0").cast("bigint").alias("dmax"),
    )
    dmax = days.agg(F.max("dmax").alias("dmax"))
    arr = days.groupBy(F.col("ad").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    dep = days.groupBy(F.col("cd").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = dmax.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("dmax"))).alias("d")
    )
    cell = (
        grid.join(arr, "d", "left")
        .join(dep, "d", "left")
        .select(
            "d",
            F.coalesce("a", F.lit(0)).cast("bigint").alias("a"),
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    run = global_prefix_agg(
        cell, [F.col("d").asc()], ["a", "c"], agg="sum",
        out_col=["cum_a", "cum_c"],
    )
    t2 = F.col("dmax") - 90
    li = (
        run.crossJoin(F.broadcast(dmax))
        .filter((F.col("d") >= 90) & (F.col("d") <= t2))
        .agg(
            F.sum(F.col("cum_a") - F.col("cum_c")).cast("bigint").alias("bl_sum"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
    )
    lam = (
        days.filter((F.col("ad") >= 90) & (F.col("ad") <= F.col("dmax") - 90))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_arr"),
            F.sum(F.col("cd") - F.col("ad")).cast("bigint").alias("w_sum"),
        )
    )
    avg_bl = F.col("bl_sum").cast("double") / F.col("n_days")
    lam_d = F.col("n_arr").cast("double") / F.col("n_days")
    w_d = F.col("w_sum").cast("double") / F.col("n_arr")
    return li.crossJoin(F.broadcast(lam)).select(
        F.col("n_days").alias("window_days"),
        F.col("n_arr").alias("n_orders_arrived"),
        F.round(avg_bl, 6).alias("avg_backlog"),
        F.round(lam_d, 6).alias("lambda_per_day"),
        F.round(w_d, 6).alias("avg_wait_days"),
        F.round(avg_bl / (lam_d * w_d), 6).alias("little_ratio"),
    )


@register(
    "user_lorenz_curve",
    """
    WITH u AS (SELECT user_id, COUNT(*)::BIGINT AS n_ev
               FROM events GROUP BY user_id),
    r AS (SELECT n_ev,
                 ntile(10) OVER (ORDER BY n_ev ASC, user_id ASC) AS decile
          FROM u),
    d AS (SELECT decile, COUNT(*)::BIGINT AS n_users,
                 SUM(n_ev)::BIGINT AS ev
          FROM r GROUP BY decile),
    t AS (SELECT SUM(ev)::BIGINT AS tot FROM d),
    c AS (SELECT d.decile, d.n_users, d.ev,
                 SUM(d.ev) OVER (ORDER BY d.decile ASC)::BIGINT AS cum_ev
          FROM d)
    SELECT c.decile, c.n_users,
           CAST(round(1e6 * c.ev / t.tot) AS BIGINT) AS share_micro,
           CAST(round(1e6 * c.cum_ev / t.tot) AS BIGINT) AS cum_share_micro
    FROM c CROSS JOIN t
    ORDER BY c.decile ASC
    """,
)
def user_lorenz_curve(spark, sf_dir):
    """Lorenz curve of user activity concentration in deciles: each
    activity decile's share of total events and the cumulative share —
    the curve whose integral `customer_spend_gini` summarizes, read
    directly when deciding rate limits, sampling caps, and whether the
    'heavy hitter' mitigation list is ten users or ten thousand. Users
    rank into deciles via the distributed global rank + ntile_from_rank
    (bit-equal to SQL ntile over the (count, user_id) total order, no
    unpartitioned window — |users| grows with the data); the 10-row
    decile frame prefix-folds with a triangular broadcast join; shares
    are micro-quantized single divisions of exact BIGINTs."""
    from veri_spark.operators.ranking import global_row_number, ntile_from_rank

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_ev"))
    tot_u = u.agg(F.count(F.lit(1)).cast("bigint").alias("__tot"))
    r = global_row_number(
        u.crossJoin(F.broadcast(tot_u)),
        [F.col("n_ev").asc(), F.col("user_id").asc()],
        rn_col="__rn",
    ).select(
        "n_ev", ntile_from_rank(F.col("__rn"), F.col("__tot"), 10).alias("decile")
    )
    d = r.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_ev").cast("bigint").alias("ev"),
    )
    t = d.agg(F.sum("ev").cast("bigint").alias("tot"))
    other = d.select(F.col("decile").alias("d2"), F.col("ev").alias("e2"))
    c = (
        d.join(F.broadcast(other), F.col("d2") <= F.col("decile"))
        .groupBy("decile", "n_users", "ev")
        .agg(F.sum("e2").cast("bigint").alias("cum_ev"))
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n_users",
            F.round(F.lit(1e6) * F.col("ev") / F.col("tot"))
            .cast("bigint")
            .alias("share_micro"),
            F.round(F.lit(1e6) * F.col("cum_ev") / F.col("tot"))
            .cast("bigint")
            .alias("cum_share_micro"),
        )
        .orderBy(F.col("decile").asc())
    )


# ---------------------------------------------------------------------------
# Round-8 batch 2: trend significance (Mann-Kendall), rank stability
# (Kendall tau-b), and distribution drift (Jensen-Shannon divergence) —
# the three standard monitors that sit NEXT to the estimators already
# here: theil_sen gives the slope, mann_kendall says whether it is
# significant; rank_footrule measures one displacement, tau-b summarizes
# whole-ranking stability; PSI/KS flag drift, JSD bounds it symmetrically.
# ---------------------------------------------------------------------------




@register(
    "hoover_index_customer_spend",
    """
    WITH s AS (SELECT o_custkey,
                      SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                        AS cents
               FROM orders GROUP BY o_custkey),
    t AS (SELECT COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS tot FROM s)
    SELECT t.n AS n_customers,
           ROUND(SUM(abs(t.n * CAST(s.cents AS DECIMAL(38,0)) - t.tot))::DOUBLE
                 / (2.0 * t.n * t.tot), 6) AS hoover_index
    FROM s CROSS JOIN t GROUP BY t.n, t.tot
    """,
)
def hoover_index_customer_spend(spark, sf_dir):
    """Hoover (Robin Hood) index of revenue concentration: the share of
    total spend that would have to MOVE between customers to equalize
    them — the most interpretable member of the inequality battery
    (`customer_spend_gini` is area-based, `theil_index_decomposition`
    is entropy-based, `atkinson_index_doclen` is welfare-based; Hoover
    is the one an account manager can act on). H = sum |n*x_i - T| /
    (2nT): the numerator is an EXACT integer per customer (no division
    before the fold — the max-vertical-gap-of-Lorenz identity), so H
    is one final division of exact DECIMALs — bit-exact, and unlike
    Gini it needs NO ranking pass at all.

    Scale: one corpus scan to customer grain + one broadcast 2-number
    row + one map-side fold. The cheapest inequality number in the
    repo."""
    o = load_table(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    t = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
    )
    j = s.crossJoin(F.broadcast(t))
    return (
        j.groupBy("n", "tot")
        .agg(
            F.sum(
                F.abs(
                    F.col("n") * F.col("cents").cast("decimal(38,0)")
                    - F.col("tot")
                )
            ).alias("num")
        )
        .select(
            F.col("n").alias("n_customers"),
            F.round(
                F.col("num").cast("double")
                / (F.lit(2.0) * F.col("n") * F.col("tot")),
                6,
            ).alias("hoover_index"),
        )
    )


@register(
    "palma_ratio_customer_spend",
    """
    WITH s AS (SELECT o_custkey,
                      SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                        AS cents
               FROM orders GROUP BY o_custkey),
    r AS (SELECT cents,
                 row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
          FROM s),
    t AS (SELECT COUNT(*)::BIGINT AS n FROM s),
    agg AS (SELECT SUM(CASE WHEN r.i <= (4 * t.n) // 10
                            THEN r.cents ELSE 0 END)::BIGINT AS bot40,
                   SUM(CASE WHEN r.i > t.n - t.n // 10
                            THEN r.cents ELSE 0 END)::BIGINT AS top10,
                   MAX(t.n)::BIGINT AS n
            FROM r CROSS JOIN t)
    SELECT n AS n_customers, bot40 AS bottom40_cents, top10 AS top10_cents,
           ROUND(top10::DOUBLE / bot40, 6) AS palma_ratio
    FROM agg
    """,
)
def palma_ratio_customer_spend(spark, sf_dir):
    """Palma ratio of customer spend: top-10% share over bottom-40%
    share — the inequality readout built on the empirical fact that
    the middle 50% share is stable, so ALL the action is in the tails
    (Palma 2011; the number development economists quote when Gini's
    mid-distribution sensitivity blurs the story). Cutoffs are exact
    integer ranks (floor(0.4n), n - floor(0.1n)) over the distributed
    global ranking, tail sums are exact integer cents, and the ratio
    is one final division.

    Scale: customer-grain aggregate + the two-pass global_row_number
    (no single-task sort), then one conditional fold."""
    from veri_spark.operators.ranking import global_row_number

    o = load_table(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    r = global_row_number(
        s, [F.col("cents").asc(), F.col("o_custkey").asc()], rn_col="i"
    )
    t = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = r.crossJoin(F.broadcast(t))
    agg = j.agg(
        F.sum(
            F.when(
                F.col("i") <= F.floor(4 * F.col("n") / 10), F.col("cents")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("bot40"),
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.floor(F.col("n") / 10),
                F.col("cents"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("top10"),
        F.max("n").cast("bigint").alias("n"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.col("bot40").alias("bottom40_cents"),
        F.col("top10").alias("top10_cents"),
        F.round(F.col("top10").cast("double") / F.col("bot40"), 6).alias(
            "palma_ratio"
        ),
    )


@register(
    "weibull_shape_time_to_purchase",
    """
    WITH u AS (SELECT user_id,
                      MIN(epoch_us(ts::TIMESTAMP)) AS fu,
                      MIN(CASE WHEN event_type = 'purchase'
                               THEN epoch_us(ts::TIMESTAMP) END) AS pu
               FROM events GROUP BY user_id),
    d AS (SELECT ((pu - fu) // 3600000000 + 1)::BIGINT AS t
          FROM u WHERE pu IS NOT NULL),
    g AS (SELECT t, COUNT(*)::BIGINT AS c FROM d GROUP BY t),
    r AS (SELECT t, c, SUM(c) OVER (ORDER BY t ASC)::BIGINT AS cc FROM g),
    n AS (SELECT SUM(c)::BIGINT AS n FROM g),
    obs AS (SELECT r.t, unnest(generate_series(r.cc - r.c + 1, r.cc)) AS i
            FROM r),
    xy AS (SELECT CAST(FLOOR(1e6 * ln(obs.t::DOUBLE) + 0.5) AS BIGINT) AS x,
                  CAST(FLOOR(1e6 * ln(-ln(1.0 - (obs.i - 0.3)
                                                / (n.n + 0.4))) + 0.5)
                       AS BIGINT) AS y
           FROM obs CROSS JOIN n),
    s AS (SELECT COUNT(*)::BIGINT AS m,
                 SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
                 SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
                 SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
                 SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
          FROM xy)
    SELECT m AS n_uncensored,
           ROUND((m * sxy::DOUBLE - sx::DOUBLE * sy)
                 / (m * sxx::DOUBLE - sx::DOUBLE * sx), 6) AS weibull_shape,
           ROUND((m * sxy::DOUBLE - sx::DOUBLE * sy)
                 * (m * sxy::DOUBLE - sx::DOUBLE * sy)
                 / ((m * sxx::DOUBLE - sx::DOUBLE * sx)
                    * (m * syy::DOUBLE - sy::DOUBLE * sy)), 6) AS fit_r2
    FROM s
    """,
)
def weibull_shape_time_to_purchase(spark, sf_dir):
    """Weibull shape parameter of time-to-first-purchase by median-rank
    regression (Benard's approximation) — the PARAMETRIC completion of
    the survival battery: `kaplan_meier_time_to_purchase` is
    distribution-free, but capacity planning wants the one-parameter
    verdict shape < 1 (conversion hazard decays — convert-early-or-
    never) vs shape > 1 (hazard grows — slow-burn converters). Fit:
    ln(-ln(1 - F_i)) on ln(t_i) over the uncensored conversion lags
    (+1 hour so ln is defined at lag 0), F_i = (i - 0.3)/(n + 0.4).
    Both coordinates are micro-quantized to exact integers BEFORE the
    regression (the tfidf ln discipline), so the five OLS sums fold
    exactly and slope/r^2 are fixed-order doubles of integers.

    Scale: user-grain scan -> hour-grain lag frame (<= 48 distinct
    values); the per-observation rank explode is bounded by the
    uncensored count and exists only to realize Benard's per-rank
    plotting positions; the prefix scan rides the tiny t frame."""
    from veri_spark.operators.ranking import global_prefix_agg

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("fu"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.unix_micros(F.col("ts").cast("timestamp")),
            )
        ).alias("pu"),
    )
    d = u.filter(F.col("pu").isNotNull()).select(
        (
            F.floor((F.col("pu") - F.col("fu")) / 3600000000) + 1
        ).cast("bigint").alias("t")
    )
    g = d.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    r = global_prefix_agg(g, [F.col("t").asc()], "c", out_col="cc")
    n = g.agg(F.sum("c").cast("bigint").alias("n"))
    obs = r.select(
        "t",
        F.explode(
            F.sequence(F.col("cc") - F.col("c") + 1, F.col("cc"))
        ).alias("i"),
    )
    xy = obs.crossJoin(F.broadcast(n)).select(
        F.floor(F.lit(1e6) * F.log(F.col("t").cast("double")) + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.floor(
            F.lit(1e6)
            * F.log(
                -F.log(
                    F.lit(1.0)
                    - (F.col("i") - F.lit(0.3)) / (F.col("n") + F.lit(0.4))
                )
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    m = F.col("m")
    num = m * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    )
    dxx = m * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    )
    dyy = m * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    )
    return s.select(
        m.alias("n_uncensored"),
        F.round(num / dxx, 6).alias("weibull_shape"),
        F.round(num * num / (dxx * dyy), 6).alias("fit_r2"),
    )
