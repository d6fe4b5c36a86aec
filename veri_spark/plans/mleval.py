"""Binary-classifier evaluation panel (round 11): threshold sweeps,
exact ROC operating points (Youden J, KS separation, cost-optimal
cutoff), balanced accuracy, and per-bin log-loss.

The running example scores events by `value` against the label
"event_type = purchase" (the same scorer/label pair
`score_auc_mann_whitney` ranks and `decision_stump_value_purchase`
splits): AUC says how well the scorer ORDERS; this panel says what
happens at an actual CUTOFF -- the numbers a gate owner needs before
shipping a threshold. The language-ID panel rides the stopword-ratio
scorer from `lang_id_heuristic`/`calibration_reliability_bins`.

Frame discipline: operating points are computed EXACTLY over the value
DOMAIN (per-distinct-value class counts + distributed prefix scans --
the score_auc/KW idiom), never over a sampled threshold grid, and
argmax/argmin selections compare INTEGER cross-products (J and KS
numerators clear denominators first) so no float tie can diverge
cross-engine; selections ride orderBy().limit(1) (TakeOrdered).

Registered into ``plans._base.QUERIES``/``ORACLES`` at import like
every other domain module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions.literals import literal_array
from veri_spark.operators.ranking import global_prefix_agg
from veri_spark.sources.catalog import load_table

from veri_spark.plans._base import register

# per-distinct-value positive/negative counts + exclusive prefix sums +
# totals: the exact-ROC frame every operating-point query below shares.
_ROC_SQL = """
    e AS (SELECT value,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS pos
          FROM events),
    g AS (SELECT value, SUM(pos)::BIGINT AS pc,
                 SUM(1 - pos)::BIGINT AS nc
          FROM e GROUP BY value),
    t AS (SELECT SUM(pc)::BIGINT AS p, SUM(nc)::BIGINT AS n FROM g),
    r AS (SELECT value, pc, nc,
                 SUM(pc) OVER (ORDER BY value ASC) - pc AS cp,
                 SUM(nc) OVER (ORDER BY value ASC) - nc AS cn,
                 SUM(pc) OVER (ORDER BY value ASC) AS cpi,
                 SUM(nc) OVER (ORDER BY value ASC) AS cni
          FROM g)
"""


def _roc_frame(spark, sf_dir):
    """(value, pc, nc, cp, cn, cpi, cni) + broadcastable totals (p, n):
    exclusive/inclusive class-count prefix scans over the value domain."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    g = e.groupBy("value").agg(
        F.sum("pos").cast("bigint").alias("pc"),
        F.sum(F.lit(1) - F.col("pos")).cast("bigint").alias("nc"),
    )
    t = g.agg(
        F.sum("pc").cast("bigint").alias("p"),
        F.sum("nc").cast("bigint").alias("n"),
    )
    r = global_prefix_agg(
        g, [F.col("value").asc()], "pc", agg="sum", out_col="cpi"
    )
    r = global_prefix_agg(
        r, [F.col("value").asc()], "nc", agg="sum", out_col="cni"
    )
    r = r.select(
        "value",
        "pc",
        "nc",
        (F.col("cpi") - F.col("pc")).alias("cp"),
        (F.col("cni") - F.col("nc")).alias("cn"),
        "cpi",
        "cni",
    )
    return r, t


@register(
    "f1_threshold_sweep",
    """
    WITH th AS (SELECT unnest([5, 10, 20, 50, 100])::INT AS threshold),
    e AS (SELECT value,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS pos
          FROM events),
    s AS (SELECT th.threshold,
                 SUM(CASE WHEN e.pos = 1 AND e.value >= th.threshold
                     THEN 1 ELSE 0 END)::BIGINT AS tp,
                 SUM(CASE WHEN e.pos = 0 AND e.value >= th.threshold
                     THEN 1 ELSE 0 END)::BIGINT AS fp,
                 SUM(CASE WHEN e.pos = 1 AND e.value < th.threshold
                     THEN 1 ELSE 0 END)::BIGINT AS fn
          FROM e CROSS JOIN th GROUP BY th.threshold)
    SELECT threshold, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN ROUND(tp * 1.0 / (tp + fp), 6) END AS precision_,
           CASE WHEN tp + fn > 0
                THEN ROUND(tp * 1.0 / (tp + fn), 6) END AS recall_,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN ROUND(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
    FROM s ORDER BY threshold ASC
    """,
)
def f1_threshold_sweep(spark, sf_dir):
    """Precision / recall / F1 of the "value >= theta predicts purchase"
    rule at five fixed operating points -- the table a reviewer reads
    before picking a gate (`score_auc_mann_whitney` certifies the
    RANKING; this shows the confusion trade at each concrete cutoff;
    F1 = 2TP/(2TP+FP+FN) avoids the P*R/(P+R) float path entirely).
    One conditional-aggregation pass over events x 5 broadcast
    thresholds yields exact BIGINT confusion cells; each metric is a
    guarded single division. Zero-denominator cells NULL via integer
    comparisons.

    Scale: one corpus scan with map-side combine (5x fan-out on a
    broadcast literal frame); the output is 5 rows."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    th = spark.range(5).select(
        F.element_at(
            literal_array([5, 10, 20, 50, 100]),
            (F.col("id") + 1).cast("int"),
        ).alias("threshold")
    )
    s = (
        e.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(
                    (F.col("pos") == 1) & (F.col("value") >= F.col("threshold")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
            F.sum(
                F.when(
                    (F.col("pos") == 0) & (F.col("value") >= F.col("threshold")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("fp"),
            F.sum(
                F.when(
                    (F.col("pos") == 1) & (F.col("value") < F.col("threshold")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return s.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.when(tp + fp > 0, F.round(tp * F.lit(1.0) / (tp + fp), 6)).alias(
            "precision_"
        ),
        F.when(tp + fn > 0, F.round(tp * F.lit(1.0) / (tp + fn), 6)).alias(
            "recall_"
        ),
        F.when(
            2 * tp + fp + fn > 0,
            F.round(F.lit(2.0) * tp / (2 * tp + fp + fn), 6),
        ).alias("f1"),
    ).orderBy(F.col("threshold").asc())


@register(
    "youden_j_threshold",
    f"""
    WITH {_ROC_SQL},
    j AS (SELECT r.value, t.p, t.n,
                 t.p - r.cp AS tp, t.n - r.cn AS fp,
                 (t.p - r.cp) * t.n - (t.n - r.cn) * t.p AS jnum
          FROM r CROSS JOIN t),
    best AS (SELECT * FROM j ORDER BY jnum DESC, value ASC LIMIT 1)
    SELECT value AS threshold_value, tp, fp,
           ROUND(tp * 1.0 / p, 6) AS tpr,
           ROUND(fp * 1.0 / n, 6) AS fpr,
           ROUND(jnum * 1.0 / (p * 1.0 * n), 6) AS youden_j
    FROM best
    """,
)
def youden_j_threshold(spark, sf_dir):
    """The Youden-J-optimal cutoff of the value scorer: the distinct
    value v maximizing J = TPR - FPR for the rule "predict purchase if
    value >= v", computed EXACTLY at every ROC vertex (thresholds =
    the value domain itself, so no grid can miss the optimum -- the
    operating-point complement to `score_auc_mann_whitney`'s
    area-under summary and the standard balanced-cutoff choice when FP
    and FN cost the same). TP/FP at each vertex come from the
    exclusive class-count prefix scans; the argmax compares the
    INTEGER numerator TP*N - FP*P (denominators cleared), so ties are
    exact, broken toward the smallest value; the selection rides
    orderBy().limit(1).

    Scale: one corpus scan to the value-domain frame, two prefix scans
    over the domain, one TakeOrdered -- nothing corpus-sized past the
    first aggregation."""
    r, t = _roc_frame(spark, sf_dir)
    j = r.crossJoin(F.broadcast(t)).select(
        "value",
        "p",
        "n",
        (F.col("p") - F.col("cp")).alias("tp"),
        (F.col("n") - F.col("cn")).alias("fp"),
        (
            (F.col("p") - F.col("cp")) * F.col("n")
            - (F.col("n") - F.col("cn")) * F.col("p")
        ).alias("jnum"),
    )
    best = j.orderBy(F.col("jnum").desc(), F.col("value").asc()).limit(1)
    return best.select(
        F.col("value").alias("threshold_value"),
        "tp",
        "fp",
        F.round(F.col("tp") * F.lit(1.0) / F.col("p"), 6).alias("tpr"),
        F.round(F.col("fp") * F.lit(1.0) / F.col("n"), 6).alias("fpr"),
        F.round(
            F.col("jnum") * F.lit(1.0) / (F.col("p") * F.lit(1.0) * F.col("n")),
            6,
        ).alias("youden_j"),
    )


@register(
    "ks_class_separation",
    f"""
    WITH {_ROC_SQL},
    k AS (SELECT r.value, t.p, t.n,
                 ABS(r.cpi * t.n - r.cni * t.p) AS knum
          FROM r CROSS JOIN t),
    best AS (SELECT * FROM k ORDER BY knum DESC, value ASC LIMIT 1)
    SELECT p AS n_positive, n AS n_negative,
           value AS at_value,
           ROUND(knum * 1.0 / (p * 1.0 * n), 6) AS ks_statistic
    FROM best
    """,
)
def ks_class_separation(spark, sf_dir):
    """The Kolmogorov-Smirnov separation of the value scorer: max over
    the value domain of |CDF(value | purchase) - CDF(value | other)| --
    the credit-scoring "KS" that certifies a scorer DISCRIMINATES
    (distinct from `ks_value_drift`, which compares the SAME variable
    across time; here the two ECDFs are the class-conditional score
    distributions, and KS = max TPR-FPR gap = the Youden J optimum's
    height read off the CDF scale). Inclusive class-count prefix scans
    give both ECDFs exactly at every jump; the argmax compares the
    integer cross-product |cpi*N - cni*P|; smallest-value tie-break;
    TakeOrdered selection.

    Scale: identical to the Youden frame -- value-domain prefix scans
    and a limit(1); the corpus is scanned once."""
    r, t = _roc_frame(spark, sf_dir)
    k = r.crossJoin(F.broadcast(t)).select(
        "value",
        "p",
        "n",
        F.abs(F.col("cpi") * F.col("n") - F.col("cni") * F.col("p")).alias(
            "knum"
        ),
    )
    best = k.orderBy(F.col("knum").desc(), F.col("value").asc()).limit(1)
    return best.select(
        F.col("p").alias("n_positive"),
        F.col("n").alias("n_negative"),
        F.col("value").alias("at_value"),
        F.round(
            F.col("knum") * F.lit(1.0) / (F.col("p") * F.lit(1.0) * F.col("n")),
            6,
        ).alias("ks_statistic"),
    )


@register(
    "expected_cost_threshold",
    f"""
    WITH {_ROC_SQL},
    c AS (SELECT r.value, t.p, t.n,
                 (t.n - r.cn) + 5 * r.cp AS total_cost,
                 t.n - r.cn AS fp, r.cp AS fn
          FROM r CROSS JOIN t),
    best AS (SELECT * FROM c ORDER BY total_cost ASC, value ASC LIMIT 1)
    SELECT value AS threshold_value, fp, fn, total_cost,
           ROUND(total_cost * 1.0 / (p + n), 6) AS cost_per_event
    FROM best
    """,
)
def expected_cost_threshold(spark, sf_dir):
    """The cost-minimizing cutoff under an asymmetric loss (FP costs 1,
    FN costs 5 -- the shape of a fraud/abuse gate where a missed
    positive is five reviews' worth of damage): min over the value
    domain of cost(v) = FP(v) + 5*FN(v) for "predict purchase if value
    >= v". The entire objective is INTEGER (confusion cells from the
    exclusive prefix scans, literal integer costs), so the argmin is
    exact with no quantization anywhere -- the cost-curve complement to
    `youden_j_threshold` (J is the zero-prior, equal-cost special
    case). Smallest-value tie-break; TakeOrdered selection. The cost
    ratio is a documented literal: re-run with your own ratio, the
    plan shape is unchanged.

    Scale: value-domain prefix scans + limit(1); one corpus scan."""
    r, t = _roc_frame(spark, sf_dir)
    c = r.crossJoin(F.broadcast(t)).select(
        "value",
        "p",
        "n",
        ((F.col("n") - F.col("cn")) + 5 * F.col("cp")).alias("total_cost"),
        (F.col("n") - F.col("cn")).alias("fp"),
        F.col("cp").alias("fn"),
    )
    best = c.orderBy(F.col("total_cost").asc(), F.col("value").asc()).limit(
        1
    )
    return best.select(
        F.col("value").alias("threshold_value"),
        "fp",
        "fn",
        "total_cost",
        F.round(
            F.col("total_cost") * F.lit(1.0) / (F.col("p") + F.col("n")), 6
        ).alias("cost_per_event"),
    )


@register(
    "balanced_accuracy_lang_id",
    """
    WITH t AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
    m AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 CASE WHEN len(list_filter(ws,
                        w -> w IN ('the', 'a', 'of', 'and', 'to', 'in',
                                   'is')))::DOUBLE / len(ws) >= 0.04
                      THEN 1 ELSE 0 END AS yhat
          FROM t WHERE len(ws) > 0),
    s AS (SELECT SUM(y * yhat)::BIGINT AS tp,
                 SUM((1 - y) * yhat)::BIGINT AS fp,
                 SUM(y * (1 - yhat))::BIGINT AS fn,
                 SUM((1 - y) * (1 - yhat))::BIGINT AS tn
          FROM m)
    SELECT tp, fp, fn, tn,
           ROUND(0.5 * (tp * 1.0 / (tp + fn) + tn * 1.0 / (tn + fp)), 6)
             AS balanced_accuracy,
           ROUND(0.5 * (2.0 * tp / (2 * tp + fp + fn)
                        + 2.0 * tn / (2 * tn + fn + fp)), 6) AS macro_f1
    FROM s
    """,
)
def balanced_accuracy_lang_id(spark, sf_dir):
    """Balanced accuracy and macro-F1 of the stopword language-ID rule
    against the recorded lang label -- the class-imbalance-proof
    single numbers for the matrix `lang_confusion_matrix` prints (raw
    accuracy on a 90%-English corpus rewards predicting 'en' always;
    balanced accuracy averages the per-class recalls so the minority
    class counts equally, and macro-F1 averages the per-class F1s --
    the pair any labeler eval reports first). One
    conditional-aggregation scan to four exact BIGINTs; both metrics
    are fixed-order double expressions; per-class F1 uses the
    2TP/(2TP+FP+FN) form (no precision*recall float chain). Degenerate
    single-class corpora would 0-divide identically in both engines --
    the documents fixture always carries both classes, and the oracle
    pins that.

    Scale: one scan, one 4-number reduce."""
    from veri_spark.functions.text import en_stopword_ratio, tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "text", tokens("text").alias("ws")
    )
    m = docs.filter(F.size("ws") > 0).select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.when(en_stopword_ratio("text") >= 0.04, 1).otherwise(0).alias(
            "yhat"
        ),
    )
    s = m.agg(
        F.sum(F.col("y") * F.col("yhat")).cast("bigint").alias("tp"),
        F.sum((F.lit(1) - F.col("y")) * F.col("yhat"))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.col("y") * (F.lit(1) - F.col("yhat")))
        .cast("bigint")
        .alias("fn"),
        F.sum((F.lit(1) - F.col("y")) * (F.lit(1) - F.col("yhat")))
        .cast("bigint")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(k) for k in ("tp", "fp", "fn", "tn"))
    return s.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            F.lit(0.5)
            * (tp * F.lit(1.0) / (tp + fn) + tn * F.lit(1.0) / (tn + fp)),
            6,
        ).alias("balanced_accuracy"),
        F.round(
            F.lit(0.5)
            * (
                F.lit(2.0) * tp / (2 * tp + fp + fn)
                + F.lit(2.0) * tn / (2 * tn + fn + fp)
            ),
            6,
        ).alias("macro_f1"),
    )


@register(
    "logloss_by_calibration_bin",
    """
    WITH t AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
                 len(list_filter(ws, w -> w IN
                     ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS hits,
                 len(ws) AS n
          FROM t WHERE len(ws) > 0),
    b AS (SELECT LEAST((10 * hits) // n, 9)::INT AS bin, pos,
                 LEAST(GREATEST(hits * 1.0 / n, 1e-6), 1.0 - 1e-6) AS ph
          FROM s),
    q AS (SELECT bin, COUNT(*)::BIGINT AS n_docs,
                 SUM(pos)::BIGINT AS n_positive,
                 SUM(CAST(round(-1e9 * (pos * ln(ph)
                                        + (1 - pos) * ln(1.0 - ph)))
                     AS DECIMAL(38,0))) AS llq
          FROM b GROUP BY bin)
    SELECT bin, n_docs, n_positive,
           ROUND(llq::DOUBLE / 1e9 / n_docs, 6) AS mean_logloss
    FROM q ORDER BY bin ASC
    """,
)
def logloss_by_calibration_bin(spark, sf_dir):
    """Mean negative log-likelihood of the stopword-ratio
    pseudo-probability per reliability bin -- the PROPER-score
    sharpening of `calibration_reliability_bins` and the binned
    decomposition of what `expected_calibration_error` integrates (ECE
    shows WHERE predicted and empirical rates diverge; log-loss also
    punishes confident misses inside a bin, so a bin can look
    calibrated on means and still carry terrible log-loss). Scores are
    clipped to [1e-6, 1 - 1e-6] with the standard symmetric epsilon
    (ln(0) guard, applied UNCONDITIONALLY in both engines -- no
    data-dependent branch); each document's term rides ln on identical
    doubles (the WoE idiom) and is nano-quantized so the per-bin fold
    is an exact DECIMAL(38,0) at any parallelism.

    Scale: one corpus scan into a 10-row group frame."""
    from veri_spark.functions.text import EN_STOPWORDS, tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", tokens("text").alias("ws")
    )
    s = docs.filter(F.size("ws") > 0).select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        F.size(F.filter(F.col("ws"), lambda w: w.isin(*EN_STOPWORDS))).alias(
            "hits"
        ),
        F.size("ws").alias("n"),
    )
    b = s.select(
        F.least(
            F.floor(F.lit(10) * F.col("hits") / F.col("n")), F.lit(9)
        )
        .cast("int")
        .alias("bin"),
        "pos",
        F.least(
            F.greatest(F.col("hits") * F.lit(1.0) / F.col("n"), F.lit(1e-6)),
            F.lit(1.0 - 1e-6),
        ).alias("ph"),
    )
    q = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pos").cast("bigint").alias("n_positive"),
        F.sum(
            F.round(
                F.lit(-1e9)
                * (
                    F.col("pos") * F.log(F.col("ph"))
                    + (F.lit(1) - F.col("pos"))
                    * F.log(F.lit(1.0) - F.col("ph"))
                )
            ).cast("decimal(38,0)")
        ).alias("llq"),
    )
    return q.select(
        "bin",
        "n_docs",
        "n_positive",
        F.round(
            F.col("llq").cast("double") / F.lit(1e9) / F.col("n_docs"), 6
        ).alias("mean_logloss"),
    ).orderBy(F.col("bin").asc())


@register(
    "logrank_test_ab_arms",
    """
    WITH arms AS (
      SELECT DISTINCT user_id,
             CAST('0x' || substr(md5('arm|' || user_id::VARCHAR), 1, 15)
                  AS BIGINT) % 2 AS grp
      FROM events),
    u0 AS (SELECT user_id,
                  MIN(epoch_us(ts::TIMESTAMP)) AS fu,
                  MIN(CASE WHEN event_type = 'purchase'
                           THEN epoch_us(ts::TIMESTAMP) END) AS pu,
                  MAX(epoch_us(ts::TIMESTAMP)) AS lu
           FROM events GROUP BY user_id),
    u AS (SELECT u0.*, arms.grp FROM u0 JOIN arms USING (user_id)),
    uu AS (SELECT grp,
                  CASE WHEN pu IS NOT NULL
                            AND (pu - fu) // 3600000000 < 48
                       THEN (pu - fu) // 3600000000
                       ELSE LEAST(48, (lu - fu) // 3600000000)
                  END::BIGINT AS t,
                  CASE WHEN pu IS NOT NULL
                            AND (pu - fu) // 3600000000 < 48
                       THEN 1 ELSE 0 END AS e
           FROM u),
    d AS (SELECT t, SUM(e)::BIGINT AS d_t,
                 SUM(e * grp)::BIGINT AS d1_t,
                 COUNT(*)::BIGINT AS m_t,
                 SUM(grp)::BIGINT AS m1_t
          FROM uu GROUP BY t),
    r AS (SELECT t, d_t, d1_t,
                 SUM(m_t) OVER (ORDER BY t DESC)::BIGINT AS n_t,
                 SUM(m1_t) OVER (ORDER BY t DESC)::BIGINT AS n1_t
          FROM d),
    s AS (SELECT SUM(d1_t)::BIGINT AS o1,
                 SUM(CAST(round(1e9 * d_t * n1_t * 1.0 / n_t)
                     AS DECIMAL(38,0))) AS e1q,
                 SUM(CASE WHEN n_t > 1 THEN
                       CAST(round(1e9 * d_t * (n1_t * 1.0 / n_t)
                                  * (1.0 - n1_t * 1.0 / n_t)
                                  * (n_t - d_t) / (n_t - 1.0))
                       AS DECIMAL(38,0)) ELSE 0 END) AS vq
          FROM r WHERE d_t > 0),
    tot AS (SELECT SUM(grp)::BIGINT AS n1,
                   SUM(1 - grp)::BIGINT AS n2
            FROM uu)
    SELECT tot.n1 AS n_arm1, tot.n2 AS n_arm0,
           s.o1 AS observed_events_arm1,
           ROUND(s.e1q::DOUBLE / 1e9, 6) AS expected_events_arm1,
           CASE WHEN s.vq > 0
                THEN ROUND((s.o1 - s.e1q::DOUBLE / 1e9)
                           * (s.o1 - s.e1q::DOUBLE / 1e9)
                           / (s.vq::DOUBLE / 1e9), 6) END AS logrank_chi2
    FROM s CROSS JOIN tot
    """,
)
def logrank_test_ab_arms(spark, sf_dir):
    """Log-rank test comparing time-to-first-purchase between the two
    deterministic A/B arms -- the survival-grade experiment readout
    next to `ab_test_conversion_ztest` (the z-test compares final
    conversion RATES; the log-rank compares the whole time-to-convert
    CURVES, so an arm that converts the same users but SLOWER is
    caught -- and it handles the 48 h administrative censoring the
    rate test silently ignores). Identical time-to-event construction
    to `kaplan_meier_time_to_purchase` (hour grain, 48 h censoring);
    arms are the portable-hash split `ab_test_srm_check` audits, so
    the oracle assigns identically. Each distinct event time is a 2x2
    table against the risk sets: O1 - E1 folds per-time
    hypergeometric means d*n1/n and variances
    d*(n1/n)(1-n1/n)(n-d)/(n-1), nano-quantized over exact
    suffix-count integers; chi2(1) = (O1-E1)^2/V is one fixed-order
    expression with an integer-sum zero guard. Risk sets are suffix
    sums over the HOUR domain (<= 49 rows, the bounded KM frame).

    Scale: one corpus scan to the user grain, one to the 49-row time
    frame; everything after is bounded-frame arithmetic."""
    from veri_spark.functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("fu"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("pu"),
        F.max(us).alias("lu"),
    ).withColumn(
        "grp",
        (portable_hash64(F.col("user_id").cast("string"), seed="arm") % 2)
        .cast("int"),
    )
    hrs = (F.col("pu") - F.col("fu")) / F.lit(3600000000)
    obs = F.col("pu").isNotNull() & (F.floor(hrs).cast("bigint") < 48)
    uu = u.select(
        "grp",
        F.when(obs, F.floor(hrs).cast("bigint"))
        .otherwise(
            F.least(
                F.lit(48).cast("bigint"),
                F.floor(
                    (F.col("lu") - F.col("fu")) / F.lit(3600000000)
                ).cast("bigint"),
            )
        )
        .alias("t"),
        F.when(obs, 1).otherwise(0).alias("e"),
    )
    d = uu.groupBy("t").agg(
        F.sum("e").cast("bigint").alias("d_t"),
        F.sum(F.col("e") * F.col("grp")).cast("bigint").alias("d1_t"),
        F.count(F.lit(1)).cast("bigint").alias("m_t"),
        F.sum("grp").cast("bigint").alias("m1_t"),
    )
    w = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = d.select(
        "t",
        "d_t",
        "d1_t",
        F.sum("m_t").over(w).cast("bigint").alias("n_t"),
        F.sum("m1_t").over(w).cast("bigint").alias("n1_t"),
    )
    share = F.col("n1_t") * F.lit(1.0) / F.col("n_t")
    s = r.filter(F.col("d_t") > 0).agg(
        F.sum("d1_t").cast("bigint").alias("o1"),
        F.sum(
            F.round(F.lit(1e9) * F.col("d_t") * share).cast("decimal(38,0)")
        ).alias("e1q"),
        F.sum(
            F.when(
                F.col("n_t") > 1,
                F.round(
                    F.lit(1e9)
                    * F.col("d_t")
                    * share
                    * (F.lit(1.0) - share)
                    * (F.col("n_t") - F.col("d_t"))
                    / (F.col("n_t") - F.lit(1.0))
                ).cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("vq"),
    )
    tot = uu.agg(
        F.sum("grp").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("grp")).cast("bigint").alias("n2"),
    )
    j = s.crossJoin(F.broadcast(tot))
    e1 = F.col("e1q").cast("double") / F.lit(1e9)
    return j.select(
        F.col("n1").alias("n_arm1"),
        F.col("n2").alias("n_arm0"),
        F.col("o1").alias("observed_events_arm1"),
        F.round(e1, 6).alias("expected_events_arm1"),
        F.when(
            F.col("vq") > 0,
            F.round(
                (F.col("o1") - e1)
                * (F.col("o1") - e1)
                / (F.col("vq").cast("double") / F.lit(1e9)),
                6,
            ),
        ).alias("logrank_chi2"),
    )


# SPRT design literals: H0 p0 = 0.18 vs H1 p1 = 0.22 (straddling the
# corpus base purchase rate ~0.198 so the walk is a genuine contest),
# alpha = beta = 0.05 -> Wald boundaries ln(19), -ln(19). Evaluated in
# Python once and injected as the SAME literal into both dialects.
import math as _math

_SPRT_L1 = _math.log(0.22 / 0.18)
_SPRT_L0 = _math.log(0.78 / 0.82)
_SPRT_LN_A = _math.log(19.0)
_SPRT_LN_B = -_math.log(19.0)


@register(
    "sprt_daily_conversion",
    f"""
    WITH d AS (SELECT ts::DATE AS day,
                      SUM(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END)::BIGINT AS k,
                      COUNT(*)::BIGINT AS n
               FROM events GROUP BY 1),
    t AS (SELECT day,
                 CAST(round(1e9 * (k * {_SPRT_L1!r}
                                   + (n - k) * {_SPRT_L0!r}))
                      AS BIGINT) AS tq
          FROM d),
    p AS (SELECT day, SUM(tq) OVER (ORDER BY day ASC) / 1e9 AS llr
          FROM t),
    agg AS (SELECT COUNT(*)::BIGINT AS n_days,
                   MIN(CASE WHEN llr >= {_SPRT_LN_A!r} THEN day END)
                     AS d_hi,
                   MIN(CASE WHEN llr <= {_SPRT_LN_B!r} THEN day END)
                     AS d_lo
            FROM p),
    tot AS (SELECT SUM(tq)::BIGINT AS tq FROM t)
    SELECT agg.n_days,
           CASE WHEN agg.d_hi IS NOT NULL
                     AND (agg.d_lo IS NULL OR agg.d_hi <= agg.d_lo)
                THEN 'accept_h1'
                WHEN agg.d_lo IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           CASE WHEN agg.d_hi IS NOT NULL
                     AND (agg.d_lo IS NULL OR agg.d_hi <= agg.d_lo)
                THEN agg.d_hi
                WHEN agg.d_lo IS NOT NULL THEN agg.d_lo END
             AS crossing_day,
           ROUND(tot.tq / 1e9, 6) AS llr_final
    FROM agg CROSS JOIN tot
    """,
)
def sprt_daily_conversion(spark, sf_dir):
    """Wald's sequential probability ratio test on the daily conversion
    stream: H0 p = 0.18 vs H1 p = 0.22 with alpha = beta = 0.05 -- the
    ALWAYS-VALID sequential companion to `ab_test_conversion_ztest`
    (the fixed-horizon z-test is invalidated by peeking; the SPRT is
    the test you may legally stop the moment the log-likelihood walk
    exits (ln 19, -ln 19), and it is the optimal such test by the
    Wald-Wolfowitz theorem). Each day's increment k*ln(p1/p0) +
    (n-k)*ln((1-p1)/(1-p0)) uses PYTHON-evaluated literals (neither
    engine computes a ln), is nano-quantized, and prefix-sums over the
    calendar-bounded day frame; first-crossing day and decision come
    from two CASE-guarded MIN aggregates (no ordered scan in the
    final reduce) and the final LLR is the plain total.

    Scale: one corpus scan to the day frame; the walk lives on ~30
    calendar rows."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    t = d.select(
        "day",
        F.round(
            F.lit(1e9)
            * (
                F.col("k") * F.lit(_SPRT_L1)
                + (F.col("n") - F.col("k")) * F.lit(_SPRT_L0)
            )
        )
        .cast("bigint")
        .alias("tq"),
    )
    p = global_prefix_agg(
        t, [F.col("day").asc()], "tq", agg="sum", out_col="cq"
    ).select("day", (F.col("cq") / F.lit(1e9)).alias("llr"))
    agg = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.min(
            F.when(F.col("llr") >= F.lit(_SPRT_LN_A), F.col("day"))
        ).alias("d_hi"),
        F.min(
            F.when(F.col("llr") <= F.lit(_SPRT_LN_B), F.col("day"))
        ).alias("d_lo"),
    )
    tot = t.agg(F.sum("tq").cast("bigint").alias("tq"))
    j = agg.crossJoin(F.broadcast(tot))
    hi_wins = F.col("d_hi").isNotNull() & (
        F.col("d_lo").isNull() | (F.col("d_hi") <= F.col("d_lo"))
    )
    return j.select(
        "n_days",
        F.when(hi_wins, F.lit("accept_h1"))
        .when(F.col("d_lo").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.when(hi_wins, F.col("d_hi"))
        .when(F.col("d_lo").isNotNull(), F.col("d_lo"))
        .alias("crossing_day"),
        F.round(F.col("tq") / F.lit(1e9), 6).alias("llr_final"),
    )


@register(
    "split_conformal_value_interval",
    """
    WITH e AS (SELECT event_id, hour(ts)::INT AS hod,
                      CAST(round(value * 100.0) AS BIGINT) AS cv,
                      CAST('0x' || substr(md5('conf|' || event_id::VARCHAR),
                                          1, 15) AS BIGINT) % 2 AS half
               FROM events),
    pred AS (SELECT hod, SUM(cv)::BIGINT AS s, COUNT(*)::BIGINT AS n
             FROM e WHERE half = 0 GROUP BY hod),
    cal AS (SELECT ABS(e.cv - p.s * 1.0 / p.n) AS score, e.event_id
            FROM e JOIN pred p USING (hod) WHERE e.half = 0),
    nc AS (SELECT COUNT(*)::BIGINT AS n_cal FROM cal),
    kk AS (SELECT CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT) AS k, n_cal
           FROM nc),
    q AS (SELECT r.score AS q_hat, kk.n_cal, kk.k
          FROM (SELECT score,
                       ROW_NUMBER() OVER (ORDER BY score ASC,
                                          event_id ASC) AS rn
                FROM cal) r
          JOIN kk ON r.rn = kk.k),
    tst AS (SELECT COUNT(*)::BIGINT AS n_test,
                   SUM(CASE WHEN ABS(e.cv - p.s * 1.0 / p.n) <= q.q_hat
                       THEN 1 ELSE 0 END)::BIGINT AS covered
            FROM e JOIN pred p USING (hod) CROSS JOIN q
            WHERE e.half = 1)
    SELECT q.n_cal, tst.n_test,
           ROUND(q.q_hat / 100.0, 6) AS q_hat,
           ROUND(tst.covered * 1.0 / tst.n_test, 6) AS coverage
    FROM q CROSS JOIN tst
    """,
)
def split_conformal_value_interval(spark, sf_dir):
    """Split conformal prediction interval (Papadopoulos et al. 2002 /
    Lei et al. 2018) for event value at 90% nominal coverage: the
    calibration half (deterministic md5 split, so the oracle splits
    identically) fits the cheapest predictor (hour-of-day mean), the
    conformal quantile q_hat is the ceil((n+1)*0.9)-th smallest
    absolute residual -- an EXACT order statistic, not an interpolated
    percentile -- and the held-out half reports empirical coverage of
    pred +/- q_hat. This is the distribution-free guarantee none of
    the parametric intervals in the battery carry: no normality, no
    homoskedasticity, coverage >= 90% by exchangeability alone, which
    is what a monitoring gate should page on. Residuals stay
    exact-integer-over-integer rationals; the order statistic rides a
    rank + equi-join on the scalar k (tie-broken by event_id); the
    coverage fold is pure integers.

    Scale: two corpus scans (fit + score) and one distributed ranking
    of the calibration residuals; the interval itself is one row. The
    ranked frame is corpus-scale, which is exactly what
    `global_row_number`'s two-pass prefix machinery is for -- no
    single-partition sort in the Spark plan (the window in the ORACLE
    is DuckDB-side only)."""
    from veri_spark.functions.hashing import portable_hash64
    from veri_spark.operators.ranking import global_row_number

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value") * 100.0).cast("bigint").alias("cv"),
        (portable_hash64(F.col("event_id").cast("string"), "conf") % 2)
        .cast("int")
        .alias("half"),
    )
    pred = (
        e.filter(F.col("half") == 0)
        .groupBy("hod")
        .agg(
            F.sum("cv").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    resid = F.abs(F.col("cv") - F.col("s") * F.lit(1.0) / F.col("n"))
    cal = (
        e.filter(F.col("half") == 0)
        .join(F.broadcast(pred), "hod")
        .select(resid.alias("score"), "event_id")
    )
    nc = cal.agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
    kk = nc.select(
        "n_cal",
        F.ceil((F.col("n_cal") + 1) * F.lit(0.9)).cast("bigint").alias("k"),
    )
    r = global_row_number(
        cal, [F.col("score").asc(), F.col("event_id").asc()], rn_col="rn"
    )
    q = r.crossJoin(F.broadcast(kk)).filter(
        F.col("rn") == F.col("k")
    ).select(F.col("score").alias("q_hat"), "n_cal")
    tst = (
        e.filter(F.col("half") == 1)
        .join(F.broadcast(pred), "hod")
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(resid <= F.col("q_hat"), 1).otherwise(0))
            .cast("bigint")
            .alias("covered"),
            F.max("q_hat").alias("q_hat"),
            F.max("n_cal").alias("n_cal"),
        )
    )
    return tst.select(
        "n_cal",
        "n_test",
        F.round(F.col("q_hat") / F.lit(100.0), 6).alias("q_hat"),
        F.round(F.col("covered") * F.lit(1.0) / F.col("n_test"), 6).alias(
            "coverage"
        ),
    )


@register(
    "pinball_loss_hourly",
    """
    WITH b AS (SELECT MIN(date_trunc('hour', ts)) AS h0 FROM events),
    h AS (SELECT date_diff('hour', b.h0, date_trunc('hour', ts))::BIGINT
                   AS hr,
                 COUNT(*)::BIGINT AS y
          FROM events CROSS JOIN b GROUP BY 1),
    mx AS (SELECT MAX(hr)::BIGINT AS maxh FROM h),
    grid AS (SELECT unnest(range(0, mx.maxh + 1)) AS hr FROM mx),
    g AS (SELECT grid.hr, COALESCE(h.y, 0)::BIGINT AS y
          FROM grid LEFT JOIN h ON h.hr = grid.hr),
    qs AS (SELECT unnest([0.1, 0.5, 0.9])::DOUBLE AS q),
    p AS (SELECT qs.q, a.y - f.y AS err
          FROM g a JOIN g f ON f.hr = a.hr - 24 CROSS JOIN qs),
    s AS (SELECT q, COUNT(*)::BIGINT AS n,
                 SUM(CAST(round(1e6 * CASE WHEN err >= 0 THEN q * err
                                      ELSE (q - 1.0) * err END)
                     AS DECIMAL(38,0))) AS lq
          FROM p GROUP BY q)
    SELECT q AS quantile, n AS n_forecasts,
           ROUND(lq::DOUBLE / 1e6 / n, 6) AS pinball_loss
    FROM s ORDER BY quantile ASC
    """,
)
def pinball_loss_hourly(spark, sf_dir):
    """Pinball (quantile) loss of the seasonal-naive hourly forecaster
    at q in {0.1, 0.5, 0.9} -- the asymmetric-loss profile of the SAME
    y_hat(t) = y(t-24h) forecaster `hourly_seasonal_naive_mase` grades
    symmetrically (MASE averages |err|; the pinball pair says whether
    the forecaster's misses are one-SIDED -- a q=0.9 loss far above
    the q=0.1 loss means systematic under-forecasting, the failure
    mode capacity planning cares about, and the loss a quantile
    forecast would be trained on). Errors are exact integer count
    differences on the dense zero-filled spine; each loss term is one
    CASE of integer * literal, micro-quantized for the order-proof
    per-quantile fold.

    Scale: one corpus scan to the hourly frame; the lag join and sweep
    live on the calendar spine x 3 literals."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min(F.date_trunc("hour", F.col("ts"))).alias("h0"))
    h = (
        ev.crossJoin(F.broadcast(b))
        .groupBy(
            (
                (
                    F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
                    - F.unix_timestamp("h0")
                )
                / 3600
            )
            .cast("bigint")
            .alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    mx = h.agg(F.max("hr").cast("bigint").alias("maxh"))
    grid = mx.select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("maxh"))).alias(
            "hr"
        )
    )
    g = grid.join(h, "hr", "left").select(
        "hr", F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("y")
    )
    qs = spark.range(3).select(
        F.element_at(
            literal_array([0.1, 0.5, 0.9]),
            (F.col("id") + 1).cast("int"),
        ).alias("q")
    )
    a = g.select(F.col("hr").alias("ha"), F.col("y").alias("ya"))
    f = g.select(F.col("hr").alias("hf"), F.col("y").alias("yf"))
    p = (
        a.join(f, F.col("hf") == F.col("ha") - 24)
        .crossJoin(F.broadcast(qs))
        .select("q", (F.col("ya") - F.col("yf")).alias("err"))
    )
    loss = F.when(
        F.col("err") >= 0, F.col("q") * F.col("err")
    ).otherwise((F.col("q") - F.lit(1.0)) * F.col("err"))
    s = p.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.lit(1e6) * loss).cast("decimal(38,0)")).alias("lq"),
    )
    return s.select(
        F.col("q").alias("quantile"),
        F.col("n").alias("n_forecasts"),
        F.round(
            F.col("lq").cast("double") / F.lit(1e6) / F.col("n"), 6
        ).alias("pinball_loss"),
    ).orderBy(F.col("quantile").asc())


from veri_spark.plans.events_behavior import _acklam_probit  # noqa: E402

# Python-precomputed normal quantiles (the probit-literal rule: never
# in-engine) from the SAME Acklam implementation the Holm/BH tables use,
# so one pinned implementation feeds every z literal in the repo.
_Z975 = _acklam_probit(0.975)
_Z80 = _acklam_probit(0.8)


@register(
    "delta_method_ratio_ci",
    f"""
    WITH u AS (SELECT user_id,
                      SUM(CAST(round(1e6 * value) AS BIGINT))::BIGINT AS yu,
                      COUNT(*)::BIGINT AS xu
               FROM events GROUP BY user_id),
    s AS (SELECT COUNT(*)::BIGINT AS n,
                 SUM(yu)::BIGINT AS sy, SUM(xu)::BIGINT AS sx,
                 SUM(CAST(yu AS DECIMAL(38,0)) * yu) AS syy,
                 SUM(CAST(xu AS DECIMAL(38,0)) * xu) AS sxx,
                 SUM(CAST(yu AS DECIMAL(38,0)) * xu) AS sxy
          FROM u),
    f AS (SELECT n, sy, sx, sy::DOUBLE / sx AS r,
                 sqrt((n::DOUBLE / (n - 1.0))
                      * (syy::DOUBLE
                         - 2.0 * (sy::DOUBLE / sx) * sxy::DOUBLE
                         + (sy::DOUBLE / sx) * (sy::DOUBLE / sx)
                           * sxx::DOUBLE)
                      / (sx::DOUBLE * sx)) AS se
          FROM s)
    SELECT n AS n_users, sx AS n_events,
           ROUND(r / 1e6, 6) AS ratio,
           ROUND(se / 1e6, 6) AS se,
           ROUND((r - {_Z975!r} * se) / 1e6, 6) AS ci_lo,
           ROUND((r + {_Z975!r} * se) / 1e6, 6) AS ci_hi
    FROM f
    """,
)
def delta_method_ratio_ci(spark, sf_dir):
    """Delta-method (linearization) confidence interval for the RATIO
    metric revenue-per-event with USER-level clustering — the A/B
    workhorse the naive per-event t-interval gets WRONG whenever the
    randomization unit (user) emits multiple correlated events
    (Deng et al. 2018 popularized this at scale): linearize
    R = sum Y / sum X around the means, Var ~ (n/(n-1)) *
    sum_u (y_u - R x_u)^2 / (sum X)^2, which expands into three exact
    per-user cross-moments — no per-event variance ever computed.
    Values are micro-quantized to exact BIGINTs per user, the three
    quadratic folds are DECIMAL(38,0), and R/se/CI are one fixed-order
    double expression with the Acklam z literal.

    Scale: one corpus scan to user grain, one moment reduce — the
    classic two-aggregation shape, no window, no join."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.lit(1e6) * F.col("value")).cast("bigint"))
        .cast("bigint")
        .alias("yu"),
        F.count(F.lit(1)).cast("bigint").alias("xu"),
    )
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yu").cast("bigint").alias("sy"),
        F.sum("xu").cast("bigint").alias("sx"),
        F.sum(F.col("yu").cast("decimal(38,0)") * F.col("yu")).alias("syy"),
        F.sum(F.col("xu").cast("decimal(38,0)") * F.col("xu")).alias("sxx"),
        F.sum(F.col("yu").cast("decimal(38,0)") * F.col("xu")).alias("sxy"),
    )
    n = F.col("n")
    r = F.col("sy").cast("double") / F.col("sx")
    se = F.sqrt(
        (n.cast("double") / (n - F.lit(1.0)))
        * (
            F.col("syy").cast("double")
            - F.lit(2.0) * r * F.col("sxy").cast("double")
            + r * r * F.col("sxx").cast("double")
        )
        / (F.col("sx").cast("double") * F.col("sx"))
    )
    return s.select(
        n.alias("n_users"),
        F.col("sx").alias("n_events"),
        F.round(r / F.lit(1e6), 6).alias("ratio"),
        F.round(se / F.lit(1e6), 6).alias("se"),
        F.round((r - F.lit(_Z975) * se) / F.lit(1e6), 6).alias("ci_lo"),
        F.round((r + F.lit(_Z975) * se) / F.lit(1e6), 6).alias("ci_hi"),
    )


@register(
    "difference_in_differences_priority",
    """
    WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                      CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
                           THEN 1 ELSE 0 END AS trt,
                      CASE WHEN o_orderdate >= DATE '1996-01-01'
                           THEN 1 ELSE 0 END AS post
               FROM orders),
    c AS (SELECT trt, post, COUNT(*)::BIGINT AS n,
                 SUM(cents)::BIGINT AS s1,
                 SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
          FROM o GROUP BY trt, post),
    m AS (SELECT trt, post, n, s1::DOUBLE / n AS mean,
                 (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n)
                   / ((n - 1.0) * n) AS mvar
          FROM c),
    w AS (SELECT
            MAX(CASE WHEN trt = 1 AND post = 0 THEN mean END) AS m_t_pre,
            MAX(CASE WHEN trt = 1 AND post = 1 THEN mean END) AS m_t_post,
            MAX(CASE WHEN trt = 0 AND post = 0 THEN mean END) AS m_c_pre,
            MAX(CASE WHEN trt = 0 AND post = 1 THEN mean END) AS m_c_post,
            SUM(mvar) AS var_did,
            SUM(n)::BIGINT AS n_orders
          FROM m)
    SELECT n_orders,
           ROUND(m_t_pre, 6) AS m_t_pre, ROUND(m_t_post, 6) AS m_t_post,
           ROUND(m_c_pre, 6) AS m_c_pre, ROUND(m_c_post, 6) AS m_c_post,
           ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did_cents,
           ROUND(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
                 / sqrt(var_did), 6) AS z_did
    FROM w
    """,
)
def difference_in_differences_priority(spark, sf_dir):
    """Difference-in-differences on mean order value: high-priority
    orders (URGENT/HIGH) as the "treated" group, the 1996 calendar
    break as the intervention — DiD removes both the stable
    group-level gap and the common time shock, which neither
    `weekend_purchase_effect` (one difference) nor
    `stratified_ate_weekend_value` (cross-section) nets out; this is
    the panel-data estimator every pricing/launch analysis reaches for
    when randomization wasn't available. Four cells' counts and exact
    integer cents moments fold in one aggregation; cell means,
    variance-of-mean and the DiD z use the standard independent-cell
    normal approximation, all fixed-order doubles of exact numbers.

    Scale: one corpus scan to a 4-row cell frame — the cheapest
    possible causal estimate."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(
            F.substring("o_orderpriority", 1, 1).isin("1", "2"), 1
        ).otherwise(0).alias("trt"),
        F.when(F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"), 1)
        .otherwise(0)
        .alias("post"),
    )
    c = o.groupBy("trt", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "s2"
        ),
    )
    n = F.col("n")
    m = c.select(
        "trt",
        "post",
        "n",
        (F.col("s1").cast("double") / n).alias("mean"),
        (
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double") / n
            )
            / ((n - F.lit(1.0)) * n)
        ).alias("mvar"),
    )
    cell = lambda t, p: F.max(  # noqa: E731
        F.when((F.col("trt") == t) & (F.col("post") == p), F.col("mean"))
    )
    w = m.agg(
        cell(1, 0).alias("m_t_pre"),
        cell(1, 1).alias("m_t_post"),
        cell(0, 0).alias("m_c_pre"),
        cell(0, 1).alias("m_c_post"),
        F.sum("mvar").alias("var_did"),
        F.sum("n").cast("bigint").alias("n_orders"),
    )
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    return w.select(
        "n_orders",
        F.round("m_t_pre", 6).alias("m_t_pre"),
        F.round("m_t_post", 6).alias("m_t_post"),
        F.round("m_c_pre", 6).alias("m_c_pre"),
        F.round("m_c_post", 6).alias("m_c_post"),
        F.round(did, 6).alias("did_cents"),
        F.round(did / F.sqrt(F.col("var_did")), 6).alias("z_did"),
    )


@register(
    "ab_power_mde",
    f"""
    WITH e AS (SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                      END AS wk,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END AS conv
               FROM events),
    s AS (SELECT SUM(CASE WHEN wk = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
                 SUM(CASE WHEN wk = 1 THEN 1 ELSE 0 END)::BIGINT AS n2,
                 SUM(CASE WHEN wk = 0 THEN conv ELSE 0 END)::BIGINT AS c1
          FROM e),
    f AS (SELECT n1, n2, c1::DOUBLE / n1 AS p FROM s)
    SELECT n1 AS n_weekday, n2 AS n_weekend,
           ROUND(p, 6) AS p_base,
           ROUND(({_Z975!r} + {_Z80!r})
                 * sqrt(p * (1.0 - p) * (1.0 / n1 + 1.0 / n2)), 6)
             AS mde_abs,
           ROUND(({_Z975!r} + {_Z80!r})
                 * sqrt(p * (1.0 - p) * (1.0 / n1 + 1.0 / n2)) / p, 6)
             AS mde_rel
    FROM f
    """,
)
def ab_power_mde(spark, sf_dir):
    """Minimum detectable effect of the weekday-vs-weekend conversion
    comparison at alpha = 5% (two-sided) and 80% power — the question
    every experiment review asks BEFORE reading
    `ab_test_conversion_ztest`'s verdict: "could this test even see a
    lift worth caring about?" MDE = (z_0.975 + z_0.8) *
    sqrt(p(1-p)(1/n1 + 1/n2)) on the observed control (weekday) rate,
    reported absolute and relative. Counts fold exactly; both z
    quantiles are Python-precomputed Acklam literals (the _Z_975
    discipline — and z_0.8 joins the pinned table); the MDE is one
    fixed-order expression.

    Scale: one corpus scan to a 3-number row."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    s = e.agg(
        F.sum(F.when(F.col("wk") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("wk") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("wk") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    p = F.col("c1").cast("double") / F.col("n1")
    mde = (F.lit(_Z975) + F.lit(_Z80)) * F.sqrt(
        p
        * (F.lit(1.0) - p)
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return s.select(
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        F.round(p, 6).alias("p_base"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 6).alias("mde_rel"),
    )
