"""Nonparametric / distribution-free statistics and streaming-sketch
audits: Spearman rank correlation, Kruskal-Wallis, the Wald-Wolfowitz
runs test, lagged autocorrelation, and the AMS F2 sketch.

These extend the evaluation family (plans/evaluation.py) with the tests
an analyst reaches for when the value distributions are NOT normal-ish —
which the QQ audit in this registry shows they aren't: rank correlation
instead of Pearson, a rank ANOVA instead of the F test, a randomness
test on the revenue sequence, and the second-moment sketch that prices
what a distributed F2 estimate costs vs the exact answer. None exist in
the reference (veriservice.proto has no evaluation surface) — north-star
extensions per SURVEY.md §7 phase 6, built on the registry's determinism
idioms: rank math on DOUBLED midranks (exact BIGINTs from the
distributed prefix scan — the score_auc_mann_whitney pattern), moment
sums as exact DECIMAL(38,0) folds cast ::DOUBLE once, per-group nano
quantization before any cross-row fold of doubles, and engine-sensitive
constants as Python-side literals.

Scale shapes: every query collapses the corpus with one (or two)
partial-aggregated scans to a BOUNDED frame — a value domain, a
calendar-day grid, a 16-row estimator panel — before any ordered or
pairwise step; prefix scans ride operators/ranking.py (no unpartitioned
windows anywhere).

Registered into ``plans._base.QUERIES``/``ORACLES`` at import like every
domain module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions.hashing import dd_hash, portable_hash64
from veri_spark.operators.ranking import global_prefix_agg, global_row_number
from veri_spark.sources.catalog import load_table

from veri_spark.plans._base import daily_cents, register

# chi-square(4 df) 95% critical value — the event_type domain has 5
# groups, so the Kruskal-Wallis statistic has 4 degrees of freedom. A
# Python-side literal like the probit grid (engine quantile functions are
# never trusted); standard table value, e.g. Abramowitz & Stegun 26.4.
_CHI2_95_DF4 = 9.487729036781154


def _mid2(df: DataFrame, value_col: str, cnt_col: str = "cnt") -> DataFrame:
    """DOUBLED tie-correct midranks over a value-grain count frame: the
    distributed prefix scan orders the value DOMAIN and 2*cum_before +
    cnt + 1 keeps every midrank an exact BIGINT (the
    score_auc_mann_whitney idiom — no row-level sort anywhere)."""
    p = global_prefix_agg(
        df, [F.col(value_col).asc()], cnt_col, agg="sum", out_col="cum_incl"
    )
    return p.withColumn(
        "mid2",
        (
            2 * (F.col("cum_incl") - F.col(cnt_col)) + F.col(cnt_col) + 1
        ).cast("bigint"),
    )


@register(
    "spearman_qty_price",
    """
    WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS x, l_extendedprice AS y
                FROM lineitem),
    gx AS (SELECT x, COUNT(*)::BIGINT AS cnt FROM li GROUP BY x),
    rx AS (SELECT x, 2 * (SUM(cnt) OVER (ORDER BY x ASC) - cnt) + cnt + 1
                    AS mid2 FROM gx),
    gy AS (SELECT y, COUNT(*)::BIGINT AS cnt FROM li GROUP BY y),
    ry AS (SELECT y, 2 * (SUM(cnt) OVER (ORDER BY y ASC) - cnt) + cnt + 1
                    AS mid2 FROM gy),
    j AS (SELECT rx.mid2 AS dx, ry.mid2 AS dy
          FROM li JOIN rx USING (x) JOIN ry USING (y)),
    s AS (SELECT COUNT(*)::BIGINT AS n,
                 SUM(CAST(dx AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(dy AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(dx AS DECIMAL(38,0)) * dx) AS sxx,
                 SUM(CAST(dy AS DECIMAL(38,0)) * dy) AS syy,
                 SUM(CAST(dx AS DECIMAL(38,0)) * dy) AS sxy
          FROM j)
    SELECT n AS n_rows,
           CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                 AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
                THEN ROUND((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                           / sqrt((n::DOUBLE * sxx::DOUBLE
                                   - sx::DOUBLE * sx::DOUBLE)
                                  * (n::DOUBLE * syy::DOUBLE
                                     - sy::DOUBLE * sy::DOUBLE)), 6)
                ELSE NULL END AS spearman_rho
    FROM s
    """,
)
def spearman_qty_price(spark, sf_dir):
    """Spearman rank correlation between line quantity and extended
    price — the distribution-free dependence readout for a pair where
    Pearson is dominated by price's heavy tail. Rho is Pearson ON THE
    MIDRANKS: both variables get tie-correct DOUBLED midranks (exact
    BIGINTs, quantity ties are massive — 50 distinct values), the five
    moment sums fold as exact DECIMAL(38,0) (order-insensitive at any
    parallelism), and rho is ONE fixed-order double expression of six
    exact numbers — identical in both engines. The constant-variable
    guard (nSxx = Sx^2) mirrors cross-engine rather than risking x/0.

    Scale shape: two value-grain count aggregates, two distributed
    prefix scans over the value DOMAINS (50-row quantity domain,
    vocabulary-sized price domain — never corpus-sized), a broadcast
    join for the quantity ranks plus one shuffle join for the price
    ranks, then a single partial-aggregated moment scan. The doubled
    midranks keep every intermediate under DECIMAL(38,0) to ~1e9 rows
    per variable."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    gx = li.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    rx = _mid2(gx, "x").select("x", F.col("mid2").alias("dx"))
    gy = li.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ry = _mid2(gy, "y").select("y", F.col("mid2").alias("dy"))
    j = li.join(F.broadcast(rx), "x").join(ry, "y")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec("dx")).alias("sx"),
        F.sum(dec("dy")).alias("sy"),
        F.sum(dec("dx") * F.col("dx")).alias("sxx"),
        F.sum(dec("dy") * F.col("dy")).alias("syy"),
        F.sum(dec("dx") * F.col("dy")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    vx = nd * F.col("sxx").cast("double") - sx * sx
    vy = nd * F.col("syy").cast("double") - sy * sy
    rho = (nd * F.col("sxy").cast("double") - sx * sy) / F.sqrt(vx * vy)
    return s.select(
        F.col("n").alias("n_rows"),
        F.when((vx > 0) & (vy > 0), F.round(rho, 6)).alias("spearman_rho"),
    )


@register(
    "kruskal_wallis_value_by_type",
    f"""
    WITH e AS (SELECT event_type, value FROM events),
    gv AS (SELECT value, COUNT(*)::BIGINT AS cnt FROM e GROUP BY value),
    rv AS (SELECT value, cnt,
                  2 * (SUM(cnt) OVER (ORDER BY value ASC) - cnt) + cnt + 1
                    AS mid2 FROM gv),
    vt AS (SELECT value, event_type, COUNT(*)::BIGINT AS cnt_vt
           FROM e GROUP BY value, event_type),
    grp AS (SELECT vt.event_type,
                   SUM(vt.cnt_vt)::BIGINT AS n_g,
                   SUM(vt.cnt_vt * rv.mid2)::BIGINT AS r2_g
            FROM vt JOIN rv USING (value) GROUP BY vt.event_type),
    nn AS (SELECT SUM(n_g)::DOUBLE AS nd FROM grp),
    tot AS (SELECT SUM(g.n_g)::BIGINT AS n,
                   COUNT(*)::BIGINT AS k,
                   SUM(CAST(round(1e9 * (3.0 * (g.r2_g::DOUBLE
                                                * g.r2_g::DOUBLE / g.n_g)
                                         / (nn.nd * (nn.nd + 1.0))))
                            AS BIGINT))::BIGINT AS term_nano
            FROM grp g CROSS JOIN nn),
    ties AS (SELECT COALESCE(SUM(cnt * cnt * cnt - cnt), 0)::BIGINT AS t3
             FROM gv WHERE cnt > 1),
    h AS (SELECT tot.n, tot.k,
                 tot.term_nano / 1e9 - 3.0 * (tot.n::DOUBLE + 1.0) AS h_raw,
                 1.0 - ties.t3::DOUBLE
                       / (tot.n::DOUBLE * tot.n::DOUBLE * tot.n::DOUBLE
                          - tot.n::DOUBLE) AS c
          FROM tot CROSS JOIN ties)
    SELECT n AS n_events, k AS n_groups,
           ROUND(h_raw, 6) AS h,
           CASE WHEN c > 0 THEN ROUND(h_raw / c, 6) ELSE NULL END
             AS h_tie_corrected,
           CASE WHEN c > 0 AND k = 5 THEN h_raw / c > {_CHI2_95_DF4!r}
                ELSE NULL END AS differs_95
    FROM h
    """,
)
def kruskal_wallis_value_by_type(spark, sf_dir):
    """Kruskal-Wallis rank test: do the five event types draw their
    `value` from the same distribution? The distribution-free ANOVA the
    QQ audit says this corpus needs (values are nowhere near normal), and
    the k-group generalization of the Mann-Whitney machinery the AUC
    query already uses. H = 3/(N(N+1)) * sum_g R2_g^2/n_g - 3(N+1) on
    DOUBLED midranks (R2_g = 2*R_g, absorbing the usual 12/(N(N+1)) and
    /4): rank sums are exact BIGINTs from the value-domain prefix scan
    joined to per-(value, type) counts — the corpus never gets a
    row-level rank. Each group's H term is nano-quantized from one
    fixed-order double expression of exact integers (the Brier
    decomposition idiom) so the 5-term fold is order-proof; the tie
    correction C = 1 - sum(t^3-t)/(N^3-N) folds exact BIGINTs. The 95%
    verdict compares against the Python-side chi-square(4 df) literal —
    df is pinned by the event_type domain, and the verdict NULLs when
    k != 5 (round-9 advisor: a drifted domain must degrade VISIBLY
    rather than silently test against the wrong df; h itself stays
    reported).

    Scale: two partial-aggregated scans (value grain, value x type
    grain), one prefix scan over the value DOMAIN, one value-grain join
    — no shuffle carries more than the distinct-value frame."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    gv = e.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    rv = _mid2(gv, "value").select("value", "cnt", "mid2")
    vt = e.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_vt")
    )
    grp = (
        vt.join(rv.select("value", "mid2"), "value")
        .groupBy("event_type")
        .agg(
            F.sum("cnt_vt").cast("bigint").alias("n_g"),
            F.sum(F.col("cnt_vt") * F.col("mid2"))
            .cast("bigint")
            .alias("r2_g"),
        )
    )
    tot_n = grp.agg(F.sum("n_g").cast("double").alias("nd"))
    term = F.round(
        F.lit(1e9)
        * (
            F.lit(3.0)
            * (F.col("r2_g").cast("double") * F.col("r2_g").cast("double") / F.col("n_g"))
            / (F.col("nd") * (F.col("nd") + F.lit(1.0)))
        )
    ).cast("bigint")
    tot = (
        grp.crossJoin(F.broadcast(tot_n))
        .agg(
            F.sum("n_g").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(term).cast("bigint").alias("term_nano"),
        )
    )
    ties = gv.filter(F.col("cnt") > 1).agg(
        F.coalesce(
            F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("t3")
    )
    nd = F.col("n").cast("double")
    h_raw = F.col("term_nano") / F.lit(1e9) - F.lit(3.0) * (nd + F.lit(1.0))
    c = F.lit(1.0) - F.col("t3").cast("double") / (nd * nd * nd - nd)
    return (
        tot.crossJoin(F.broadcast(ties))
        .select(
            F.col("n").alias("n_events"),
            F.col("k").alias("n_groups"),
            F.round(h_raw, 6).alias("h"),
            F.when(c > 0, F.round(h_raw / c, 6)).alias("h_tie_corrected"),
            F.when(
                (c > 0) & (F.col("k") == 5),
                h_raw / c > F.lit(_CHI2_95_DF4),
            ).alias("differs_95"),
        )
    )


@register(
    "runs_test_daily_revenue",
    """
    WITH d AS (SELECT l_shipdate AS day,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                           * 100 AS BIGINT) AS cents
               FROM lineitem GROUP BY l_shipdate),
    m AS (SELECT quantile_cont(cents, 0.5) AS med FROM d),
    s AS (SELECT day,
                 CASE WHEN cents > m.med THEN 1 ELSE 0 END AS sgn,
                 row_number() OVER (ORDER BY day ASC) AS rn
          FROM d CROSS JOIN m
          WHERE cents::DOUBLE <> m.med),
    adj AS (SELECT COALESCE(SUM(CASE WHEN a.sgn = b.sgn THEN 1 ELSE 0 END),
                            0)::BIGINT AS n_same
            FROM s a JOIN s b ON b.rn = a.rn + 1),
    c AS (SELECT COUNT(*)::BIGINT AS n_kept, SUM(sgn)::BIGINT AS n1 FROM s),
    z AS (SELECT c.n_kept, c.n1, (c.n_kept - c.n1)::BIGINT AS n2,
                 (c.n_kept - adj.n_same)::BIGINT AS runs,
                 2.0 * c.n1 * (c.n_kept - c.n1) / c.n_kept + 1.0 AS mu
          FROM c CROSS JOIN adj)
    SELECT n_kept AS n_days, n1 AS n_above, n2 AS n_below, runs AS n_runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n_kept > 1
                 AND (mu - 1.0) * (mu - 2.0) / (n_kept - 1.0) > 0
                THEN ROUND((runs - mu)
                           / sqrt((mu - 1.0) * (mu - 2.0) / (n_kept - 1.0)),
                           6)
                ELSE NULL END AS z_runs
    FROM z
    """,
)
def runs_test_daily_revenue(spark, sf_dir):
    """Wald-Wolfowitz runs test on the daily-revenue sequence: are
    above-median and below-median days RANDOMLY interleaved, or does
    revenue cluster (momentum / regime shifts that invalidate any
    i.i.d.-based monitor in this registry)? Days collapse to exact
    integer CENTS (DECIMAL(28,10) fold * 100 — extendedprice has two
    decimals), the median is the same interpolated quantile both engines
    proved parity on (`events_value_quantiles`), median-equal days drop
    (the standard treatment), and runs are counted as n - #same-sign
    adjacencies via the rank-shift self-join (the SNM idiom) over the
    calendar-BOUNDED day frame — the corpus is touched by exactly one
    partial-aggregated scan. The z statistic uses the compact identity
    sigma^2 = (mu-1)(mu-2)/(n-1): one fixed-order double expression of
    exact integers, with degenerate cases (all-above, all-below, n<=1)
    guarded to NULL identically in both engines."""
    d = daily_cents(spark, sf_dir)
    m = d.agg(F.percentile("cents", F.lit(0.5)).alias("med"))
    s = (
        d.crossJoin(F.broadcast(m))
        .filter(F.col("cents").cast("double") != F.col("med"))
        .select(
            "day",
            F.when(F.col("cents") > F.col("med"), 1).otherwise(0).alias("sgn"),
        )
    )
    s = global_row_number(s, [F.col("day").asc()], rn_col="rn")
    a = s.select(F.col("rn").alias("ra"), F.col("sgn").alias("sa"))
    b = s.select((F.col("rn") - 1).alias("ra"), F.col("sgn").alias("sb"))
    adj = a.join(b, "ra").agg(
        F.coalesce(
            F.sum(F.when(F.col("sa") == F.col("sb"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_same")
    )
    c = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("sgn").cast("bigint").alias("n1"),
    )
    z = c.crossJoin(F.broadcast(adj)).select(
        "n_kept",
        "n1",
        (F.col("n_kept") - F.col("n1")).cast("bigint").alias("n2"),
        (F.col("n_kept") - F.col("n_same")).cast("bigint").alias("runs"),
        (
            F.lit(2.0)
            * F.col("n1")
            * (F.col("n_kept") - F.col("n1"))
            / F.col("n_kept")
            + F.lit(1.0)
        ).alias("mu"),
    )
    var = (
        (F.col("mu") - F.lit(1.0))
        * (F.col("mu") - F.lit(2.0))
        / (F.col("n_kept") - F.lit(1.0))
    )
    return z.select(
        F.col("n_kept").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("runs").alias("n_runs"),
        F.when(
            (F.col("n1") > 0)
            & (F.col("n2") > 0)
            & (F.col("n_kept") > 1)
            & (var > 0),
            F.round((F.col("runs") - F.col("mu")) / F.sqrt(var), 6),
        ).alias("z_runs"),
    )


@register(
    "acf_daily_revenue",
    """
    WITH d AS (SELECT l_shipdate AS day,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                           * 100 AS BIGINT) AS cents
               FROM lineitem GROUP BY l_shipdate),
    r AS (SELECT cents, row_number() OVER (ORDER BY day ASC) AS rn FROM d),
    p AS (SELECT k.lag, a.cents AS x, b.cents AS y
          FROM generate_series(1, 7) AS k(lag)
          JOIN r a ON TRUE
          JOIN r b ON b.rn = a.rn + k.lag),
    s AS (SELECT lag, COUNT(*)::BIGINT AS m,
                 SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                 SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
                 SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
                 SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
          FROM p GROUP BY lag)
    SELECT lag, m AS n_pairs,
           CASE WHEN (m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                 AND (m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
                THEN ROUND((m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                           / sqrt((m::DOUBLE * sxx::DOUBLE
                                   - sx::DOUBLE * sx::DOUBLE)
                                  * (m::DOUBLE * syy::DOUBLE
                                     - sy::DOUBLE * sy::DOUBLE)), 6)
                ELSE NULL END AS acf
    FROM s ORDER BY lag ASC
    """,
)
def acf_daily_revenue(spark, sf_dir):
    """Lag-1..7 autocorrelation of daily revenue — the weekly-memory
    readout that says whether yesterday predicts today (lag 1) and
    whether the weekly cycle `daily_seasonal_decomposition` models is
    visible as a lag-7 peak. Per lag k it is the PEARSON correlation of
    the (day t, day t+k) pairs (the re-centering-per-lag variant, exact
    and self-contained per row of output): days collapse to exact
    integer cents, the spine's day rank rn orders the sequence, the
    7 lag copies come from one broadcast lags frame joined on rn+k, and
    the five moment sums per lag fold as exact DECIMAL(38,0) — the final
    correlation is one fixed-order double expression per lag with the
    degenerate-variance guard mirrored cross-engine.

    Scale: the corpus is touched by ONE partial-aggregated scan; all
    pairwise work happens on the calendar-bounded day frame (~2.5k rows
    regardless of SF), so the lag join is broadcast-sized at any data
    volume."""
    r = daily_cents(spark, sf_dir).select("rn", "cents")
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = r.select(F.col("rn").alias("ra"), F.col("cents").alias("x"))
    b = r.select(F.col("rn").alias("rb"), F.col("cents").alias("y"))
    p = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("rb") == F.col("ra") + F.col("lag"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    md = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    vx = md * F.col("sxx").cast("double") - sx * sx
    vy = md * F.col("syy").cast("double") - sy * sy
    acf = (md * F.col("sxy").cast("double") - sx * sy) / F.sqrt(vx * vy)
    return (
        s.select(
            "lag",
            F.col("m").alias("n_pairs"),
            F.when((vx > 0) & (vy > 0), F.round(acf, 6)).alias("acf"),
        )
        .orderBy(F.col("lag").asc())
    )


@register(
    "ams_f2_sketch_audit",
    f"""
    WITH c AS (SELECT user_id, COUNT(*)::BIGINT AS cnt
               FROM events GROUP BY user_id),
    h AS (SELECT cnt, {dd_hash("user_id::VARCHAR", "'ams'")} AS hv FROM c),
    z AS (SELECT i.i,
                 SUM((1 - 2 * ((hv >> i.i) & 1)) * cnt)::BIGINT AS zi
          FROM h CROSS JOIN generate_series(0, 15) AS i(i)
          GROUP BY i.i),
    est AS (SELECT list_sort(list(zi * zi)) AS l FROM z),
    ex AS (SELECT COUNT(*)::BIGINT AS n_users,
                  SUM(cnt * cnt)::BIGINT AS f2 FROM c)
    SELECT ex.n_users, ex.f2 AS f2_exact,
           ((est.l[8] + est.l[9]) // 2)::BIGINT AS f2_ams_median,
           CASE WHEN ex.f2 > 0
                THEN ROUND(((est.l[8] + est.l[9]) // 2 - ex.f2) * 1.0
                           / ex.f2, 6)
                ELSE NULL END AS rel_err
    FROM ex CROSS JOIN est
    """,
)
def ams_f2_sketch_audit(spark, sf_dir):
    """AMS second-moment sketch (Alon-Matias-Szegedy) audited against the
    exact F2 of the per-user event counts — the repeat-concentration
    statistic (F2/N^2 is the Simpson index the lang-diversity query
    uses) that a 100 TB stream would estimate with O(1) memory instead
    of a user-grain aggregate. Sixteen independent estimators: each
    takes a +-1 sign per user from one bit of the portable 60-bit hash
    (bits 0..15 of ONE md5 — the poisson_bootstrap slicing idiom),
    folds the signed BIGINT sum Z_i = sum s_i(u)*c_u, and squares it;
    E[Z^2] = F2. The audit reports the pair-averaged median of the 16
    estimates ((e8+e9) div 2 on the sorted panel — integer floor,
    mirrored in both engines) and its relative error vs exact.

    Determinism + scale: everything is BIGINT until the final error
    division; the sketch side is ONE partial-aggregated pass producing
    16 signed sums (a production stream keeps 16 counters and never
    materializes the user grain — here both sides share the count frame
    so the audit compares like for like); the 16-element panel sorts as
    an in-row array, no window."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    h = c.select(
        "cnt", portable_hash64(F.col("user_id").cast("string"), "ams").alias("hv")
    )
    zcols = [
        F.sum(
            (1 - 2 * F.shiftright(F.col("hv"), i).bitwiseAND(F.lit(1)))
            * F.col("cnt")
        )
        .cast("bigint")
        .alias(f"z{i}")
        for i in range(16)
    ]
    z = h.agg(*zcols)
    est = z.select(
        F.array_sort(
            F.array(*[F.col(f"z{i}") * F.col(f"z{i}") for i in range(16)])
        ).alias("l")
    )
    ex = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("f2"),
    )
    med = ((F.col("l")[7] + F.col("l")[8]) / 2).cast("bigint")
    return ex.crossJoin(F.broadcast(est)).select(
        "n_users",
        F.col("f2").alias("f2_exact"),
        med.alias("f2_ams_median"),
        F.when(
            F.col("f2") > 0,
            F.round((med - F.col("f2")) * F.lit(1.0) / F.col("f2"), 6),
        ).alias("rel_err"),
    )


@register(
    "cliffs_delta_purchase_view",
    """
    WITH e AS (SELECT event_type, value FROM events
               WHERE event_type IN ('purchase', 'view')),
    gv AS (SELECT value, COUNT(*)::BIGINT AS cnt FROM e GROUP BY value),
    rv AS (SELECT value, cnt,
                  2 * (SUM(cnt) OVER (ORDER BY value ASC) - cnt) + cnt + 1
                    AS mid2 FROM gv),
    vt AS (SELECT value,
                  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END)::BIGINT AS cp
           FROM e GROUP BY value),
    s AS (SELECT SUM(vt.cp)::BIGINT AS n1,
                 SUM(rv.cnt - vt.cp)::BIGINT AS n2,
                 SUM(vt.cp * rv.mid2)::BIGINT AS r2_1
          FROM vt JOIN rv USING (value))
    SELECT n1 AS n_purchase, n2 AS n_view,
           CASE WHEN n1 > 0 AND n2 > 0
                THEN ROUND((r2_1 - n1 * (n1 + 1.0) - n1 * (n2 * 1.0))
                           / (n1 * (n2 * 1.0)), 6)
                ELSE NULL END AS cliffs_delta
    FROM s
    """,
)
def cliffs_delta_purchase_view(spark, sf_dir):
    """Cliff's delta between purchase and view event values — the
    ordinal EFFECT SIZE that answers "by how much do purchase values
    dominate?" after Kruskal-Wallis answers "do the types differ at
    all?" (a significance test says nothing about magnitude at large N;
    delta in [-1, 1] does). Computed WITHOUT the n1*n2 pairwise scan via
    the rank identity delta = 2*AUC - 1 with U from the Mann-Whitney
    midrank sum: on DOUBLED midranks, delta = (R2_1 - n1(n1+1) - n1*n2)
    / (n1*n2) — R2_1 is the exact BIGINT doubled-rank sum of the
    purchase group from the same value-domain prefix scan the AUC and
    Kruskal-Wallis queries ride, so the whole statistic is one
    fixed-order double expression of three exact integers (ties handled
    by midranks, which is exactly the P(>) - P(<) semantics of delta).
    Empty-group degenerates guard to NULL in both engines.

    Scale: one filtered scan to the (value, type) grain, one prefix scan
    over the value DOMAIN, one value-grain join."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select("event_type", "value")
    gv = e.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    rv = _mid2(gv, "value").select("value", "cnt", "mid2")
    vt = e.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("cp")
    )
    s = vt.join(rv, "value").agg(
        F.sum("cp").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("cp")).cast("bigint").alias("n2"),
        F.sum(F.col("cp") * F.col("mid2")).cast("bigint").alias("r2_1"),
    )
    delta = (
        F.col("r2_1")
        - F.col("n1") * (F.col("n1") + F.lit(1.0))
        - F.col("n1") * (F.col("n2") * F.lit(1.0))
    ) / (F.col("n1") * (F.col("n2") * F.lit(1.0)))
    return s.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_view"),
        F.when((F.col("n1") > 0) & (F.col("n2") > 0), F.round(delta, 6)).alias(
            "cliffs_delta"
        ),
    )


@register(
    "mood_median_test_by_type",
    f"""
    WITH e AS (SELECT event_type, value FROM events),
    m AS (SELECT quantile_cont(value, 0.5) AS med FROM e),
    k AS (SELECT event_type,
                 SUM(CASE WHEN value > m.med THEN 1 ELSE 0 END)::BIGINT
                   AS a_g,
                 SUM(CASE WHEN value < m.med THEN 1 ELSE 0 END)::BIGINT
                   AS b_g
          FROM e CROSS JOIN m GROUP BY event_type),
    t AS (SELECT SUM(a_g)::BIGINT AS ta, SUM(b_g)::BIGINT AS tb FROM k),
    c AS (SELECT CASE WHEN t.ta > 0 AND t.tb > 0
                 THEN CAST(round(1e9 * (
                       (k.a_g - (k.a_g + k.b_g) * (t.ta * 1.0)
                                / (t.ta + t.tb))
                       * (k.a_g - (k.a_g + k.b_g) * (t.ta * 1.0)
                                  / (t.ta + t.tb))
                       / ((k.a_g + k.b_g) * (t.ta * 1.0) / (t.ta + t.tb))
                     + (k.b_g - (k.a_g + k.b_g) * (t.tb * 1.0)
                                / (t.ta + t.tb))
                       * (k.b_g - (k.a_g + k.b_g) * (t.tb * 1.0)
                                  / (t.ta + t.tb))
                       / ((k.a_g + k.b_g) * (t.tb * 1.0) / (t.ta + t.tb))))
                      AS BIGINT) ELSE NULL END AS chi_nano
          FROM k CROSS JOIN t WHERE k.a_g + k.b_g > 0),
    s AS (SELECT COUNT(*)::BIGINT AS n_groups,
                 SUM(chi_nano) AS chi_nano_sum FROM c)
    SELECT (t.ta + t.tb)::BIGINT AS n_classified,
           s.n_groups,
           ROUND(s.chi_nano_sum / 1e9, 6) AS chi2_mood,
           CASE WHEN s.n_groups = 5
                THEN s.chi_nano_sum / 1e9 > {_CHI2_95_DF4!r}
                ELSE NULL END AS medians_differ_95
    FROM s CROSS JOIN t
    """,
)
def mood_median_test_by_type(spark, sf_dir):
    """Mood's median test: classify every event as above/below the GRAND
    median of `value` and chi-square the 2x5 contingency of side x
    event_type — the blunt, outlier-immune cousin of Kruskal-Wallis
    (it uses only which side of the median a value falls on, so a
    divergence between the two tests flags tail-driven differences).
    The grand median is the engine-parity interpolated quantile
    (`events_value_quantiles` idiom); median-equal values drop from the
    table (the standard treatment). Round 10 (round-9 advisor): the
    expected counts ea/eb are only positive when the GROUP has classified
    mass (a_g + b_g > 0 — a group whose values all equal the grand
    median would put 0/0 = NaN into the fold) AND both margins are
    occupied (ta > 0 and tb > 0 — >=50% corpus mass AT the median
    empties one side); both guards mirror in the SQL (WHERE a_g+b_g>0,
    CASE on ta/tb) and the Spark plan (filter + F.when, which
    short-circuits so ANSI mode never evaluates the division). Each
    group's two (O-E)^2/E terms are nano-quantized from ONE fixed-order
    double expression of exact BIGINTs (the Brier/KW idiom) so the
    5-group fold is order-proof; the verdict compares against the
    chi-square(4 df) Python literal and NULLs when the classified group
    count drifts off 5 (the df the literal encodes — same pin as
    Kruskal-Wallis).

    Scale: one aggregate for the median, one partial-aggregated scan to
    the 5-row group frame. At 100 TB the exact quantile swaps for
    percentile_approx and nothing else moves."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    m = e.agg(F.percentile("value", F.lit(0.5)).alias("med"))
    k = (
        e.crossJoin(F.broadcast(m))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") > F.col("med"), 1).otherwise(0))
            .cast("bigint")
            .alias("a_g"),
            F.sum(F.when(F.col("value") < F.col("med"), 1).otherwise(0))
            .cast("bigint")
            .alias("b_g"),
        )
    )
    t = k.agg(
        F.sum("a_g").cast("bigint").alias("ta"),
        F.sum("b_g").cast("bigint").alias("tb"),
    )
    ng = F.col("a_g") + F.col("b_g")
    ea = ng * (F.col("ta") * F.lit(1.0)) / (F.col("ta") + F.col("tb"))
    eb = ng * (F.col("tb") * F.lit(1.0)) / (F.col("ta") + F.col("tb"))
    term = (
        (F.col("a_g") - ea) * (F.col("a_g") - ea) / ea
        + (F.col("b_g") - eb) * (F.col("b_g") - eb) / eb
    )
    c = (
        k.filter(F.col("a_g") + F.col("b_g") > 0)
        .crossJoin(F.broadcast(t))
        .select(
            F.when(
                (F.col("ta") > 0) & (F.col("tb") > 0),
                F.round(F.lit(1e9) * term).cast("bigint"),
            ).alias("chi_nano"),
        )
    )
    s = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("chi_nano").alias("chi_nano_sum"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        (F.col("ta") + F.col("tb")).cast("bigint").alias("n_classified"),
        F.col("n_groups"),
        F.round(F.col("chi_nano_sum") / F.lit(1e9), 6).alias("chi2_mood"),
        F.when(
            F.col("n_groups") == 5,
            F.col("chi_nano_sum") / F.lit(1e9) > F.lit(_CHI2_95_DF4),
        ).alias("medians_differ_95"),
    )


@register(
    "durbin_watson_daily_revenue",
    """
    WITH d AS (SELECT l_shipdate AS day,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                           * 100 AS BIGINT) AS cents
               FROM lineitem GROUP BY l_shipdate),
    r AS (SELECT cents, row_number() OVER (ORDER BY day ASC) AS rn FROM d),
    num AS (SELECT SUM(CAST(b.cents - a.cents AS DECIMAL(38,0))
                       * (b.cents - a.cents)) AS sd2
            FROM r a JOIN r b ON b.rn = a.rn + 1),
    den AS (SELECT COUNT(*)::BIGINT AS n,
                   SUM(CAST(cents AS DECIMAL(38,0))) AS sx,
                   SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS sxx
            FROM r)
    SELECT den.n AS n_days,
           CASE WHEN (den.n::DOUBLE * den.sxx::DOUBLE
                      - den.sx::DOUBLE * den.sx::DOUBLE) > 0
                THEN ROUND(den.n::DOUBLE * num.sd2::DOUBLE
                           / (den.n::DOUBLE * den.sxx::DOUBLE
                              - den.sx::DOUBLE * den.sx::DOUBLE), 6)
                ELSE NULL END AS dw
    FROM num CROSS JOIN den
    """,
)
def durbin_watson_daily_revenue(spark, sf_dir):
    """Durbin-Watson statistic of the mean-centered daily-revenue
    series: DW = sum (x_t - x_(t-1))^2 / sum (x_t - xbar)^2 — near 2
    means no lag-1 autocorrelation, toward 0 positive, toward 4
    negative. The single-number companion to `acf_daily_revenue`'s
    7-lag curve (DW ~ 2(1 - acf_1) when the series is long), kept
    because it is THE standard first look at residual autocorrelation.
    Uses the exact integer identity: the numerator folds squared
    adjacent differences of exact cents as DECIMAL(38,0) via the same
    rank-shift join as the runs test, the denominator is
    (n*sum x^2 - (sum x)^2)/n folded the same way, so DW = n*sd2 /
    (n*sxx - sx^2) is ONE fixed-order double expression of three exact
    decimals — no mean is ever materialized, no float crosses rows. The
    constant-series degenerate guards to NULL identically. Corpus cost:
    one partial-aggregated scan; everything after is the bounded
    calendar-day frame."""
    r = daily_cents(spark, sf_dir).select("rn", "cents")
    a = r.select(F.col("rn").alias("ra"), F.col("cents").alias("x"))
    b = r.select((F.col("rn") - 1).alias("ra"), F.col("cents").alias("y"))
    num = a.join(b, "ra").agg(
        F.sum(
            (F.col("y") - F.col("x")).cast("decimal(38,0)")
            * (F.col("y") - F.col("x"))
        ).alias("sd2")
    )
    den = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "sxx"
        ),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    var = nd * F.col("sxx").cast("double") - sx * sx
    return num.crossJoin(F.broadcast(den)).select(
        F.col("n").alias("n_days"),
        F.when(
            var > 0,
            F.round(nd * F.col("sd2").cast("double") / var, 6),
        ).alias("dw"),
    )


# normal 97.5% quantile (Acklam probit literal — the plans/evaluation._Z_975
# rule) and chi-square 95% critical values for 6 df (Friedman, k=7) and the
# F(4, inf) limit (Brown-Forsythe, 5 groups) = chi2(4df)/4.
_Z_975 = 1.959963984540054
_CHI2_95_DF6 = 12.591587243743977
_F_95_DF4_INF = 9.487729036781154 / 4.0


@register(
    "wilcoxon_signed_rank_yoy",
    f"""
    WITH d AS (SELECT l_shipdate AS day,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                           * 100 AS BIGINT) AS cents
               FROM lineitem
               WHERE l_shipdate >= DATE '1996-01-01'
                 AND l_shipdate < DATE '1998-01-01'
               GROUP BY l_shipdate),
    p AS (SELECT b.cents - a.cents AS diff
          FROM d a JOIN d b
            ON EXTRACT(month FROM b.day) = EXTRACT(month FROM a.day)
           AND EXTRACT(day FROM b.day) = EXTRACT(day FROM a.day)
           AND EXTRACT(year FROM a.day) = 1996
           AND EXTRACT(year FROM b.day) = 1997
          WHERE b.cents <> a.cents),
    g AS (SELECT abs(diff) AS ad, COUNT(*)::BIGINT AS cnt,
                 SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END)::BIGINT AS pos
          FROM p GROUP BY abs(diff)),
    r AS (SELECT ad, cnt, pos,
                 2 * (SUM(cnt) OVER (ORDER BY ad ASC) - cnt) + cnt + 1
                   AS mid2 FROM g),
    s AS (SELECT SUM(cnt)::BIGINT AS n,
                 SUM(pos * mid2)::BIGINT AS w2p,
                 COALESCE(SUM(CASE WHEN cnt > 1
                                   THEN cnt * cnt * cnt - cnt
                                   ELSE 0 END), 0)::BIGINT AS t3
          FROM r)
    SELECT n AS n_pairs, w2p AS w2_plus,
           CASE WHEN n > 0
                 AND (n * (n + 1.0) * (2.0 * n + 1.0) / 6.0
                      - t3 / 12.0) > 0
                THEN ROUND((w2p - n * (n + 1.0) / 2.0)
                           / sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 6.0
                                  - t3 / 12.0), 6)
                ELSE NULL END AS z_wilcoxon
    FROM s
    """,
)
def wilcoxon_signed_rank_yoy(spark, sf_dir):
    """Wilcoxon signed-rank test on PAIRED daily revenues: each calendar
    (month, day) pairs its 1996 revenue with its 1997 revenue, and the
    test asks whether the year-over-year shift is systematic — the
    paired, distribution-free alternative to a t-test on noisy revenue
    differences, and the paired complement of the independent-sample
    machinery (Kruskal-Wallis/Cliff's delta) this module already has.
    Feb 29 drops out of the inner calendar join by construction; zero
    diffs drop per the standard treatment. |diff| midranks come from
    the same value-domain prefix scan idiom (_mid2) on the bounded
    <=365-row pair frame; with DOUBLED ranks the statistic is
    z = (W2+ - n(n+1)/2) / sqrt(n(n+1)(2n+1)/6 - T/12) with
    T = sum(t^3 - t) the tie correction — every input an exact BIGINT,
    one fixed-order double expression at the end, degenerates guarded
    to NULL in both engines.

    Scale: one filtered partial-aggregated scan to the day grain
    (shipdate predicate pushed to parquet); everything after is the
    calendar-bounded pair frame."""
    # grouping by l_shipdate commutes with a shipdate predicate, so the
    # session-shared day grain + post-filter is the identical frame (the
    # pushed-to-parquet predicate is traded for sharing the one scan)
    d = daily_cents(spark, sf_dir).filter(
        (F.col("day") >= F.lit("1996-01-01").cast("date"))
        & (F.col("day") < F.lit("1998-01-01").cast("date"))
    )
    a = d.filter(F.year("day") == 1996).select(
        F.month("day").alias("m"),
        F.dayofmonth("day").alias("dd"),
        F.col("cents").alias("ca"),
    )
    b = d.filter(F.year("day") == 1997).select(
        F.month("day").alias("m"),
        F.dayofmonth("day").alias("dd"),
        F.col("cents").alias("cb"),
    )
    p = (
        a.join(b, ["m", "dd"])
        .filter(F.col("cb") != F.col("ca"))
        .select((F.col("cb") - F.col("ca")).alias("diff"))
    )
    g = p.groupBy(F.abs(F.col("diff")).alias("ad")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    r = _mid2(g, "ad")
    s = r.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("pos") * F.col("mid2")).cast("bigint").alias("w2p"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("cnt") > 1,
                    F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"),
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("t3"),
    )
    nd = F.col("n").cast("double")
    var = nd * (nd + 1.0) * (2.0 * nd + 1.0) / F.lit(6.0) - F.col(
        "t3"
    ) / F.lit(12.0)
    z = (F.col("w2p") - nd * (nd + 1.0) / F.lit(2.0)) / F.sqrt(var)
    return s.select(
        F.col("n").alias("n_pairs"),
        F.col("w2p").alias("w2_plus"),
        F.when((F.col("n") > 0) & (var > 0), F.round(z, 6)).alias(
            "z_wilcoxon"
        ),
    )


@register(
    "friedman_weekday_revenue",
    f"""
    WITH d0 AS (SELECT MIN(l_shipdate) AS day0 FROM lineitem),
    d AS (SELECT l_shipdate AS day,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                      * 100 AS BIGINT) AS cents
          FROM lineitem GROUP BY l_shipdate),
    w AS (SELECT (date_diff('day', d0.day0, day) // 7)::BIGINT AS blk,
                 dayofweek(day)::INT AS wd, cents
          FROM d CROSS JOIN d0),
    full_w AS (SELECT blk FROM w GROUP BY blk HAVING COUNT(*) = 7),
    r AS (SELECT w.blk, w.wd,
                 2 * (RANK() OVER (PARTITION BY w.blk
                                   ORDER BY w.cents ASC) - 1)
                 + COUNT(*) OVER (PARTITION BY w.blk, w.cents) + 1 AS r2
          FROM w JOIN full_w USING (blk)),
    col_sums AS (SELECT wd, SUM(r2)::BIGINT AS r2_j,
                        COUNT(*)::BIGINT AS n_blk
                 FROM r GROUP BY wd),
    s AS (SELECT MAX(n_blk)::BIGINT AS n,
                 SUM(CAST(r2_j AS DECIMAL(38,0)) * r2_j) AS sr2
          FROM col_sums)
    SELECT n AS n_weeks,
           ROUND(3.0 * sr2::DOUBLE / (n * 56.0) - 3.0 * n * 8.0, 6)
             AS chi2_friedman,
           ROUND((3.0 * sr2::DOUBLE / (n * 56.0) - 3.0 * n * 8.0)
                 / (n * 6.0), 6) AS kendall_w,
           (3.0 * sr2::DOUBLE / (n * 56.0) - 3.0 * n * 8.0)
             > {_CHI2_95_DF6!r} AS weekday_effect_95
    FROM s
    """,
)
def friedman_weekday_revenue(spark, sf_dir):
    """Friedman rank test with Kendall's W: treating each COMPLETE 7-day
    week as a block and the weekday as the treatment, do weekdays rank
    consistently by revenue across weeks? The blocked, distribution-free
    two-way companion to `daily_seasonal_decomposition` (which fits the
    weekday effect; this tests it) and Kruskal-Wallis (unblocked): by
    ranking WITHIN each week, week-to-week level shifts — trend,
    holidays — cancel entirely. Kendall's W = chi2/(n(k-1)) in [0,1] is
    the effect size: 1 means every week ranks weekdays identically.
    Blocks are 7-day buckets from the corpus's first ship date
    (engine-safe integer arithmetic, no weekofyear); incomplete head/
    tail weeks drop so k is exactly 7. Within-block DOUBLED midranks
    come from PARTITIONED window functions (rank + equal-count — never
    a global window): r2 = 2*(RANK()-1) + |ties| + 1, an exact BIGINT
    identical in both engines; the column sums R2_j fold as BIGINTs and
    chi2 = 3*sum(R2_j^2)/(56n) - 24n (the doubled-rank form of
    12/(nk(k+1)) * sum R_j^2 - 3n(k+1) at k=7) is one fixed-order
    double expression against the chi-square(6 df) Python literal.

    Scale: one partial-aggregated corpus scan to the day grain; the
    window runs inside 7-row calendar blocks."""
    d = daily_cents(spark, sf_dir)
    # min(l_shipdate) over the corpus == min(day) over the day grain
    d0 = d.agg(F.min("day").alias("day0"))
    w = d.crossJoin(F.broadcast(d0)).select(
        F.expr("CAST(datediff(day, day0) div 7 AS BIGINT)").alias("blk"),
        (F.dayofweek("day") - 1).cast("int").alias("wd"),
        "cents",
    )
    full_w = (
        w.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") == 7)
        .select("blk")
    )
    wj = w.join(F.broadcast(full_w), "blk")
    r2 = (
        2
        * (
            F.rank().over(Window.partitionBy("blk").orderBy(F.col("cents").asc()))
            - 1
        )
        + F.count(F.lit(1)).over(Window.partitionBy("blk", "cents"))
        + 1
    ).cast("bigint")
    col_sums = (
        wj.select("wd", r2.alias("r2"))
        .groupBy("wd")
        .agg(
            F.sum("r2").cast("bigint").alias("r2_j"),
            F.count(F.lit(1)).cast("bigint").alias("n_blk"),
        )
    )
    s = col_sums.agg(
        F.max("n_blk").cast("bigint").alias("n"),
        F.sum(F.col("r2_j").cast("decimal(38,0)") * F.col("r2_j")).alias(
            "sr2"
        ),
    )
    nd = F.col("n").cast("double")
    chi2 = (
        F.lit(3.0) * F.col("sr2").cast("double") / (nd * F.lit(56.0))
        - F.lit(3.0) * nd * F.lit(8.0)
    )
    return s.select(
        F.col("n").alias("n_weeks"),
        F.round(chi2, 6).alias("chi2_friedman"),
        F.round(chi2 / (nd * F.lit(6.0)), 6).alias("kendall_w"),
        (chi2 > F.lit(_CHI2_95_DF6)).alias("weekday_effect_95"),
    )


@register(
    "levene_value_by_type",
    f"""
    WITH e AS (SELECT event_type, value FROM events),
    med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
            FROM e GROUP BY event_type),
    z AS (SELECT e.event_type,
                 CAST(FLOOR(1e3 * abs(e.value - med.m) + 0.5) AS BIGINT)
                   AS zm
          FROM e JOIN med USING (event_type)),
    g AS (SELECT event_type, COUNT(*)::BIGINT AS n_g,
                 SUM(CAST(zm AS DECIMAL(38,0))) AS s_g,
                 SUM(CAST(zm AS DECIMAL(38,0)) * zm) AS q_g
          FROM z GROUP BY event_type),
    t AS (SELECT SUM(n_g)::BIGINT AS n, COUNT(*)::BIGINT AS k,
                 SUM(s_g) AS st, SUM(q_g) AS qt,
                 SUM(CAST(round(s_g::DOUBLE * s_g::DOUBLE / n_g)
                          AS BIGINT))::BIGINT AS gsum_u
          FROM g),
    f AS (SELECT n, k,
                 (gsum_u * 1.0 - st::DOUBLE * st::DOUBLE / n)
                   / (k - 1.0) AS between_ms,
                 (qt::DOUBLE - gsum_u * 1.0) / (n - k * 1.0)
                   AS within_ms
          FROM t)
    SELECT n AS n_events, k AS n_groups,
           CASE WHEN within_ms > 0
                THEN ROUND(between_ms / within_ms, 6)
                ELSE NULL END AS f_brown_forsythe,
           CASE WHEN within_ms > 0
                THEN between_ms / within_ms > {_F_95_DF4_INF!r}
                ELSE NULL END AS spread_differs_95
    FROM f
    """,
)
def levene_value_by_type(spark, sf_dir):
    """Brown-Forsythe (median-centered Levene) test: do the five event
    types differ in SPREAD, not just location? Kruskal-Wallis and the
    median test compare centers; this one-way ANOVA on the absolute
    deviations from each group's MEDIAN (the Brown-Forsythe variant —
    robust where mean-centered Levene is not) completes the
    location/spread pair. Per-row deviations are micro-quantized
    integers (|value - group median|: the median is the proven
    engine-parity interpolated quantile, the abs difference one
    correctly-rounded double op, the floor(+0.5) on a nonnegative
    value), so the group moment sums fold as exact DECIMAL(38,0); the
    per-group S_g^2/n_g terms are UNIT-quantized from one fixed-order
    double each (S_g^2 overflows int64; the terms themselves reach
    ~2.5e17, so whole-unit rounding keeps them in BIGINT with <= 0.5
    absolute — ~2e-18 relative — error, identical in both engines) and
    the F statistic is
    one double expression against the F(4, inf) literal chi2_4/4.

    Scale: one aggregate for the 5 medians, one partial-aggregated
    deviation scan — nothing after the 5-row group frame."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.floor(F.lit(1e3) * F.abs(F.col("value") - F.col("m")) + F.lit(0.5))
        .cast("bigint")
        .alias("zm"),
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(F.col("zm").cast("decimal(38,0)")).alias("s_g"),
        F.sum(F.col("zm").cast("decimal(38,0)") * F.col("zm")).alias("q_g"),
    )
    gterm = F.round(
        F.col("s_g").cast("double")
        * F.col("s_g").cast("double")
        / F.col("n_g")
    ).cast("bigint")
    t = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s_g").alias("st"),
        F.sum("q_g").alias("qt"),
        F.sum(gterm).cast("bigint").alias("gsum_u"),
    )
    nd = F.col("n").cast("double")
    between = (
        F.col("gsum_u") * F.lit(1.0)
        - F.col("st").cast("double") * F.col("st").cast("double") / F.col("n")
    ) / (F.col("k") - F.lit(1.0))
    within = (F.col("qt").cast("double") - F.col("gsum_u") * F.lit(1.0)) / (
        nd - F.col("k") * F.lit(1.0)
    )
    return t.select(
        F.col("n").alias("n_events"),
        F.col("k").alias("n_groups"),
        F.when(within > 0, F.round(between / within, 6)).alias(
            "f_brown_forsythe"
        ),
        F.when(within > 0, between / within > F.lit(_F_95_DF4_INF)).alias(
            "spread_differs_95"
        ),
    )


@register(
    "theil_u2_daily_forecast",
    """
    WITH d AS (SELECT l_shipdate AS day,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                           * 100 AS BIGINT) AS cents
               FROM lineitem GROUP BY l_shipdate),
    r AS (SELECT cents, row_number() OVER (ORDER BY day ASC) AS rn FROM d),
    p AS (SELECT c.cents AS x, b.cents AS lag1, a.cents AS lag7
          FROM r c JOIN r b ON b.rn = c.rn - 1
                   JOIN r a ON a.rn = c.rn - 7),
    s AS (SELECT COUNT(*)::BIGINT AS n,
                 SUM(CAST(x - lag7 AS DECIMAL(38,0)) * (x - lag7))
                   AS sse_seasonal,
                 SUM(CAST(x - lag1 AS DECIMAL(38,0)) * (x - lag1))
                   AS sse_naive
          FROM p)
    SELECT n AS n_days_scored,
           CASE WHEN sse_naive > 0
                THEN ROUND(sqrt(sse_seasonal::DOUBLE / sse_naive::DOUBLE), 6)
                ELSE NULL END AS u2_seasonal_vs_naive,
           CASE WHEN sse_naive > 0
                THEN sse_seasonal::DOUBLE < sse_naive::DOUBLE
                ELSE NULL END AS seasonal_beats_naive
    FROM s
    """,
)
def theil_u2_daily_forecast(spark, sf_dir):
    """Theil's U2 comparing the SEASONAL naive forecast (this day last
    week, lag 7) against the plain naive forecast (yesterday, lag 1) on
    daily revenue: U2 = sqrt(SSE_seasonal / SSE_naive) < 1 means the
    weekly cycle carries real forecasting value — the squared-error,
    daily-grain companion of `hourly_seasonal_naive_mase` (absolute
    error, hourly) and the practical readout of `acf_daily_revenue`'s
    lag-7 peak. Both error sums are exact DECIMAL(38,0) folds of
    squared integer-cent differences over the calendar-bounded day
    frame (both lags come from the spine's day rank and two shifted
    equi-joins — the SNM idiom — restricted to days where BOTH
    forecasts exist so the comparison is paired); U2 is one
    double sqrt of their ratio with the degenerate-naive guard mirrored
    cross-engine. Corpus cost: one partial-aggregated scan."""
    r = daily_cents(spark, sf_dir).select("rn", "cents")
    c = r.select(F.col("rn").alias("rc"), F.col("cents").alias("x"))
    b = r.select((F.col("rn") + 1).alias("rc"), F.col("cents").alias("lag1"))
    a = r.select((F.col("rn") + 7).alias("rc"), F.col("cents").alias("lag7"))
    p = c.join(b, "rc").join(a, "rc")
    s = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            (F.col("x") - F.col("lag7")).cast("decimal(38,0)")
            * (F.col("x") - F.col("lag7"))
        ).alias("sse_seasonal"),
        F.sum(
            (F.col("x") - F.col("lag1")).cast("decimal(38,0)")
            * (F.col("x") - F.col("lag1"))
        ).alias("sse_naive"),
    )
    return s.select(
        F.col("n").alias("n_days_scored"),
        F.when(
            F.col("sse_naive") > 0,
            F.round(
                F.sqrt(
                    F.col("sse_seasonal").cast("double")
                    / F.col("sse_naive").cast("double")
                ),
                6,
            ),
        ).alias("u2_seasonal_vs_naive"),
        F.when(
            F.col("sse_naive") > 0,
            F.col("sse_seasonal").cast("double")
            < F.col("sse_naive").cast("double"),
        ).alias("seasonal_beats_naive"),
    )


@register(
    "hodges_lehmann_quantity",
    """
    WITH g AS (SELECT CAST(l_quantity AS BIGINT) AS v,
                      COUNT(*)::BIGINT AS c
               FROM lineitem GROUP BY 1),
    t AS (SELECT SUM(c)::BIGINT AS n FROM g),
    w AS (SELECT a.v + b.v AS walsh,
                 SUM(CASE WHEN a.v < b.v THEN a.c * b.c
                          WHEN a.v = b.v THEN (a.c * (a.c + 1)) // 2
                          ELSE 0 END)::BIGINT AS wt
          FROM g a JOIN g b ON a.v <= b.v
          GROUP BY a.v + b.v),
    p AS (SELECT w.walsh, SUM(w2.wt)::BIGINT AS cumw
          FROM w JOIN w w2 ON w2.walsh <= w.walsh
          GROUP BY w.walsh),
    k AS (SELECT ((t.n * (t.n + 1)) // 2) AS m,
                 (((t.n * (t.n + 1)) // 2) + 1) // 2 AS k1,
                 (((t.n * (t.n + 1)) // 2) + 2) // 2 AS k2
          FROM t),
    sel AS (SELECT MIN(CASE WHEN p.cumw >= k.k1 THEN p.walsh END) AS w_lo,
                   MIN(CASE WHEN p.cumw >= k.k2 THEN p.walsh END) AS w_hi
            FROM p CROSS JOIN k)
    SELECT (SELECT n FROM t) AS n_rows,
           (SELECT m FROM k) AS n_walsh_pairs,
           (w_lo + w_hi)::BIGINT AS hl_quarter_units,
           ROUND((w_lo + w_hi) / 4.0, 6) AS hodges_lehmann
    FROM sel
    """,
)
def hodges_lehmann_quantity(spark, sf_dir):
    """Hodges-Lehmann location estimator of l_quantity: the median of
    all n(n+1)/2 pairwise Walsh averages (x_i + x_j)/2, i <= j — the
    point estimate the Wilcoxon signed-rank test inverts
    (`wilcoxon_signed_rank_yoy`'s machinery tests; this ESTIMATES), ~95%
    Gaussian-efficient yet 29%-breakdown robust, the standard answer to
    'a robust mean that wastes less than the median'. The quadratic
    pair space never materializes at row grain: values collapse to the
    50-value DOMAIN, Walsh pair weights come from the bounded 50x50
    triangular cell join with the EXACT integer multiplicities (c_a*c_b
    off-diagonal, c(c+1)/2 on it), the weighted median comes from a
    bounded prefix (triangular join over <= 99 distinct Walsh sums, no
    window), and the two middle order statistics are MIN-over-threshold
    selections on exact BIGINT cumulative weights. Doubled-sum trick:
    Walsh values are kept as v_a + v_b (integers), so the median of
    averages is (w_lo + w_hi)/4 — a division by 4 that is EXACT in
    binary, making hodges_lehmann itself bit-exact with no rounding
    risk. Even/odd total-pair parity is handled by the k1/k2 rank pair
    (equal when odd).

    Scale: one partial-aggregated corpus scan to the value domain;
    everything after is broadcast arithmetic on <= 99 rows. Integer
    widths: n(n+1)/2 needs DECIMAL(38,0) past ~3e9 rows (noted; exact
    BIGINT at every gate SF)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("v")
    )
    g = li.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    t = g.agg(F.sum("c").cast("bigint").alias("n"))
    a = g.select(F.col("v").alias("va"), F.col("c").alias("ca"))
    b = g.select(F.col("v").alias("vb"), F.col("c").alias("cb"))
    w = (
        a.join(F.broadcast(b), F.col("va") <= F.col("vb"))
        .groupBy((F.col("va") + F.col("vb")).alias("walsh"))
        .agg(
            F.sum(
                F.when(F.col("va") < F.col("vb"), F.col("ca") * F.col("cb"))
                .when(
                    F.col("va") == F.col("vb"),
                    F.shiftright(F.col("ca") * (F.col("ca") + 1), 1),
                )
                .otherwise(0)
            )
            .cast("bigint")
            .alias("wt")
        )
    )
    w2 = w.select(F.col("walsh").alias("walsh2"), F.col("wt").alias("wt2"))
    p = (
        w.join(F.broadcast(w2), F.col("walsh2") <= F.col("walsh"))
        .groupBy("walsh")
        .agg(F.sum("wt2").cast("bigint").alias("cumw"))
    )
    k = t.select(
        F.col("n"),
        F.shiftright(F.col("n") * (F.col("n") + 1), 1).alias("m"),
    ).select(
        "n",
        "m",
        F.shiftright(F.col("m") + 1, 1).alias("k1"),
        F.shiftright(F.col("m") + 2, 1).alias("k2"),
    )
    sel = p.crossJoin(F.broadcast(k)).agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.min(F.when(F.col("cumw") >= F.col("k1"), F.col("walsh"))).alias(
            "w_lo"
        ),
        F.min(F.when(F.col("cumw") >= F.col("k2"), F.col("walsh"))).alias(
            "w_hi"
        ),
    )
    return sel.select(
        F.col("n").alias("n_rows"),
        F.col("m").alias("n_walsh_pairs"),
        (F.col("w_lo") + F.col("w_hi")).cast("bigint").alias(
            "hl_quarter_units"
        ),
        F.round((F.col("w_lo") + F.col("w_hi")) / F.lit(4.0), 6).alias(
            "hodges_lehmann"
        ),
    )


# ---------------------------------------------------------------------------
# Round 10: distribution-shape tests — Jarque-Bera normality (the moment
# companion to value_qq_normal_audit's quantile view) and the chi-square
# goodness-of-fit for weekday uniformity.
# ---------------------------------------------------------------------------

# chi-square 95% critical values at 2 and 6 df (Abramowitz & Stegun
# 26.4; Python literals per the registry's constant rule).
_CHI2_95_DF2 = 5.991464547107979
_CHI2_95_DF6 = 12.591587243743977


@register(
    "jarque_bera_value",
    f"""
    WITH s AS (SELECT COUNT(*)::BIGINT AS n,
                      SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE AS s1,
                      SUM(CAST(value * value AS DECIMAL(28,4)))::DOUBLE AS s2,
                      SUM(CAST(value * value * value AS DECIMAL(38,6)))::DOUBLE
                        AS s3,
                      SUM(CAST(value * value * value * value
                               AS DECIMAL(38,8)))::DOUBLE AS s4
               FROM events),
    m AS (SELECT n,
                 s2 / n - (s1 / n) * (s1 / n) AS m2,
                 s3 / n - 3.0 * (s1 / n) * (s2 / n)
                        + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                 s4 / n - 4.0 * (s1 / n) * (s3 / n)
                        + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                        - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                   AS m4
          FROM s WHERE n > 3)
    SELECT n AS n_events,
           CASE WHEN m2 > 0 THEN ROUND(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)),
                                       6) ELSE NULL END AS skewness,
           CASE WHEN m2 > 0 THEN ROUND(m4 / (m2 * m2) - 3.0, 6)
                ELSE NULL END AS excess_kurtosis,
           CASE WHEN m2 > 0
                THEN ROUND(n / 6.0 *
                       ((m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                        * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                        + 0.25 * (m4 / (m2 * m2) - 3.0)
                               * (m4 / (m2 * m2) - 3.0)), 6)
                ELSE NULL END AS jb_stat,
           CASE WHEN m2 > 0
                THEN n / 6.0 *
                       ((m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                        * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
                        + 0.25 * (m4 / (m2 * m2) - 3.0)
                               * (m4 / (m2 * m2) - 3.0))
                     > {_CHI2_95_DF2!r}
                ELSE NULL END AS non_normal_95
    FROM m
    """,
)
def jarque_bera_value(spark, sf_dir):
    """Jarque-Bera normality test of the event `value` distribution:
    JB = n/6 * (S^2 + K^2/4) with S the moment skewness and K the excess
    kurtosis — the MOMENT view of non-normality next to
    `value_qq_normal_audit`'s quantile view (QQ localizes WHERE the
    shape deviates; JB is the single-number gate a pipeline thresholds
    on before trusting z-machinery). Raw power sums up to value^4 fold
    as exact DECIMALs in one scan (value has 2 decimal digits, so
    value^4 is exact in DECIMAL(38,8)); the central moments m2/m3/m4
    are single fixed-order double expressions of those five exact
    numbers (the standard raw-to-central identities), mirrored
    token-for-token. Constant values (m2 = 0) guard to NULL; the 95%
    verdict uses the chi-square(2 df) Python literal — JB is
    asymptotically chi2_2 and n here is ~6e5.

    Scale: one partial-aggregated scan to five numbers."""
    v = F.col("value")
    s = load_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v.cast("decimal(18,2)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(28,4)")).cast("double").alias("s2"),
        F.sum((v * v * v).cast("decimal(38,6)")).cast("double").alias("s3"),
        F.sum((v * v * v * v).cast("decimal(38,8)")).cast("double").alias("s4"),
    ).filter(F.col("n") > 3)
    n = F.col("n")
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = (
        F.col("s3") / n
        - F.lit(3.0) * mean * (F.col("s2") / n)
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * mean * (F.col("s3") / n)
        + F.lit(6.0) * mean * mean * (F.col("s2") / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    sk = m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))
    ku = m4 / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (sk * sk + F.lit(0.25) * ku * ku)
    return s.select(
        n.alias("n_events"),
        F.when(m2 > 0, F.round(sk, 6)).alias("skewness"),
        F.when(m2 > 0, F.round(ku, 6)).alias("excess_kurtosis"),
        F.when(m2 > 0, F.round(jb, 6)).alias("jb_stat"),
        F.when(m2 > 0, jb > F.lit(_CHI2_95_DF2)).alias("non_normal_95"),
    )


@register(
    "chi2_goodness_weekday_orders",
    f"""
    WITH c AS (SELECT dayofweek(o_orderdate)::BIGINT AS dow,
                      COUNT(*)::BIGINT AS o
               FROM orders GROUP BY 1),
    t AS (SELECT SUM(o)::BIGINT AS n, COUNT(*)::BIGINT AS k FROM c),
    q AS (SELECT c.dow, c.o,
                 CAST(FLOOR(1e9 * (c.o - t.n / (t.k * 1.0))
                                * (c.o - t.n / (t.k * 1.0))
                                / (t.n / (t.k * 1.0)) + 0.5) AS BIGINT)
                   AS term_nano
          FROM c CROSS JOIN t WHERE t.n > 0)
    SELECT t.n AS n_orders, t.k AS n_days,
           ROUND(SUM(q.term_nano) / 1e9, 6) AS chi2_uniform,
           CASE WHEN t.k = 7
                THEN SUM(q.term_nano) / 1e9 > {_CHI2_95_DF6!r}
                ELSE NULL END AS non_uniform_95
    FROM q CROSS JOIN t GROUP BY t.n, t.k
    """,
)
def chi2_goodness_weekday_orders(spark, sf_dir):
    """Chi-square goodness-of-fit of order volume against weekday
    uniformity — the one-dimensional GoF the registry's independence
    chi-squares (`lang_source_chi2`, `cramers_v_type_weekday`) never
    cover, and the first sanity gate on a synthetic or sampled corpus
    (a weekday skew this test flags invalidates every day-of-week
    readout downstream). Per-day (O - E)^2 / E terms are nano-quantized
    from ONE fixed-order double expression of exact BIGINT counts (the
    Mood/KW idiom) so the 7-row fold is order-proof; the verdict
    compares against the chi-square(6 df) Python literal and NULLs when
    the observed day-domain drifts off 7 (the KW df pin — a calendar
    ingestion bug degrades visibly instead of misreporting
    significance).

    Scale: one partial-aggregated scan to a 7-row frame."""
    c = (
        load_table(spark, sf_dir, "orders")
        .groupBy((F.dayofweek("o_orderdate") - F.lit(1)).cast("bigint").alias("dow"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    t = c.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    e = F.col("n") / (F.col("k") * F.lit(1.0))
    q = (
        c.crossJoin(F.broadcast(t))
        .filter(F.col("n") > 0)
        .select(
            "n",
            "k",
            F.floor(
                F.lit(1e9) * (F.col("o") - e) * (F.col("o") - e) / e + F.lit(0.5)
            )
            .cast("bigint")
            .alias("term_nano"),
        )
    )
    return q.groupBy("n", "k").agg(
        F.round(F.sum("term_nano") / F.lit(1e9), 6).alias("chi2_uniform"),
        F.when(
            F.col("k") == 7,
            F.sum("term_nano") / F.lit(1e9) > F.lit(_CHI2_95_DF6),
        ).alias("non_uniform_95"),
    ).select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("n_days"),
        "chi2_uniform",
        "non_uniform_95",
    )


@register(
    "bartlett_test_value_by_type",
    f"""
    WITH g AS (SELECT event_type,
                      COUNT(*)::BIGINT AS n_g,
                      SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE AS s1_g,
                      SUM(CAST(value * value AS DECIMAL(28,4)))::DOUBLE AS s2_g
               FROM events GROUP BY event_type),
    v AS (SELECT event_type, n_g,
                 (s2_g - s1_g * s1_g / n_g) AS ss_g
          FROM g WHERE n_g > 1),
    q AS (SELECT n_g,
                 CAST(FLOOR(1000000 * ss_g + 0.5) AS BIGINT) AS ss_micro,
                 CAST(FLOOR(1000000000 * (n_g - 1)
                            * ln(ss_g / (n_g - 1.0)) + 0.5) AS BIGINT)
                   AS lnterm_nano,
                 CAST(FLOOR(1000000000 / (n_g - 1.0) + 0.5) AS BIGINT)
                   AS inv_nano
          FROM v WHERE ss_g > 0),
    t AS (SELECT COUNT(*)::BIGINT AS k, SUM(n_g)::BIGINT AS n,
                 SUM(ss_micro) AS ss_sum,
                 SUM(lnterm_nano) AS ln_sum,
                 SUM(inv_nano) AS inv_sum
          FROM q)
    SELECT k AS n_groups, n AS n_events,
           CASE WHEN n > k AND k > 1 AND ss_sum > 0
                THEN ROUND(((n - k) * ln(ss_sum / 1e6 / (n - k))
                            - ln_sum / 1e9)
                           / (1.0 + (inv_sum / 1e9 - 1.0 / (n - k))
                                    / (3.0 * (k - 1))), 6)
                ELSE NULL END AS bartlett_chi2,
           CASE WHEN n > k AND k = 5 AND ss_sum > 0
                THEN ((n - k) * ln(ss_sum / 1e6 / (n - k))
                      - ln_sum / 1e9)
                     / (1.0 + (inv_sum / 1e9 - 1.0 / (n - k))
                              / (3.0 * (k - 1)))
                     > {_CHI2_95_DF4!r}
                ELSE NULL END AS variances_differ_95
    FROM t
    """,
)
def bartlett_test_value_by_type(spark, sf_dir):
    """Bartlett's test for variance homogeneity across the 5 event
    types — the PARAMETRIC companion to `levene_value_by_type` and
    `brown_forsythe` (Bartlett is the likelihood-ratio test, most
    powerful under normality but famously sensitive to heavy tails;
    disagreement between Bartlett and Levene is itself the diagnostic,
    and `jarque_bera_value` says which to trust). chi2 = [(N-k) ln Sp^2
    - sum (n_i-1) ln S_i^2] / C with the Bartlett correction
    C = 1 + (sum 1/(n_i-1) - 1/(N-k)) / (3(k-1)). Per-group exact
    DECIMAL moments collapse in one scan; each group's within-SS,
    (n_i-1) ln S_i^2 term, and 1/(n_i-1) term are micro/nano-quantized
    from fixed-order double expressions BEFORE the k-row fold
    (order-proof); zero-variance groups drop via ss_g > 0 (their log
    diverges) and the verdict NULLs when the group count drifts off the
    4-df literal's domain (the KW pin).

    Scale: one partial-aggregated scan to a 5-row frame."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("s1_g"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(28,4)"))
            .cast("double")
            .alias("s2_g"),
        )
        .filter(F.col("n_g") > 1)
    )
    ss = F.col("s2_g") - F.col("s1_g") * F.col("s1_g") / F.col("n_g")
    q = g.select(
        "n_g",
        ss.alias("ss_g"),
    ).filter(F.col("ss_g") > 0).select(
        "n_g",
        F.floor(F.lit(1000000.0) * F.col("ss_g") + F.lit(0.5))
        .cast("bigint")
        .alias("ss_micro"),
        F.floor(
            F.lit(1000000000.0)
            * (F.col("n_g") - 1)
            * F.log(F.col("ss_g") / (F.col("n_g") - F.lit(1.0)))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lnterm_nano"),
        F.floor(F.lit(1000000000.0) / (F.col("n_g") - F.lit(1.0)) + F.lit(0.5))
        .cast("bigint")
        .alias("inv_nano"),
    )
    t = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("ss_micro").alias("ss_sum"),
        F.sum("lnterm_nano").alias("ln_sum"),
        F.sum("inv_nano").alias("inv_sum"),
    )
    k, n = F.col("k"), F.col("n")
    chi2 = (
        (n - k) * F.log(F.col("ss_sum") / F.lit(1e6) / (n - k))
        - F.col("ln_sum") / F.lit(1e9)
    ) / (
        F.lit(1.0)
        + (F.col("inv_sum") / F.lit(1e9) - F.lit(1.0) / (n - k))
        / (F.lit(3.0) * (k - F.lit(1.0)))
    )
    ok = (n > k) & (F.col("ss_sum") > 0)
    return t.select(
        k.alias("n_groups"),
        n.alias("n_events"),
        F.when(ok & (k > 1), F.round(chi2, 6)).alias("bartlett_chi2"),
        F.when(ok & (k == 5), chi2 > F.lit(_CHI2_95_DF4)).alias(
            "variances_differ_95"
        ),
    )


@register(
    "siegel_repeated_median_trend",
    """
    WITH d AS (SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                        ::BIGINT AS x,
                      SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        ::BIGINT AS yq
               FROM orders GROUP BY 1),
    p AS (SELECT a.x AS xi, a.yq AS yi,
                 (b.yq - a.yq)::DOUBLE / (b.x - a.x) AS slope
          FROM d a JOIN d b ON a.x <> b.x),
    rnk AS (SELECT xi, slope,
                   row_number() OVER (PARTITION BY xi
                                      ORDER BY slope ASC) AS rn,
                   COUNT(*) OVER (PARTITION BY xi) AS cnt
            FROM p),
    im AS (SELECT xi,
                  AVG(CASE WHEN rn = (cnt + 1) // 2
                            OR rn = (cnt + 2) // 2 THEN slope END) AS med
           FROM rnk GROUP BY xi),
    om AS (SELECT med,
                  row_number() OVER (ORDER BY med ASC) AS rn,
                  COUNT(*) OVER () AS cnt
           FROM im),
    slope_star AS (SELECT AVG(CASE WHEN rn = (cnt + 1) // 2
                                    OR rn = (cnt + 2) // 2
                               THEN med END) AS s FROM om),
    res AS (SELECT d.yq::DOUBLE - slope_star.s * d.x AS r
            FROM d CROSS JOIN slope_star),
    rr AS (SELECT r, row_number() OVER (ORDER BY r ASC) AS rn,
                  COUNT(*) OVER () AS cnt
           FROM res)
    SELECT (SELECT COUNT(*) FROM d)::BIGINT AS n_days,
           ROUND(slope_star.s, 6) AS slope_cents_per_day,
           (SELECT ROUND(AVG(CASE WHEN rn = (cnt + 1) // 2
                                   OR rn = (cnt + 2) // 2 THEN r END), 2)
            FROM rr) AS intercept_cents
    FROM slope_star
    """,
)
def siegel_repeated_median_trend(spark, sf_dir):
    """Siegel repeated-median regression (Siegel, Biometrika 1982) of
    daily revenue on time — the MAXIMALLY robust line fit: Theil-Sen
    (already shipped) breaks down at 29.3% contamination; the repeated
    median (slope = median_i median_{j != i} pairwise slope) reaches the
    50% breakdown optimum, so a corrupted ingest that poisons HALF the
    days still cannot move this trend line. The pair against
    `theil_sen_daily_trend` is the robustness ladder a pipeline
    dashboard wants both rungs of.

    Exactness: x is integer epoch-days (all distinct — no zero
    denominators), y is cents-exact, so every pairwise slope is the same
    double in both engines; medians are computed POSITIONALLY (the two
    middle row_numbers averaged), never via an engine median() whose
    interpolation rules could differ; value ties make the position pick
    order-proof. The inner median windows are PARTITIONED per anchor
    day; the two outer medians rank the calendar-bounded spine (2,399
    rows at any SF — the adjudicated bounded-frame exemption, same as
    bartels/pettitt).

    Scale: ONE corpus scan to the day grain, a broadcast n^2 pair frame
    on the bounded spine (~5.8M slopes), partitioned rank windows, two
    bounded-frame medians."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("x")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("yq")
    ).persist()
    a = d.select(F.col("x").alias("xi"), F.col("yq").alias("yi"))
    b = d.select(F.col("x").alias("xj"), F.col("yq").alias("yj"))
    p = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("xi") != F.col("xj"))
        .select(
            "xi",
            (
                (F.col("yj") - F.col("yi")).cast("double")
                / (F.col("xj") - F.col("xi"))
            ).alias("slope"),
        )
    )
    wi = W.partitionBy("xi").orderBy(F.col("slope").asc())
    rnk = p.select(
        "xi",
        "slope",
        F.row_number().over(wi).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("xi")).alias("cnt"),
    )
    mid = F.when(
        (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("cnt") + 2) / 2)),
        F.col("slope"),
    )
    im = rnk.groupBy("xi").agg(F.avg(mid).alias("med"))
    # outer medians rank the bounded day spine (adjudicated exemption)
    wo = W.orderBy(F.col("med").asc())
    om = im.select(
        "med",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(
            W.partitionBy(F.lit(1))
        ).alias("cnt"),
    )
    omid = F.when(
        (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("cnt") + 2) / 2)),
        F.col("med"),
    )
    slope_star = om.agg(F.avg(omid).alias("s"))
    res = d.crossJoin(F.broadcast(slope_star)).select(
        (F.col("yq").cast("double") - F.col("s") * F.col("x")).alias("r")
    )
    wr = W.orderBy(F.col("r").asc())
    rr = res.select(
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy(F.lit(1))).alias("cnt"),
    )
    rmid = F.when(
        (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("cnt") + 2) / 2)),
        F.col("r"),
    )
    icept = rr.agg(F.avg(rmid).alias("icept"))
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        n.crossJoin(F.broadcast(slope_star))
        .crossJoin(F.broadcast(icept))
        .select(
            "n_days",
            F.round(F.col("s"), 6).alias("slope_cents_per_day"),
            F.round(F.col("icept"), 2).alias("intercept_cents"),
        )
    )


@register(
    "sign_test_yoy_revenue",
    """
    WITH d AS (SELECT l_shipdate AS day,
                      CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                           * 100 AS BIGINT) AS cents
               FROM lineitem
               WHERE l_shipdate >= DATE '1996-01-01'
                 AND l_shipdate < DATE '1998-01-01'
               GROUP BY l_shipdate),
    p AS (SELECT b.cents - a.cents AS diff
          FROM d a JOIN d b
            ON EXTRACT(month FROM b.day) = EXTRACT(month FROM a.day)
           AND EXTRACT(day FROM b.day) = EXTRACT(day FROM a.day)
           AND EXTRACT(year FROM a.day) = 1996
           AND EXTRACT(year FROM b.day) = 1997
          WHERE b.cents <> a.cents),
    s AS (SELECT COUNT(*)::BIGINT AS n,
                 SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END)::BIGINT AS npos
          FROM p)
    SELECT n AS n_pairs, npos AS n_plus, (n - npos)::BIGINT AS n_minus,
           CASE WHEN n > 0
                THEN ROUND((2.0 * npos - n) / sqrt(n * 1.0), 6)
                ELSE NULL END AS z_sign
    FROM s
    """,
)
def sign_test_yoy_revenue(spark, sf_dir):
    """The paired SIGN test on year-over-year same-calendar-day revenue
    (1996 vs 1997, the `wilcoxon_signed_rank_yoy` pairing): counts of
    positive vs negative daily changes and z = (2 n+ - n)/sqrt(n) —
    the assumption-free floor of the paired battery (the Wilcoxon
    sibling adds rank magnitudes and buys power IF differences are
    symmetric; the sign test needs nothing but exchangeable signs, so
    a disagreement between the two z's is itself the diagnostic that
    the yoy changes are skewed). Zero-difference pairs drop per the
    standard convention. Pure integer counts from the same exact-cents
    day join; one 6dp z.

    Scale: one partial-aggregated scan to the bounded calendar-day
    frame; the yoy self-join is |days| rows. Brute-force check in
    tests/test_round14_stats_brute.py."""
    # shared day grain + post-filter == the filtered inline build
    # (grouping by l_shipdate commutes with a shipdate predicate)
    d = daily_cents(spark, sf_dir).filter(
        (F.col("day") >= F.lit("1996-01-01"))
        & (F.col("day") < F.lit("1998-01-01"))
    )
    a = d.filter(F.year("day") == 1996).select(
        F.month("day").alias("m"),
        F.dayofmonth("day").alias("dd"),
        F.col("cents").alias("ca"),
    )
    b = d.filter(F.year("day") == 1997).select(
        F.month("day").alias("m"),
        F.dayofmonth("day").alias("dd"),
        F.col("cents").alias("cb"),
    )
    p = (
        a.join(b, ["m", "dd"])
        .select((F.col("cb") - F.col("ca")).alias("diff"))
        .filter(F.col("diff") != 0)
    )
    s = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("npos"),
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        F.col("npos").alias("n_plus"),
        (F.col("n") - F.col("npos")).cast("bigint").alias("n_minus"),
        F.when(
            F.col("n") > 0,
            F.round(
                (F.lit(2.0) * F.col("npos") - F.col("n"))
                / F.sqrt(F.col("n") * F.lit(1.0)),
                6,
            ),
        ).alias("z_sign"),
    )
