"""Classical-test completions (round 11): Fisher's exact 2x2, the
D'Agostino-Pearson K^2 omnibus, the tie-adjusted two-sample
Anderson-Darling, Ansari-Bradley scale test, Kendall's W concordance,
and Krippendorff's alpha.

These close the remaining named gaps in the parametric/nonparametric
battery (rounds 9-10 shipped Welch/ANOVA/Tukey/Bartlett/Jarque-Bera/
Mood/KW/Friedman/kappa x3): the exact small-table test (Fisher), the
moment-transform omnibus that Jarque-Bera approximates (K^2), the
omnibus-sensitive ECDF two-sample test next to KS/CvM (AD), the
rank-based SCALE test next to the location tests (AB), the concordance
readout of the Friedman machinery (W), and the reliability coefficient
that generalizes the kappa family (alpha).

Shared idioms (established rounds 5-10):
- rank math on DOUBLED midranks (exact BIGINTs from the distributed
  value-domain prefix scan -- the corpus never gets a row-level rank);
- order-proof folds: every float term that must cross a shuffle is
  nano-/micro-quantized to an integer first, so partial-aggregation
  order cannot perturb the sum;
- no in-engine quantile/special functions are trusted: lgamma ships as
  the SAME Lanczos(g=7, n=9) fixed-order expression in BOTH dialects
  (the Acklam-probit discipline), with the public-domain coefficients
  inlined below.

Registered into ``plans._base.QUERIES``/``ORACLES`` at import like every
other domain module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.operators.ranking import global_prefix_agg
from veri_spark.sources.catalog import load_table

from veri_spark.plans._base import daily_cents, daily_orders, register

# ---------------------------------------------------------------------------
# Lanczos log-gamma (g = 7, n = 9) -- public-domain coefficients (Lanczos
# 1964 via the standard g=7 tabulation, e.g. Numerical Recipes / the GNU
# Scientific Library docs / Wikipedia "Lanczos approximation"). Valid for
# real z >= 1 (all our arguments are k+1 with k >= 0), relative error
# ~1e-13 -- far inside the 1e-7 two-sided-inclusion tolerance below. The
# SAME fixed-order expression is emitted in both dialects so the two
# engines agree bit-for-bit on identical inputs (ln/sqrt on identical
# doubles is the established WoE/Zipf idiom; an engine-native lgamma
# would NOT be bit-identical between DuckDB's libm and the JVM).
# ---------------------------------------------------------------------------

_LANCZOS_C0 = 0.99999999999980993
_LANCZOS = (
    676.5203681218851,
    -1259.1392167224028,
    771.32342877765313,
    -176.61502916214059,
    12.507343278686905,
    -0.13857109526572012,
    9.9843695780195716e-6,
    1.5056327351493116e-7,
)
# 0.5 * ln(2*pi), one shared literal so neither engine evaluates ln(2pi)
_HALF_LN_2PI = 0.9189385332046727


def _lgamma_sql(z: str) -> str:
    """DuckDB fragment: Lanczos lgamma of the SQL expression ``z``."""
    a = f"{_LANCZOS_C0!r}" + "".join(
        f" + {c!r} / (({z}) - 1 + {i + 1})" for i, c in enumerate(_LANCZOS)
    )
    t = f"(({z}) + 6.5)"
    return (
        f"({_HALF_LN_2PI!r} + (({z}) - 0.5) * ln({t}) - {t} + ln({a}))"
    )


def _lgamma_col(z):
    """Spark Column: the SAME Lanczos lgamma, term-for-term."""
    a = F.lit(_LANCZOS_C0)
    for i, c in enumerate(_LANCZOS):
        a = a + F.lit(c) / (z - F.lit(1) + F.lit(i + 1))
    t = z + F.lit(6.5)
    return (
        F.lit(_HALF_LN_2PI)
        + (z - F.lit(0.5)) * F.log(t)
        - t
        + F.log(a)
    )


def _lnchoose_sql(m: str, k: str) -> str:
    return (
        f"({_lgamma_sql(f'({m}) + 1.0')} - {_lgamma_sql(f'({k}) + 1.0')}"
        f" - {_lgamma_sql(f'({m}) - ({k}) + 1.0')})"
    )


def _lnchoose_col(m, k):
    return (
        _lgamma_col(m + F.lit(1.0))
        - _lgamma_col(k + F.lit(1.0))
        - _lgamma_col(m - k + F.lit(1.0))
    )


_FISHER_CELLS_SQL = """
    SELECT SUM(CASE WHEN dayofweek(ts) IN (0, 6)
                     AND event_type = 'purchase' THEN 1 ELSE 0
               END)::BIGINT AS a,
           SUM(CASE WHEN dayofweek(ts) IN (0, 6)
                     AND event_type <> 'purchase' THEN 1 ELSE 0
               END)::BIGINT AS b,
           SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6)
                     AND event_type = 'purchase' THEN 1 ELSE 0
               END)::BIGINT AS c,
           SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6)
                     AND event_type <> 'purchase' THEN 1 ELSE 0
               END)::BIGINT AS d
    FROM events
"""


@register(
    "fisher_exact_weekend_purchase",
    f"""
    WITH s AS ({_FISHER_CELLS_SQL}),
    m AS (SELECT a, b, c, d, a + b + c + d AS n, a + b AS r1, a + c AS c1
          FROM s),
    supp AS (SELECT m.*,
                    unnest(generate_series(GREATEST(0, m.r1 + m.c1 - m.n),
                                           LEAST(m.r1, m.c1)))::BIGINT AS k
             FROM m),
    lp AS (SELECT k, a,
                  ({_lnchoose_sql('r1', 'k')}
                   + {_lnchoose_sql('n - r1', 'c1 - k')}) AS lnu
           FROM supp),
    mx AS (SELECT MAX(lnu) AS lnu_max,
                  MAX(CASE WHEN k = a THEN lnu END) AS lnu_obs
           FROM lp),
    q AS (SELECT CAST(round(exp(lp.lnu - mx.lnu_max) * 1e15) AS BIGINT)
                   AS tq,
                 CASE WHEN lp.lnu <= mx.lnu_obs + 1e-7 THEN 1 ELSE 0
                 END AS incl
          FROM lp CROSS JOIN mx),
    agg AS (SELECT COUNT(*)::BIGINT AS support_size,
                   SUM(CAST(tq AS DECIMAL(38,0))) AS tot,
                   SUM(CAST(tq * incl AS DECIMAL(38,0))) AS hit
            FROM q)
    SELECT m.a AS n_weekend_purchase, m.b AS n_weekend_other,
           m.c AS n_weekday_purchase, m.d AS n_weekday_other,
           agg.support_size,
           CASE WHEN m.b * m.c > 0
                THEN ROUND(m.a * 1.0 * m.d / (m.b * 1.0 * m.c), 6)
                ELSE NULL END AS odds_ratio,
           ROUND(agg.hit::DOUBLE / agg.tot::DOUBLE, 6) AS p_two_sided
    FROM m CROSS JOIN agg
    """,
)
def fisher_exact_weekend_purchase(spark, sf_dir):
    """Fisher's exact test on the weekend x purchase 2x2 table -- the
    EXACT companion to `weekend_purchase_effect`'s Wald machinery and
    `ab_test_conversion_ztest`'s normal approximation (the reference's
    quality gates run on arbitrarily small slices, where the z-test's
    n*p >= 5 precondition fails; the hypergeometric needs no
    precondition). Two-sided p by the standard minimum-likelihood rule
    (sum P(k) over the support where P(k) <= P(a_obs) * (1 + 1e-7), the
    same gamma-tolerance scipy documents): ln P(k) is computed POINTWISE
    from three Lanczos ln-binomials -- no prefix recursion, so the
    support frame needs no window and no ordering -- shifted by the
    support max and exponentiated, and each term is femto-quantized to
    an integer so both the inclusion sum and the normalizer fold as
    exact DECIMAL(38,0) at any parallelism. The observed cell's ln P
    rides the same MAX aggregate (a CASE-guarded MAX), so the whole test
    is two scans over the bounded support frame.

    Scale: one conditional-aggregation corpus scan to four BIGINTs; the
    support frame has min(r1, c1) + 1 rows -- proportional to the
    smaller MARGIN, and map-only (pointwise lgamma, no window), so even
    a billion-row support would distribute; the quantized normalizer
    stays inside DECIMAL(38,0) to ~1e23 support rows."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.agg(
        F.sum(
            F.when(
                F.dayofweek("ts").isin(1, 7)
                & (F.col("event_type") == "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("a"),
        F.sum(
            F.when(
                F.dayofweek("ts").isin(1, 7)
                & (F.col("event_type") != "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when(
                ~F.dayofweek("ts").isin(1, 7)
                & (F.col("event_type") == "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            F.when(
                ~F.dayofweek("ts").isin(1, 7)
                & (F.col("event_type") != "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("d"),
    )
    # bounded collect: ONE row of four scalar cell counts (the same
    # class as the repo's other scalar-aggregate collects) -- the
    # support frame bounds cannot be expressed lazily in spark.range.
    a, b, c, d = s.collect()[0]
    n, r1, c1 = a + b + c + d, a + b, a + c
    lo, hi = max(0, r1 + c1 - n), min(r1, c1)
    supp = spark.range(lo, hi + 1).select(F.col("id").alias("k"))
    kd = F.col("k").cast("double")
    lnu = _lnchoose_col(F.lit(float(r1)), kd) + _lnchoose_col(
        F.lit(float(n - r1)), F.lit(float(c1)) - kd
    )
    lp = supp.select("k", lnu.alias("lnu"))
    mx = lp.agg(
        F.max("lnu").alias("lnu_max"),
        F.max(F.when(F.col("k") == F.lit(a), F.col("lnu"))).alias("lnu_obs"),
    )
    q = lp.crossJoin(F.broadcast(mx)).select(
        F.round(F.exp(F.col("lnu") - F.col("lnu_max")) * F.lit(1e15))
        .cast("bigint")
        .alias("tq"),
        F.when(F.col("lnu") <= F.col("lnu_obs") + F.lit(1e-7), 1)
        .otherwise(0)
        .alias("incl"),
    )
    agg = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("support_size"),
        F.sum(F.col("tq").cast("decimal(38,0)")).alias("tot"),
        F.sum((F.col("tq") * F.col("incl")).cast("decimal(38,0)")).alias(
            "hit"
        ),
    )
    orr = (
        F.round(
            F.lit(float(a)) * F.lit(float(d)) / (F.lit(float(b)) * F.lit(float(c))),
            6,
        )
        if b * c > 0
        else F.lit(None).cast("double")
    )
    return agg.select(
        F.lit(a).cast("bigint").alias("n_weekend_purchase"),
        F.lit(b).cast("bigint").alias("n_weekend_other"),
        F.lit(c).cast("bigint").alias("n_weekday_purchase"),
        F.lit(d).cast("bigint").alias("n_weekday_other"),
        "support_size",
        orr.alias("odds_ratio"),
        F.round(
            F.col("hit").cast("double") / F.col("tot").cast("double"), 6
        ).alias("p_two_sided"),
    )


@register(
    "dagostino_k2_value",
    """
    WITH c AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS cv
               FROM events),
    s AS (SELECT COUNT(*)::BIGINT AS n,
                 SUM(CAST(cv AS DECIMAL(38,0))) AS s1,
                 SUM(CAST(cv * cv AS DECIMAL(38,0))) AS s2,
                 SUM(CAST(cv * cv AS DECIMAL(38,0)) * cv) AS s3,
                 SUM(CAST(cv * cv AS DECIMAL(38,0)) * (cv * cv)) AS s4
          FROM c),
    m AS (SELECT n,
                 s1::DOUBLE / n AS m1,
                 s2::DOUBLE / n AS r2,
                 s3::DOUBLE / n AS r3,
                 s4::DOUBLE / n AS r4
          FROM s),
    ctr AS (SELECT n,
                   r2 - m1 * m1 AS m2,
                   r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
                   r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
                      - 3.0 * m1 * m1 * m1 * m1 AS m4
            FROM m),
    g AS (SELECT n, m3 / (m2 * sqrt(m2)) AS g1, m4 / (m2 * m2) AS b2
          FROM ctr),
    z1c AS (SELECT n, g1, b2,
                   g1 * sqrt(((n + 1.0) * (n + 3.0)) / (6.0 * (n - 2.0)))
                     AS y,
                   3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
                     / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
                     AS beta2
            FROM g),
    z1 AS (SELECT n, g1, b2, y,
                  sqrt(2.0 * (beta2 - 1.0)) - 1.0 AS w2
           FROM z1c),
    z1f AS (SELECT n, g1, b2,
                   (1.0 / sqrt(0.5 * ln(w2)))
                   * ln(y / sqrt(2.0 / (w2 - 1.0))
                        + sqrt((y / sqrt(2.0 / (w2 - 1.0)))
                               * (y / sqrt(2.0 / (w2 - 1.0))) + 1.0))
                     AS zs
            FROM z1),
    z2c AS (SELECT n, g1, b2, zs,
                   (b2 - 3.0 * (n - 1.0) / (n + 1.0))
                   / sqrt(24.0 * n * (n - 2.0) * (n - 3.0)
                          / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0)))
                     AS x,
                   6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0))
                   * sqrt(6.0 * (n + 3.0) * (n + 5.0)
                          / (n * (n - 2.0) * (n - 3.0))) AS sb1
            FROM z1f),
    z2a AS (SELECT n, g1, b2, zs, x,
                   6.0 + 8.0 / sb1 * (2.0 / sb1
                                      + sqrt(1.0 + 4.0 / (sb1 * sb1))) AS aa
            FROM z2c),
    z2 AS (SELECT n, g1, b2, zs,
                  ((1.0 - 2.0 / (9.0 * aa))
                   - cbrt((1.0 - 2.0 / aa)
                          / (1.0 + x * sqrt(2.0 / (aa - 4.0)))))
                  / sqrt(2.0 / (9.0 * aa)) AS zk
           FROM z2a)
    SELECT n AS n_events,
           ROUND(g1, 6) AS skew_g1,
           ROUND(b2, 6) AS kurtosis_b2,
           ROUND(zs, 6) AS z_skew,
           ROUND(zk, 6) AS z_kurtosis,
           ROUND(zs * zs + zk * zk, 6) AS k2_statistic
    FROM z2
    """,
)
def dagostino_k2_value(spark, sf_dir):
    """D'Agostino-Pearson K^2 omnibus normality test on event values --
    the refined companion to `jarque_bera_value`: JB uses the raw
    sqrt(n)-asymptotics of skewness/kurtosis (badly mis-sized at
    moderate n); K^2 first maps each through its exact finite-n
    normalizing transform (D'Agostino 1970 for skewness, Anscombe-Glynn
    1983 for kurtosis) and sums the squared z's. Values collapse to
    exact integer cents (the Welch/ANOVA idiom), the four raw power
    sums fold as exact DECIMAL(38,0) (order-proof at any parallelism;
    cents^4 <= 9.9e18 per row stays inside 38 digits to ~1e12 rows),
    and everything after the moment frame is ONE fixed-order double
    expression evaluated identically in both engines -- sqrt/ln/cbrt on
    identical doubles, no engine special functions. No significance
    verdict: K^2 ~ chi2(2) is the caller's lookup, the statistic is the
    deliverable (the Jarque-Bera precedent).

    Scale: one partial-aggregated scan to five exact numbers; the
    statistic is driver-free single-row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        F.round(F.col("value") * 100.0).cast("bigint").alias("cv")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(F.col("cv"))).alias("s1"),
        F.sum(dec(F.col("cv") * F.col("cv"))).alias("s2"),
        F.sum(dec(F.col("cv") * F.col("cv")) * F.col("cv")).alias("s3"),
        F.sum(
            dec(F.col("cv") * F.col("cv")) * (F.col("cv") * F.col("cv"))
        ).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    m = s.select(
        "n",
        m1.alias("m1"),
        (r2 - m1 * m1).alias("m2"),
        (r3 - F.lit(3.0) * m1 * r2 + F.lit(2.0) * m1 * m1 * m1).alias("m3"),
        (
            r4
            - F.lit(4.0) * m1 * r3
            + F.lit(6.0) * m1 * m1 * r2
            - F.lit(3.0) * m1 * m1 * m1 * m1
        ).alias("m4"),
    )
    nd = F.col("n").cast("double")
    g1 = F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
    b2 = F.col("m4") / (F.col("m2") * F.col("m2"))
    g = m.select("n", g1.alias("g1"), b2.alias("b2"))
    nd = F.col("n").cast("double")
    y = F.col("g1") * F.sqrt(
        ((nd + F.lit(1.0)) * (nd + F.lit(3.0)))
        / (F.lit(6.0) * (nd - F.lit(2.0)))
    )
    beta2 = (
        F.lit(3.0)
        * (nd * nd + F.lit(27.0) * nd - F.lit(70.0))
        * (nd + F.lit(1.0))
        * (nd + F.lit(3.0))
        / (
            (nd - F.lit(2.0))
            * (nd + F.lit(5.0))
            * (nd + F.lit(7.0))
            * (nd + F.lit(9.0))
        )
    )
    z1 = g.select(
        "n",
        "g1",
        "b2",
        y.alias("y"),
        (F.sqrt(F.lit(2.0) * (beta2 - F.lit(1.0))) - F.lit(1.0)).alias("w2"),
    )
    ya = F.col("y") / F.sqrt(F.lit(2.0) / (F.col("w2") - F.lit(1.0)))
    zs = (F.lit(1.0) / F.sqrt(F.lit(0.5) * F.log(F.col("w2")))) * F.log(
        ya + F.sqrt(ya * ya + F.lit(1.0))
    )
    z1f = z1.select("n", "g1", "b2", zs.alias("zs"))
    nd = F.col("n").cast("double")
    x = (
        F.col("b2") - F.lit(3.0) * (nd - F.lit(1.0)) / (nd + F.lit(1.0))
    ) / F.sqrt(
        F.lit(24.0)
        * nd
        * (nd - F.lit(2.0))
        * (nd - F.lit(3.0))
        / (
            (nd + F.lit(1.0))
            * (nd + F.lit(1.0))
            * (nd + F.lit(3.0))
            * (nd + F.lit(5.0))
        )
    )
    sb1 = (
        F.lit(6.0)
        * (nd * nd - F.lit(5.0) * nd + F.lit(2.0))
        / ((nd + F.lit(7.0)) * (nd + F.lit(9.0)))
        * F.sqrt(
            F.lit(6.0)
            * (nd + F.lit(3.0))
            * (nd + F.lit(5.0))
            / (nd * (nd - F.lit(2.0)) * (nd - F.lit(3.0)))
        )
    )
    z2c = z1f.select("n", "g1", "b2", "zs", x.alias("x"), sb1.alias("sb1"))
    aa = F.lit(6.0) + F.lit(8.0) / F.col("sb1") * (
        F.lit(2.0) / F.col("sb1")
        + F.sqrt(F.lit(1.0) + F.lit(4.0) / (F.col("sb1") * F.col("sb1")))
    )
    z2a = z2c.select("n", "g1", "b2", "zs", "x", aa.alias("aa"))
    zk = (
        (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * F.col("aa")))
        - F.cbrt(
            (F.lit(1.0) - F.lit(2.0) / F.col("aa"))
            / (
                F.lit(1.0)
                + F.col("x")
                * F.sqrt(F.lit(2.0) / (F.col("aa") - F.lit(4.0)))
            )
        )
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * F.col("aa")))
    z2 = z2a.select("n", "g1", "b2", "zs", zk.alias("zk"))
    return z2.select(
        F.col("n").alias("n_events"),
        F.round(F.col("g1"), 6).alias("skew_g1"),
        F.round(F.col("b2"), 6).alias("kurtosis_b2"),
        F.round(F.col("zs"), 6).alias("z_skew"),
        F.round(F.col("zk"), 6).alias("z_kurtosis"),
        F.round(
            F.col("zs") * F.col("zs") + F.col("zk") * F.col("zk"), 6
        ).alias("k2_statistic"),
    )


@register(
    "anderson_darling_weekend_value",
    """
    WITH e AS (SELECT value,
                      CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                      END AS wk
               FROM events),
    g AS (SELECT value, SUM(wk)::BIGINT AS f1,
                 SUM(1 - wk)::BIGINT AS f2,
                 COUNT(*)::BIGINT AS l
          FROM e GROUP BY value),
    p AS (SELECT l, f1, f2,
                 2 * (SUM(l) OVER (ORDER BY value ASC) - l) + l AS ba2,
                 2 * (SUM(f1) OVER (ORDER BY value ASC) - f1) + f1 AS ma21,
                 2 * (SUM(f2) OVER (ORDER BY value ASC) - f2) + f2 AS ma22
          FROM g),
    t AS (SELECT COUNT(*)::BIGINT AS ndv, SUM(f1)::BIGINT AS n1,
                 SUM(f2)::BIGINT AS n2, SUM(l)::BIGINT AS nn
          FROM g),
    q AS (SELECT
            SUM(CAST(round(1e6 * p.l
                  * ((t.nn * 1.0 * p.ma21 - t.n1 * 1.0 * p.ba2)
                     * (t.nn * 1.0 * p.ma21 - t.n1 * 1.0 * p.ba2))
                  / (p.ba2 * 1.0 * (2 * t.nn - p.ba2)
                     - t.nn * 1.0 * p.l)) AS DECIMAL(38,0))) AS q1,
            SUM(CAST(round(1e6 * p.l
                  * ((t.nn * 1.0 * p.ma22 - t.n2 * 1.0 * p.ba2)
                     * (t.nn * 1.0 * p.ma22 - t.n2 * 1.0 * p.ba2))
                  / (p.ba2 * 1.0 * (2 * t.nn - p.ba2)
                     - t.nn * 1.0 * p.l)) AS DECIMAL(38,0))) AS q2
          FROM p CROSS JOIN t)
    SELECT t.n1 AS n_weekend, t.n2 AS n_weekday,
           t.ndv AS n_distinct_values,
           ROUND((t.nn - 1.0) / t.nn
                 * (q.q1::DOUBLE / 1e6 / t.n1
                    + q.q2::DOUBLE / 1e6 / t.n2) / t.nn, 6) AS a2_akn
    FROM t CROSS JOIN q
    """,
)
def anderson_darling_weekend_value(spark, sf_dir):
    """Two-sample Anderson-Darling (the tie-adjusted midrank A2akN of
    Scholz-Stephens 1987, the variant scipy's anderson_ksamp computes)
    comparing weekend vs weekday event values -- the tail-sensitive
    omnibus next to `ks_value_drift` (KS sees only the single largest
    ECDF gap; AD integrates ALL gaps with 1/(F(1-F)) weighting, so
    tail-only drift that KS underweights shows up). Everything rides
    the value DOMAIN: per-value weekend/weekday counts, three
    distributed prefix scans give DOUBLED exclusive-cumulative counts
    (exact BIGINTs: ba2 = 2B+l, ma2 = 2M+f, which absorb the +l/2
    midrank adjustment without fractions), and each distinct value's
    contribution l*(N*ma2 - n_i*ba2)^2 / (ba2*(2N-ba2) - N*l) -- the
    doubled-units identity of the textbook term -- is micro-quantized
    to an integer so the fold over the domain is order-proof. A2akN
    assembles from the two quantized sums in one fixed-order double
    expression.

    Scale: one value-grain partial aggregation, prefix scans over the
    value DOMAIN (vocabulary-sized, never corpus-sized), one map-only
    term pass; the integer numerator N*ma2 stays exact in BIGINT to
    N ~ 3e9 and the quantized term sum inside DECIMAL(38,0)
    essentially unbounded."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "value",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    g = e.groupBy("value").agg(
        F.sum("wk").cast("bigint").alias("f1"),
        F.sum(F.lit(1) - F.col("wk")).cast("bigint").alias("f2"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    p = global_prefix_agg(
        g, [F.col("value").asc()], "l", agg="sum", out_col="cl"
    )
    p = global_prefix_agg(
        p, [F.col("value").asc()], "f1", agg="sum", out_col="cf1"
    )
    p = global_prefix_agg(
        p, [F.col("value").asc()], "f2", agg="sum", out_col="cf2"
    )
    p = p.select(
        "l",
        "f1",
        "f2",
        (2 * (F.col("cl") - F.col("l")) + F.col("l")).alias("ba2"),
        (2 * (F.col("cf1") - F.col("f1")) + F.col("f1")).alias("ma21"),
        (2 * (F.col("cf2") - F.col("f2")) + F.col("f2")).alias("ma22"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("ndv"),
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
        F.sum("l").cast("bigint").alias("nn"),
    )
    j = p.crossJoin(F.broadcast(t))
    nn = F.col("nn") * F.lit(1.0)
    den = F.col("ba2") * F.lit(1.0) * (
        F.lit(2) * F.col("nn") - F.col("ba2")
    ) - nn * F.col("l")
    d1 = nn * F.col("ma21") - F.col("n1") * F.lit(1.0) * F.col("ba2")
    d2 = nn * F.col("ma22") - F.col("n2") * F.lit(1.0) * F.col("ba2")
    q = j.agg(
        F.sum(
            F.round(F.lit(1e6) * F.col("l") * (d1 * d1) / den).cast(
                "decimal(38,0)"
            )
        ).alias("q1"),
        F.sum(
            F.round(F.lit(1e6) * F.col("l") * (d2 * d2) / den).cast(
                "decimal(38,0)"
            )
        ).alias("q2"),
    )
    out = t.crossJoin(F.broadcast(q))
    nnd = F.col("nn").cast("double")
    a2 = (
        (nnd - F.lit(1.0))
        / nnd
        * (
            F.col("q1").cast("double") / F.lit(1e6) / F.col("n1")
            + F.col("q2").cast("double") / F.lit(1e6) / F.col("n2")
        )
        / nnd
    )
    return out.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.col("ndv").alias("n_distinct_values"),
        F.round(a2, 6).alias("a2_akn"),
    )


@register(
    "ansari_bradley_weekend_value",
    """
    WITH e AS (SELECT value,
                      CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                      END AS wk
               FROM events),
    g AS (SELECT value, SUM(wk)::BIGINT AS f1, COUNT(*)::BIGINT AS l
          FROM e GROUP BY value),
    t AS (SELECT SUM(f1)::BIGINT AS n1, SUM(l - f1)::BIGINT AS n2,
                 SUM(l)::BIGINT AS nn
          FROM g),
    p AS (SELECT f1, l,
                 2 * (SUM(l) OVER (ORDER BY value ASC) - l) + l + 1 AS mid2
          FROM g),
    sc AS (SELECT f1, l,
                  LEAST(mid2, 2 * t.nn + 2 - mid2) AS s2
           FROM p CROSS JOIN t),
    s AS (SELECT SUM(CAST(f1 * s2 AS DECIMAL(38,0))) AS ab2,
                 SUM(CAST(l * s2 AS DECIMAL(38,0))) AS t1,
                 SUM(CAST(l * s2 AS DECIMAL(38,0)) * s2) AS t2
          FROM sc)
    SELECT t.n1 AS n_weekend, t.n2 AS n_weekday,
           ROUND(s.ab2::DOUBLE / 2.0, 6) AS ab_statistic,
           ROUND((s.ab2::DOUBLE - t.n1 * s.t1::DOUBLE / t.nn)
                 / sqrt(t.n1 * 1.0 * t.n2
                        * (t.nn * s.t2::DOUBLE - s.t1::DOUBLE * s.t1::DOUBLE)
                        / (t.nn * 1.0 * t.nn * (t.nn - 1.0))), 6)
             AS z_ties
    FROM t CROSS JOIN s
    """,
)
def ansari_bradley_weekend_value(spark, sf_dir):
    """Ansari-Bradley rank test for a SCALE difference between weekend
    and weekday values -- the dispersion companion to the location
    battery (Mood's median / KW / Mann-Whitney ask "is the center
    different?"; AB asks "is the SPREAD different?", scoring each
    observation by its distance from the ends: s = min(rank,
    N+1-rank), small at the extremes, large in the middle, so a
    higher-dispersion group collects LOWER scores). Doubled midranks
    from the value-domain prefix scan keep s2 = min(mid2, 2N+2-mid2)
    an exact integer under ties; the statistic, its exact-ties mean
    n1*T1/N and variance n1*n2*(N*T2 - T1^2)/(N^2(N-1)) (the
    conditional-on-ties moments, Hollander-Wolfe Ch. 5) all assemble
    from three exact DECIMAL(38,0) sums in one fixed-order double
    expression. z is two-sided-symmetric; no verdict column -- the
    normal approximation's quality at tiny n is the caller's call.

    Scale: one value-grain aggregation, one prefix scan over the value
    DOMAIN, one map-only score pass -- the corpus is touched once."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "value",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    g = e.groupBy("value").agg(
        F.sum("wk").cast("bigint").alias("f1"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    t = g.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum(F.col("l") - F.col("f1")).cast("bigint").alias("n2"),
        F.sum("l").cast("bigint").alias("nn"),
    )
    p = global_prefix_agg(
        g, [F.col("value").asc()], "l", agg="sum", out_col="cl"
    ).select(
        "f1",
        "l",
        (2 * (F.col("cl") - F.col("l")) + F.col("l") + 1).alias("mid2"),
    )
    sc = p.crossJoin(F.broadcast(t)).select(
        "f1",
        "l",
        "n1",
        "n2",
        "nn",
        F.least(
            F.col("mid2"), F.lit(2) * F.col("nn") + F.lit(2) - F.col("mid2")
        ).alias("s2"),
    )
    s = sc.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max("nn").alias("nn"),
        F.sum((F.col("f1") * F.col("s2")).cast("decimal(38,0)")).alias(
            "ab2"
        ),
        F.sum((F.col("l") * F.col("s2")).cast("decimal(38,0)")).alias("t1"),
        F.sum(
            (F.col("l") * F.col("s2")).cast("decimal(38,0)") * F.col("s2")
        ).alias("t2"),
    )
    nnd = F.col("nn") * F.lit(1.0)
    e2 = F.col("n1") * F.col("t1").cast("double") / F.col("nn")
    v2 = (
        F.col("n1")
        * F.lit(1.0)
        * F.col("n2")
        * (
            F.col("nn") * F.col("t2").cast("double")
            - F.col("t1").cast("double") * F.col("t1").cast("double")
        )
        / (nnd * F.col("nn") * (F.col("nn") - F.lit(1.0)))
    )
    return s.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.round(F.col("ab2").cast("double") / F.lit(2.0), 6).alias(
            "ab_statistic"
        ),
        F.round(
            (F.col("ab2").cast("double") - e2) / F.sqrt(v2), 6
        ).alias("z_ties"),
    )


@register(
    "kendalls_w_weekday_revenue",
    """
    WITH d0 AS (SELECT MIN(l_shipdate) AS day0 FROM lineitem),
    d AS (SELECT l_shipdate AS day,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                      * 100 AS BIGINT) AS cents
          FROM lineitem GROUP BY l_shipdate),
    w AS (SELECT (date_diff('day', d0.day0, day) // 7)::BIGINT AS blk,
                 day, cents
          FROM d CROSS JOIN d0),
    full_w AS (SELECT blk FROM w GROUP BY blk HAVING COUNT(*) = 7),
    rr AS (SELECT blk,
                  dayofweek(day)::INT AS wd,
                  2 * (RANK() OVER (PARTITION BY blk
                                    ORDER BY cents ASC) - 1)
                  + COUNT(*) OVER (PARTITION BY blk, cents) + 1 AS r2
           FROM w JOIN full_w USING (blk)),
    col_sums AS (SELECT wd, SUM(r2)::BIGINT AS r2_j,
                        COUNT(*)::BIGINT AS n_blk
                 FROM rr GROUP BY wd),
    ties AS (SELECT SUM(tt * tt * tt - tt)::BIGINT AS sum_t
             FROM (SELECT COUNT(*)::BIGINT AS tt
                   FROM w JOIN full_w USING (blk)
                   GROUP BY blk, cents) z),
    s AS (SELECT MAX(n_blk)::BIGINT AS n,
                 SUM(CAST(r2_j AS DECIMAL(38,0)) * r2_j) AS sr2
          FROM col_sums)
    SELECT s.n AS n_weeks,
           ROUND((3.0 * s.sr2::DOUBLE / (s.n * 56.0) - 24.0 * s.n)
                 / (6.0 * s.n), 6) AS w_plain,
           ROUND(3.0 * (s.sr2::DOUBLE - 56.0 * 56.0 * s.n * s.n / 7.0)
                 / (s.n * (336.0 * s.n - ties.sum_t)), 6)
             AS w_tie_corrected,
           ROUND(6.0 * s.n
                 * (3.0 * (s.sr2::DOUBLE - 56.0 * 56.0 * s.n * s.n / 7.0)
                    / (s.n * (336.0 * s.n - ties.sum_t))), 6)
             AS chi2_tc
    FROM s CROSS JOIN ties
    """,
)
def kendalls_w_weekday_revenue(spark, sf_dir):
    """Kendall's coefficient of concordance W across full weeks ranking
    the 7 weekdays by daily revenue -- the EFFECT-SIZE readout of the
    `friedman_weekday_revenue` machinery (Friedman's chi-square says
    whether weekday ordering is non-random; W in [0, 1] says HOW
    consistently the weeks agree on that ordering -- the m-judges
    generalization of Spearman's rho, W = chi2/(n(k-1))). Same frame
    discipline as Friedman: days collapse to exact integer cents, only
    FULL 7-day weeks enter (partial boundary weeks would break the
    fixed k = 7), doubled within-block midranks are exact integers
    from 7-row bounded windows, and both the plain W and the
    tie-corrected W = 12*S/(n^2 k(k^2-1) - n*sum(t^3-t)) assemble from
    two exact sums (sr2 as DECIMAL(38,0), the tie fold as BIGINT) in
    fixed-order double expressions. The doubled-rank identities: rank
    sums conserve to 56n, S = (sr2 - (56n)^2/7)/4, so 12S folds to
    3*(sr2 - 56^2 n^2/7).

    Scale: one corpus scan to the day frame; all ranking happens on
    calendar-bounded 7-row blocks."""
    d = daily_cents(spark, sf_dir)
    d0 = d.agg(F.min("day").alias("day0"))
    w = d.crossJoin(F.broadcast(d0)).select(
        F.floor(F.datediff(F.col("day"), F.col("day0")) / 7)
        .cast("bigint")
        .alias("blk"),
        "day",
        "cents",
    )
    full_w = (
        w.groupBy("blk").count().filter(F.col("count") == 7).select("blk")
    )
    wf = w.join(F.broadcast(full_w), "blk")
    blk_win = Window.partitionBy("blk").orderBy(F.col("cents").asc())
    tie_win = Window.partitionBy("blk", "cents")
    rr = wf.select(
        "blk",
        "cents",
        (
            2 * (F.rank().over(blk_win) - 1)
            + F.count(F.lit(1)).over(tie_win)
            + 1
        ).alias("r2"),
        F.dayofweek("day").alias("wd"),
    )
    col_sums = rr.groupBy("wd").agg(
        F.sum("r2").cast("bigint").alias("r2_j"),
        F.count(F.lit(1)).cast("bigint").alias("n_blk"),
    )
    ties = (
        wf.groupBy("blk", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
        .agg(
            F.sum(
                F.col("tt") * F.col("tt") * F.col("tt") - F.col("tt")
            )
            .cast("bigint")
            .alias("sum_t")
        )
    )
    s = col_sums.agg(
        F.max("n_blk").cast("bigint").alias("n"),
        F.sum(F.col("r2_j").cast("decimal(38,0)") * F.col("r2_j")).alias(
            "sr2"
        ),
    )
    out = s.crossJoin(F.broadcast(ties))
    nd = F.col("n") * F.lit(1.0)
    sr2d = F.col("sr2").cast("double")
    w_plain = (
        F.lit(3.0) * sr2d / (F.col("n") * F.lit(56.0))
        - F.lit(24.0) * F.col("n")
    ) / (F.lit(6.0) * F.col("n"))
    w_tc = (
        F.lit(3.0)
        * (sr2d - F.lit(56.0) * F.lit(56.0) * F.col("n") * F.col("n") / F.lit(7.0))
        / (
            F.col("n")
            * (F.lit(336.0) * F.col("n") - F.col("sum_t"))
        )
    )
    return out.select(
        F.col("n").alias("n_weeks"),
        F.round(w_plain, 6).alias("w_plain"),
        F.round(w_tc, 6).alias("w_tie_corrected"),
        F.round(F.lit(6.0) * F.col("n") * w_tc, 6).alias("chi2_tc"),
    )


@register(
    "krippendorff_alpha_rules",
    """
    WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
    m AS (SELECT CASE WHEN len(ws) BETWEEN 20 AND 90 THEN 1 ELSE 0 END
                   AS r_wc,
                 CASE WHEN len(list_filter(ws,
                        w -> w IN ('the', 'a', 'of', 'and', 'to', 'in',
                                   'is'))) >= 2
                      THEN 1 ELSE 0 END AS r_sw
          FROM t WHERE len(ws) > 0),
    s AS (SELECT COUNT(*)::BIGINT AS n,
                 SUM(r_wc * r_sw)::BIGINT AS a,
                 SUM(CASE WHEN r_wc = 1 AND r_sw = 0 THEN 1 ELSE 0
                     END)::BIGINT AS b,
                 SUM(CASE WHEN r_wc = 0 AND r_sw = 1 THEN 1 ELSE 0
                     END)::BIGINT AS c,
                 SUM(CASE WHEN r_wc = 0 AND r_sw = 0 THEN 1 ELSE 0
                     END)::BIGINT AS d
          FROM m)
    SELECT n AS n_units,
           ROUND((b + c) * 1.0 / n, 6) AS d_observed,
           ROUND(2.0 * (2 * a + b + c) * (2 * d + b + c)
                 / (2.0 * n * (2 * n - 1)), 6) AS d_expected,
           CASE WHEN (2 * a + b + c) * (2 * d + b + c) > 0
                THEN ROUND(1.0 - ((b + c) * 1.0 / n)
                           / (2.0 * (2 * a + b + c) * (2 * d + b + c)
                              / (2.0 * n * (2 * n - 1))), 6)
                ELSE NULL END AS krippendorff_alpha
    FROM s
    """,
)
def krippendorff_alpha_rules(spark, sf_dir):
    """Krippendorff's alpha (nominal metric, 2 raters, binary values)
    for the same two quality gates `cohens_kappa_rules` scores -- the
    reliability coefficient that generalizes the kappa family (alpha
    corrects expected disagreement with the SAMPLE-SIZE-AWARE
    coincidence denominator nn-1 and extends unchanged to missing
    ratings and >2 raters, which is why content-analysis pipelines
    standardize on it; for 2 complete binary raters it differs from
    Scott's pi only through that nn-1). Coincidence algebra collapses
    to the four agreement cells: each agreeing unit contributes 2 to a
    diagonal coincidence, each disagreeing unit 1 to each off-diagonal,
    so D_o = (b+c)/n and D_e = 2*n_1*n_0/(nn*(nn-1)) with marginal
    coincidences n_1 = 2a+b+c, n_0 = 2d+b+c over nn = 2n total paired
    judgments; alpha = 1 - D_o/D_e is one fixed-order double
    expression of four exact BIGINTs. The degenerate all-one-value
    corpus (D_e = 0) NULLs via an integer-product guard -- no
    float-equality surface.

    Scale: one conditional-aggregation corpus scan; single-row
    arithmetic after."""
    from veri_spark.functions.text import EN_STOPWORDS, tokens

    docs = load_table(spark, sf_dir, "documents").select(
        tokens("text").alias("ws")
    )
    m = docs.filter(F.size("ws") > 0).select(
        F.when(F.size("ws").between(20, 90), 1).otherwise(0).alias("r_wc"),
        F.when(
            F.size(F.filter(F.col("ws"), lambda w: w.isin(*EN_STOPWORDS)))
            >= 2,
            1,
        )
        .otherwise(0)
        .alias("r_sw"),
    )
    s = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("r_wc") * F.col("r_sw")).cast("bigint").alias("a"),
        F.sum(
            F.when((F.col("r_wc") == 1) & (F.col("r_sw") == 0), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when((F.col("r_wc") == 0) & (F.col("r_sw") == 1), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            F.when((F.col("r_wc") == 0) & (F.col("r_sw") == 0), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("d"),
    )
    n, a, b, c, d = (F.col(k) for k in ("n", "a", "b", "c", "d"))
    n1 = 2 * a + b + c
    n0 = 2 * d + b + c
    d_o = (b + c) * F.lit(1.0) / n
    d_e = (
        F.lit(2.0)
        * n1
        * n0
        / (F.lit(2.0) * n * (F.lit(2) * n - F.lit(1)))
    )
    return s.select(
        n.alias("n_units"),
        F.round(d_o, 6).alias("d_observed"),
        F.round(d_e, 6).alias("d_expected"),
        F.when(
            n1 * n0 > 0, F.round(F.lit(1.0) - d_o / d_e, 6)
        ).alias("krippendorff_alpha"),
    )


@register(
    "quade_test_weekday_revenue",
    """
    WITH d0 AS (SELECT MIN(l_shipdate) AS day0 FROM lineitem),
    d AS (SELECT l_shipdate AS day,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                      * 100 AS BIGINT) AS cents
          FROM lineitem GROUP BY l_shipdate),
    w AS (SELECT (date_diff('day', d0.day0, day) // 7)::BIGINT AS blk,
                 day, cents
          FROM d CROSS JOIN d0),
    full_w AS (SELECT blk FROM w GROUP BY blk HAVING COUNT(*) = 7),
    rr AS (SELECT blk, dayofweek(day)::INT AS wd,
                  2 * (RANK() OVER (PARTITION BY blk
                                    ORDER BY cents ASC) - 1)
                  + COUNT(*) OVER (PARTITION BY blk, cents) + 1 AS r2
           FROM w JOIN full_w USING (blk)),
    rng AS (SELECT blk, MAX(cents) - MIN(cents) AS rg
            FROM w JOIN full_w USING (blk) GROUP BY blk),
    q2 AS (SELECT blk,
                  2 * (RANK() OVER (ORDER BY rg ASC) - 1)
                  + COUNT(*) OVER (PARTITION BY rg) + 1 AS q2
           FROM rng),
    sc AS (SELECT rr.wd, q2.q2 * (rr.r2 - 8) AS s2
           FROM rr JOIN q2 USING (blk)),
    a AS (SELECT SUM(CAST(s2 AS DECIMAL(38,0)) * s2) AS a2,
                 (COUNT(*) // 7)::BIGINT AS n
          FROM sc),
    b AS (SELECT SUM(CAST(sj AS DECIMAL(38,0)) * sj) AS sb2
          FROM (SELECT wd, SUM(s2)::BIGINT AS sj FROM sc GROUP BY wd) z)
    SELECT a.n AS n_weeks,
           ROUND((a.n - 1.0) * (b.sb2::DOUBLE / a.n)
                 / (a.a2::DOUBLE - b.sb2::DOUBLE / a.n), 6) AS quade_f
    FROM a CROSS JOIN b
    """,
)
def quade_test_weekday_revenue(spark, sf_dir):
    """Quade's test for weekday effects on daily revenue -- the
    block-weighted sharpening of `friedman_weekday_revenue` (Friedman
    gives every week one vote; Quade 1979 weights each week by the
    RANK of its within-week revenue range, so high-signal weeks --
    where weekday actually moved money -- dominate, which buys real
    power at small k). Same full-7-day-week frame; within-block
    doubled midranks r2 and across-block doubled range-rank weights
    q2 keep S2 = q2*(r2 - 8) an exact integer (8 = k+1 absorbs the
    centering; both doublings cancel in F); A2 = sum S2^2 and B2 =
    (1/n) sum_j S_j^2 fold as exact DECIMAL(38,0); F = (n-1)B/(A-B)
    is one fixed-order expression. The block-rank window runs over the
    calendar-bounded WEEK frame, the within-block windows over 7-row
    blocks.

    Scale: one corpus scan to the day frame; every ranking step is
    calendar-bounded."""
    d = daily_cents(spark, sf_dir)
    d0 = d.agg(F.min("day").alias("day0"))
    w = d.crossJoin(F.broadcast(d0)).select(
        F.floor(F.datediff(F.col("day"), F.col("day0")) / 7)
        .cast("bigint")
        .alias("blk"),
        "day",
        "cents",
    )
    full_w = (
        w.groupBy("blk").count().filter(F.col("count") == 7).select("blk")
    )
    wf = w.join(F.broadcast(full_w), "blk")
    blk_win = Window.partitionBy("blk").orderBy(F.col("cents").asc())
    tie_win = Window.partitionBy("blk", "cents")
    rr = wf.select(
        "blk",
        F.dayofweek("day").alias("wd"),
        (
            2 * (F.rank().over(blk_win) - 1)
            + F.count(F.lit(1)).over(tie_win)
            + 1
        ).alias("r2"),
    )
    rng = wf.groupBy("blk").agg(
        (F.max("cents") - F.min("cents")).alias("rg")
    )
    # block-grain frame (calendar-bounded): doubled midrank of the range
    rg_win = Window.orderBy(F.col("rg").asc())
    rg_tie = Window.partitionBy("rg")
    q2 = rng.select(
        "blk",
        (
            2 * (F.rank().over(rg_win) - 1)
            + F.count(F.lit(1)).over(rg_tie)
            + 1
        ).alias("q2"),
    )
    sc = rr.join(q2, "blk").select(
        "wd", (F.col("q2") * (F.col("r2") - 8)).alias("s2")
    )
    a = sc.agg(
        F.sum(F.col("s2").cast("decimal(38,0)") * F.col("s2")).alias("a2"),
        (F.count(F.lit(1)) / 7).cast("bigint").alias("n"),
    )
    b = (
        sc.groupBy("wd")
        .agg(F.sum("s2").cast("bigint").alias("sj"))
        .agg(
            F.sum(F.col("sj").cast("decimal(38,0)") * F.col("sj")).alias(
                "sb2"
            )
        )
    )
    j = a.crossJoin(F.broadcast(b))
    bb = F.col("sb2").cast("double") / F.col("n")
    return j.select(
        F.col("n").alias("n_weeks"),
        F.round(
            (F.col("n") - F.lit(1.0)) * bb
            / (F.col("a2").cast("double") - bb),
            6,
        ).alias("quade_f"),
    )


@register(
    "chatterjee_xi_qty_price",
    """
    WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS x, l_extendedprice AS y,
                       l_orderkey AS ok, l_linenumber AS ln
                FROM lineitem),
    n AS (SELECT COUNT(*)::BIGINT AS n FROM li),
    gy AS (SELECT y, COUNT(*)::BIGINT AS c FROM li GROUP BY y),
    ry AS (SELECT y, c, SUM(c) OVER (ORDER BY y ASC)::BIGINT AS ri
           FROM gy),
    o AS (SELECT ry.ri,
                 ROW_NUMBER() OVER (ORDER BY li.x ASC, li.y ASC,
                                    li.ok ASC, li.ln ASC) AS rn
          FROM li JOIN ry USING (y)),
    num AS (SELECT SUM(CAST(ABS(b.ri - a.ri) AS DECIMAL(38,0))) AS sd
            FROM o a JOIN o b ON b.rn = a.rn + 1),
    den AS (SELECT SUM(CAST(c AS DECIMAL(38,0))
                       * (n.n - (ri - c)) * (ri - c)) AS sl
            FROM ry CROSS JOIN n)
    SELECT n.n AS n_rows,
           ROUND(1.0 - n.n * num.sd::DOUBLE / (2.0 * den.sl::DOUBLE), 6)
             AS chatterjee_xi
    FROM n CROSS JOIN num CROSS JOIN den
    """,
)
def chatterjee_xi_qty_price(spark, sf_dir):
    """Chatterjee's rank correlation xi (Chatterjee, JASA 2020) between
    line quantity and extended price -- the modern dependence
    coefficient that completes the Spearman/Kendall panel: rho and tau
    measure MONOTONE association (a perfect V-shape scores 0), xi
    consistently estimates a measure that is 0 iff independent and 1
    iff y is a measurable FUNCTION of x, so it sees non-monotone
    dependence the classical pair misses. Ties version (his eq. on
    ties): sort by x (deterministic tie-break by y then line key --
    stated because the original randomizes x-ties), r_i = #{{y_j <=
    y_i}} from the inclusive y-domain prefix scan, xi = 1 - n *
    sum|r_(i+1) - r_i| / (2 * sum l_i(n - l_i)) with l_i = #{{y_j >=
    y_i}} folding per DISTINCT y. Everything is exact integers --
    ranking via the distributed global row number, consecutive
    differences via ONE rn+1 equi-join (no corpus window in the Spark
    plan), both sums as DECIMAL(38,0) -- and xi is a single final
    division.

    Scale: one corpus scan, one y-domain prefix scan, one distributed
    ranking, one rn+1 self-join -- all equi-partitioned, nothing
    quadratic."""
    from veri_spark.operators.ranking import (
        global_prefix_agg,
        global_row_number,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.col("l_extendedprice").alias("y"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    n = li.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    gy = li.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ry = global_prefix_agg(
        gy, [F.col("y").asc()], "c", agg="sum", out_col="ri"
    )
    o = li.join(ry, "y").select("x", "y", "ok", "ln", "ri")
    o = global_row_number(
        o,
        [F.col("x").asc(), F.col("y").asc(), F.col("ok").asc(),
         F.col("ln").asc()],
        rn_col="rn",
    ).select("rn", "ri")
    a = o.select(F.col("rn").alias("ra"), F.col("ri").alias("ria"))
    b = o.select(F.col("rn").alias("rb"), F.col("ri").alias("rib"))
    num = a.join(b, F.col("rb") == F.col("ra") + 1).agg(
        F.sum(
            F.abs(F.col("rib") - F.col("ria")).cast("decimal(38,0)")
        ).alias("sd")
    )
    den = ry.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * (F.col("n") - (F.col("ri") - F.col("c")))
            * (F.col("ri") - F.col("c"))
        ).alias("sl")
    )
    j = n.crossJoin(F.broadcast(num)).crossJoin(F.broadcast(den))
    return j.select(
        F.col("n").alias("n_rows"),
        F.round(
            F.lit(1.0)
            - F.col("n")
            * F.col("sd").cast("double")
            / (F.lit(2.0) * F.col("sl").cast("double")),
            6,
        ).alias("chatterjee_xi"),
    )


@register(
    "cucconi_test_weekend_value",
    """
    WITH e AS (SELECT value,
                      CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                      END AS wk
               FROM events),
    g AS (SELECT value, SUM(wk)::BIGINT AS f1, COUNT(*)::BIGINT AS l
          FROM e GROUP BY value),
    t AS (SELECT SUM(f1)::BIGINT AS n1, SUM(l - f1)::BIGINT AS n2,
                 SUM(l)::BIGINT AS nn
          FROM g),
    p AS (SELECT f1, l,
                 2 * (SUM(l) OVER (ORDER BY value ASC) - l) + l + 1 AS mid2
          FROM g),
    s AS (SELECT SUM(CAST(f1 AS DECIMAL(38,0)) * mid2 * mid2) AS r2,
                 SUM(CAST(f1 AS DECIMAL(38,0))
                     * (2 * t.nn + 2 - mid2) * (2 * t.nn + 2 - mid2)) AS v2
          FROM p CROSS JOIN t GROUP BY t.nn),
    uv AS (SELECT t.n1, t.n2, t.nn,
                  (1.5 * s.r2::DOUBLE - t.n1 * (t.nn + 1.0)
                                             * (2.0 * t.nn + 1.0))
                  / sqrt(t.n1 * 1.0 * t.n2 * (t.nn + 1.0)
                         * (2.0 * t.nn + 1.0) * (8.0 * t.nn + 11.0) / 5.0)
                    AS u,
                  (1.5 * s.v2::DOUBLE - t.n1 * (t.nn + 1.0)
                                             * (2.0 * t.nn + 1.0))
                  / sqrt(t.n1 * 1.0 * t.n2 * (t.nn + 1.0)
                         * (2.0 * t.nn + 1.0) * (8.0 * t.nn + 11.0) / 5.0)
                    AS v,
                  2.0 * (t.nn * 1.0 * t.nn - 4.0)
                  / ((2.0 * t.nn + 1.0) * (8.0 * t.nn + 11.0)) - 1.0 AS rho
           FROM t CROSS JOIN s)
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           ROUND(u, 6) AS u_stat, ROUND(v, 6) AS v_stat,
           ROUND((u * u + v * v - 2.0 * rho * u * v)
                 / (2.0 * (1.0 - rho * rho)), 6) AS cucconi_c
    FROM uv
    """,
)
def cucconi_test_weekend_value(spark, sf_dir):
    """Cucconi's test (1968) for a JOINT location-scale difference
    between weekend and weekday values -- the one-shot
    Lepage-alternative that closes the two-sample battery: Mann-Whitney
    sees location, `ansari_bradley_weekend_value` sees scale, Cucconi's
    C combines squared ranks from BOTH ends (U on r^2, V on (N+1-r)^2,
    correlated rho exactly known under H0) and predates-but-outpowers
    Lepage in the standard simulations (Marozzi 2009 rehabilitated
    it). Doubled midranks keep both squared-rank sums exact:
    sum r^2 = sum f1*mid2^2 / 4 folds as DECIMAL(38,0) (the /4 is
    absorbed as 1.5*R2 against 6*sum r^2), the contra-ranks use
    (2N+2-mid2), and U, V, rho, C are fixed-order double expressions
    of five exact numbers.

    Scale: one value-grain aggregation + one prefix scan over the
    value domain; the corpus is touched once."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "value",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    g = e.groupBy("value").agg(
        F.sum("wk").cast("bigint").alias("f1"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    t = g.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum(F.col("l") - F.col("f1")).cast("bigint").alias("n2"),
        F.sum("l").cast("bigint").alias("nn"),
    )
    p = global_prefix_agg(
        g, [F.col("value").asc()], "l", agg="sum", out_col="cl"
    ).select(
        "f1",
        (2 * (F.col("cl") - F.col("l")) + F.col("l") + 1).alias("mid2"),
    )
    pj = p.crossJoin(F.broadcast(t))
    contra = F.lit(2) * F.col("nn") + F.lit(2) - F.col("mid2")
    s = pj.agg(
        F.sum(
            F.col("f1").cast("decimal(38,0)") * F.col("mid2") * F.col("mid2")
        ).alias("r2"),
        F.sum(F.col("f1").cast("decimal(38,0)") * contra * contra).alias(
            "v2"
        ),
    )
    j = t.crossJoin(F.broadcast(s))
    nnd = F.col("nn") * F.lit(1.0)
    se = F.sqrt(
        F.col("n1")
        * F.lit(1.0)
        * F.col("n2")
        * (nnd + F.lit(1.0))
        * (F.lit(2.0) * nnd + F.lit(1.0))
        * (F.lit(8.0) * nnd + F.lit(11.0))
        / F.lit(5.0)
    )
    mean = F.col("n1") * (nnd + F.lit(1.0)) * (F.lit(2.0) * nnd + F.lit(1.0))
    u = (F.lit(1.5) * F.col("r2").cast("double") - mean) / se
    v = (F.lit(1.5) * F.col("v2").cast("double") - mean) / se
    rho = (
        F.lit(2.0)
        * (nnd * nnd - F.lit(4.0))
        / ((F.lit(2.0) * nnd + F.lit(1.0)) * (F.lit(8.0) * nnd + F.lit(11.0)))
        - F.lit(1.0)
    )
    out = j.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        u.alias("u"),
        v.alias("v"),
        rho.alias("rho"),
    )
    return out.select(
        "n_weekend",
        "n_weekday",
        F.round(F.col("u"), 6).alias("u_stat"),
        F.round(F.col("v"), 6).alias("v_stat"),
        F.round(
            (
                F.col("u") * F.col("u")
                + F.col("v") * F.col("v")
                - F.lit(2.0) * F.col("rho") * F.col("u") * F.col("v")
            )
            / (F.lit(2.0) * (F.lit(1.0) - F.col("rho") * F.col("rho"))),
            6,
        ).alias("cucconi_c"),
    )


@register(
    "brunner_munzel_weekend_value",
    """
    WITH e AS (SELECT value,
                      CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                      END AS wk
               FROM events),
    g AS (SELECT value, SUM(wk)::BIGINT AS f1,
                 (COUNT(*) - SUM(wk))::BIGINT AS f2,
                 COUNT(*)::BIGINT AS l
          FROM e GROUP BY value),
    p AS (SELECT f1, f2,
                 2 * (SUM(l) OVER (ORDER BY value ASC) - l) + l + 1 AS mid2,
                 2 * (SUM(f1) OVER (ORDER BY value ASC) - f1) + f1 + 1
                   AS m12,
                 2 * (SUM(f2) OVER (ORDER BY value ASC) - f2) + f2 + 1
                   AS m22
          FROM g),
    s AS (SELECT SUM(f1)::BIGINT AS n1, SUM(f2)::BIGINT AS n2,
                 SUM(CAST(f1 AS DECIMAL(38,0)) * mid2) AS r1s2,
                 SUM(CAST(f2 AS DECIMAL(38,0)) * mid2) AS r2s2,
                 SUM(CAST(f1 AS DECIMAL(38,0)) * (mid2 - m12)
                     * (mid2 - m12)) AS a1,
                 SUM(CAST(f1 AS DECIMAL(38,0)) * (mid2 - m12)) AS b1,
                 SUM(CAST(f2 AS DECIMAL(38,0)) * (mid2 - m22)
                     * (mid2 - m22)) AS a2,
                 SUM(CAST(f2 AS DECIMAL(38,0)) * (mid2 - m22)) AS b2
          FROM p),
    f AS (SELECT n1, n2,
                 r1s2::DOUBLE / (2.0 * n1) AS r1,
                 r2s2::DOUBLE / (2.0 * n2) AS r2,
                 (n1 + 1.0) / 2.0 - r1s2::DOUBLE / (2.0 * n1) AS k1,
                 (n2 + 1.0) / 2.0 - r2s2::DOUBLE / (2.0 * n2) AS k2,
                 a1::DOUBLE AS a1, b1::DOUBLE AS b1,
                 a2::DOUBLE AS a2, b2::DOUBLE AS b2
          FROM s),
    v AS (SELECT n1, n2, r1, r2,
                 (a1 / 4.0 + k1 * b1 + n1 * k1 * k1) / (n1 - 1.0) AS s1,
                 (a2 / 4.0 + k2 * b2 + n2 * k2 * k2) / (n2 - 1.0) AS s2
          FROM f)
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           ROUND((r2 - r1) / (n1 + n2) + 0.5, 6) AS p_hat,
           ROUND(n1 * n2 * (r2 - r1)
                 / ((n1 + n2) * sqrt(n1 * s1 + n2 * s2)), 6) AS w_bm
    FROM v
    """,
)
def brunner_munzel_weekend_value(spark, sf_dir):
    """Brunner-Munzel test (2000) for stochastic dominance of weekday
    over weekend event values — the modern replacement for Mann-Whitney
    when the two groups may differ in SHAPE/variance (MW assumes
    exchangeability under H0; BM studentizes with per-group rank
    variances, the "generalized Behrens-Fisher" answer, and is what
    scipy/R recommend over MW for unequal spreads). Reports the relative
    effect p_hat = P(weekend < weekday) + P(=)/2 and the studentized
    W. Everything reduces to ONE value-grain frame: combined and
    within-group doubled midranks come from a single 3-measure prefix
    scan; the rank-variance pieces fold as exact DECIMAL sums via
    sum f*(D/2 + K)^2 = A/4 + K*B + n*K^2 (A, B exact integers, K a
    fixed-order double); W and p_hat are single expressions of eight
    exact numbers.

    Scale: one corpus scan to value grain + one prefix scan — the
    cucconi/MW machinery, two extra cumulative measures for free."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "value",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    g = e.groupBy("value").agg(
        F.sum("wk").cast("bigint").alias("f1"),
        (F.count(F.lit(1)) - F.sum("wk")).cast("bigint").alias("f2"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    p = global_prefix_agg(
        g,
        [F.col("value").asc()],
        ["l", "f1", "f2"],
        agg="sum",
        out_col=["cl", "c1", "c2"],
    ).select(
        "f1",
        "f2",
        (2 * (F.col("cl") - F.col("l")) + F.col("l") + 1).alias("mid2"),
        (2 * (F.col("c1") - F.col("f1")) + F.col("f1") + 1).alias("m12"),
        (2 * (F.col("c2") - F.col("f2")) + F.col("f2") + 1).alias("m22"),
    )
    d1 = F.col("mid2") - F.col("m12")
    d2 = F.col("mid2") - F.col("m22")
    s = p.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
        F.sum(F.col("f1").cast("decimal(38,0)") * F.col("mid2")).alias("r1s2"),
        F.sum(F.col("f2").cast("decimal(38,0)") * F.col("mid2")).alias("r2s2"),
        F.sum(F.col("f1").cast("decimal(38,0)") * d1 * d1).alias("a1"),
        F.sum(F.col("f1").cast("decimal(38,0)") * d1).alias("b1"),
        F.sum(F.col("f2").cast("decimal(38,0)") * d2 * d2).alias("a2"),
        F.sum(F.col("f2").cast("decimal(38,0)") * d2).alias("b2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    r1 = F.col("r1s2").cast("double") / (F.lit(2.0) * n1)
    r2 = F.col("r2s2").cast("double") / (F.lit(2.0) * n2)
    k1 = (n1 + F.lit(1.0)) / F.lit(2.0) - F.col("r1s2").cast("double") / (
        F.lit(2.0) * n1
    )
    k2 = (n2 + F.lit(1.0)) / F.lit(2.0) - F.col("r2s2").cast("double") / (
        F.lit(2.0) * n2
    )
    s1 = (
        F.col("a1").cast("double") / F.lit(4.0)
        + k1 * F.col("b1").cast("double")
        + n1 * k1 * k1
    ) / (n1 - F.lit(1.0))
    s2 = (
        F.col("a2").cast("double") / F.lit(4.0)
        + k2 * F.col("b2").cast("double")
        + n2 * k2 * k2
    ) / (n2 - F.lit(1.0))
    return s.select(
        n1.alias("n_weekend"),
        n2.alias("n_weekday"),
        F.round((r2 - r1) / (n1 + n2) + F.lit(0.5), 6).alias("p_hat"),
        F.round(
            n1 * n2 * (r2 - r1) / ((n1 + n2) * F.sqrt(n1 * s1 + n2 * s2)), 6
        ).alias("w_bm"),
    )


@register(
    "jonckheere_terpstra_priority_trend",
    """
    WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                      CAST(substr(o_orderpriority, 1, 1) AS INT) AS grp
               FROM orders),
    g AS (SELECT cents,
                 SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
                 SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
                 SUM(CASE WHEN grp = 3 THEN 1 ELSE 0 END)::BIGINT AS f3,
                 SUM(CASE WHEN grp = 4 THEN 1 ELSE 0 END)::BIGINT AS f4,
                 SUM(CASE WHEN grp = 5 THEN 1 ELSE 0 END)::BIGINT AS f5,
                 COUNT(*)::BIGINT AS l
          FROM o GROUP BY cents),
    p AS (SELECT f1, f2, f3, f4, f5, l,
                 2 * (SUM(f1) OVER (ORDER BY cents ASC) - f1) + f1 AS t1,
                 2 * (SUM(f2) OVER (ORDER BY cents ASC) - f2) + f2 AS t2,
                 2 * (SUM(f3) OVER (ORDER BY cents ASC) - f3) + f3 AS t3,
                 2 * (SUM(f4) OVER (ORDER BY cents ASC) - f4) + f4 AS t4
          FROM g),
    j AS (SELECT SUM(CAST(f2 AS DECIMAL(38,0)) * t1
                     + CAST(f3 AS DECIMAL(38,0)) * (t1 + t2)
                     + CAST(f4 AS DECIMAL(38,0)) * (t1 + t2 + t3)
                     + CAST(f5 AS DECIMAL(38,0)) * (t1 + t2 + t3 + t4))
                   AS j2,
                 SUM(f1)::BIGINT AS n1, SUM(f2)::BIGINT AS n2,
                 SUM(f3)::BIGINT AS n3, SUM(f4)::BIGINT AS n4,
                 SUM(f5)::BIGINT AS n5,
                 SUM(l)::BIGINT AS nn,
                 SUM(CAST(l AS DECIMAL(38,0)) * (l - 1) * (2 * l + 5))
                   AS tv1,
                 SUM(CAST(l AS DECIMAL(38,0)) * (l - 1) * (l - 2)) AS tv2,
                 SUM(CAST(l AS DECIMAL(38,0)) * (l - 1)) AS tv3
          FROM p),
    v AS (SELECT j2, nn,
                 (CAST(nn AS DECIMAL(38,0)) * nn
                  - (CAST(n1 AS DECIMAL(38,0)) * n1
                     + CAST(n2 AS DECIMAL(38,0)) * n2
                     + CAST(n3 AS DECIMAL(38,0)) * n3
                     + CAST(n4 AS DECIMAL(38,0)) * n4
                     + CAST(n5 AS DECIMAL(38,0)) * n5)) AS e2x2,
                 (CAST(nn AS DECIMAL(38,0)) * (nn - 1) * (2 * nn + 5)
                  - (CAST(n1 AS DECIMAL(38,0)) * (n1 - 1) * (2 * n1 + 5)
                     + CAST(n2 AS DECIMAL(38,0)) * (n2 - 1) * (2 * n2 + 5)
                     + CAST(n3 AS DECIMAL(38,0)) * (n3 - 1) * (2 * n3 + 5)
                     + CAST(n4 AS DECIMAL(38,0)) * (n4 - 1) * (2 * n4 + 5)
                     + CAST(n5 AS DECIMAL(38,0)) * (n5 - 1) * (2 * n5 + 5))
                  - tv1) AS v1,
                 (CAST(n1 AS DECIMAL(38,0)) * (n1 - 1) * (n1 - 2)
                  + CAST(n2 AS DECIMAL(38,0)) * (n2 - 1) * (n2 - 2)
                  + CAST(n3 AS DECIMAL(38,0)) * (n3 - 1) * (n3 - 2)
                  + CAST(n4 AS DECIMAL(38,0)) * (n4 - 1) * (n4 - 2)
                  + CAST(n5 AS DECIMAL(38,0)) * (n5 - 1) * (n5 - 2)) AS g2,
                 (CAST(n1 AS DECIMAL(38,0)) * (n1 - 1)
                  + CAST(n2 AS DECIMAL(38,0)) * (n2 - 1)
                  + CAST(n3 AS DECIMAL(38,0)) * (n3 - 1)
                  + CAST(n4 AS DECIMAL(38,0)) * (n4 - 1)
                  + CAST(n5 AS DECIMAL(38,0)) * (n5 - 1)) AS g3,
                 tv2, tv3
          FROM j)
    SELECT nn AS n_orders,
           ROUND(j2::DOUBLE / 2.0, 6) AS j_stat,
           ROUND((j2::DOUBLE - e2x2::DOUBLE / 2.0)
                 / (2.0 * sqrt(v1::DOUBLE / 72.0
                     + g2::DOUBLE * tv2::DOUBLE
                       / (36.0 * nn * (nn - 1.0) * (nn - 2.0))
                     + g3::DOUBLE * tv3::DOUBLE
                       / (8.0 * nn * (nn - 1.0)))), 6) AS z_jt
    FROM v
    """,
)
def jonckheere_terpstra_priority_trend(spark, sf_dir):
    """Jonckheere-Terpstra test for an ORDERED trend in order value
    across the five priority levels (1-URGENT < ... < 5-LOW) — the
    ordered-alternative upgrade of `kruskal_wallis_value_by_type` (KW
    asks "any group difference?"; JT asks "does value move
    MONOTONICALLY with priority?", the hypothesis a pricing analyst
    actually holds, with the power gain every ordered test buys). J is
    the sum of between-group Mann-Whitney counts for all 10 ordered
    pairs; on the value-grain frame J2 = 2J folds exactly as
    sum_v f_j * (2*below_i + at_i) over i < j, so ties contribute the
    standard half-counts with NO division. The tie-corrected null
    variance (Hollander-Wolfe) uses three exact group moments and
    three exact tie moments; z is one fixed-order expression.

    Scale: one corpus scan to value grain + one 4-measure prefix scan;
    group count is fixed (5), so the fold is a constant-width
    expression — no group×group join exists anywhere."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("grp"),
    )
    aggs = [
        F.sum(F.when(F.col("grp") == i, 1).otherwise(0))
        .cast("bigint")
        .alias(f"f{i}")
        for i in range(1, 6)
    ]
    g = o.groupBy("cents").agg(*aggs, F.count(F.lit(1)).cast("bigint").alias("l"))
    p = global_prefix_agg(
        g,
        [F.col("cents").asc()],
        ["f1", "f2", "f3", "f4"],
        agg="sum",
        out_col=["c1", "c2", "c3", "c4"],
    )
    t = {
        i: (2 * (F.col(f"c{i}") - F.col(f"f{i}")) + F.col(f"f{i}"))
        for i in range(1, 5)
    }
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    j = p.agg(
        F.sum(
            dec("f2") * t[1]
            + dec("f3") * (t[1] + t[2])
            + dec("f4") * (t[1] + t[2] + t[3])
            + dec("f5") * (t[1] + t[2] + t[3] + t[4])
        ).alias("j2"),
        *[F.sum(f"f{i}").cast("bigint").alias(f"n{i}") for i in range(1, 6)],
        F.sum("l").cast("bigint").alias("nn"),
        F.sum(dec("l") * (F.col("l") - 1) * (2 * F.col("l") + 5)).alias("tv1"),
        F.sum(dec("l") * (F.col("l") - 1) * (F.col("l") - 2)).alias("tv2"),
        F.sum(dec("l") * (F.col("l") - 1)).alias("tv3"),
    )
    nn = F.col("nn")
    nnd = nn.cast("decimal(38,0)")
    ns = [F.col(f"n{i}") for i in range(1, 6)]
    nds = [n.cast("decimal(38,0)") for n in ns]
    e2x2 = nnd * nn - sum(
        (nd * n for nd, n in zip(nds[1:], ns[1:])), nds[0] * ns[0]
    )
    v1 = (
        nnd * (nn - 1) * (2 * nn + 5)
        - sum(
            (nd * (n - 1) * (2 * n + 5) for nd, n in zip(nds[1:], ns[1:])),
            nds[0] * (ns[0] - 1) * (2 * ns[0] + 5),
        )
        - F.col("tv1")
    )
    g2 = sum(
        (nd * (n - 1) * (n - 2) for nd, n in zip(nds[1:], ns[1:])),
        nds[0] * (ns[0] - 1) * (ns[0] - 2),
    )
    g3 = sum((nd * (n - 1) for nd, n in zip(nds[1:], ns[1:])), nds[0] * (ns[0] - 1))
    j2d = F.col("j2").cast("double")
    nnd2 = nn.cast("double")
    return j.select(
        nn.alias("n_orders"),
        F.round(j2d / F.lit(2.0), 6).alias("j_stat"),
        F.round(
            (j2d - e2x2.cast("double") / F.lit(2.0))
            / (
                F.lit(2.0)
                * F.sqrt(
                    v1.cast("double") / F.lit(72.0)
                    + g2.cast("double")
                    * F.col("tv2").cast("double")
                    / (
                        F.lit(36.0)
                        * nnd2
                        * (nnd2 - F.lit(1.0))
                        * (nnd2 - F.lit(2.0))
                    )
                    + g3.cast("double")
                    * F.col("tv3").cast("double")
                    / (F.lit(8.0) * nnd2 * (nnd2 - F.lit(1.0)))
                )
            ),
            6,
        ).alias("z_jt"),
    )


from veri_spark.plans.events_behavior import (  # noqa: E402
    _WEEKDAY_Z_SQL,
    _acklam_probit,
    _step_up_rejections,
)

# Benjamini-Yekutieli thresholds: BH with q deflated by the harmonic
# factor c(m) = sum_{i<=m} 1/i — Python-precomputed Acklam literals over
# every (rank, m) pair, exactly like the Holm/BH tables.
_BY_Z = {
    (i, m): _acklam_probit(
        1 - 0.05 * i / (2 * m * sum(1.0 / j for j in range(1, m + 1)))
    )
    for m in range(1, 8)
    for i in range(1, m + 1)
}
_BY_SQL_ROWS = ", ".join(
    f"({i}, {m}, {z!r}, {round(z * 1e6)})" for (i, m), z in _BY_Z.items()
)


@register(
    "by_weekday_conversion_fdr",
    _WEEKDAY_Z_SQL
    + f""",
    thr AS (SELECT * FROM (VALUES {_BY_SQL_ROWS})
            AS v(i, mm, zthr, zthr_micro)),
    rt AS (SELECT z.*, r.rnk, thr.zthr, thr.zthr_micro
           FROM z JOIN r USING (dow) CROSS JOIN m
           JOIN thr ON thr.i = r.rnk AND thr.mm = m.m),
    istar AS (SELECT COALESCE(MAX(CASE WHEN abs(zval) >= zthr
                                       THEN rnk END), 0)::BIGINT AS i_max
              FROM rt)
    SELECT rt.dow, ROUND(rt.zval, 6) AS z_score,
           rt.rnk AS by_rank,
           rt.zthr_micro::BIGINT AS z_threshold_micro,
           istar.i_max AS max_rejected_rank,
           rt.rnk <= istar.i_max AS rejected
    FROM rt CROSS JOIN istar
    ORDER BY rt.rnk ASC
    """,
)
def by_weekday_conversion_fdr(spark, sf_dir):
    """Benjamini-Yekutieli FDR control over the per-weekday A/A z-tests —
    the DEPENDENCE-ROBUST sibling of `bh_weekday_conversion_fdr`: BH's
    FDR guarantee assumes independent (or PRDS) tests, but weekday
    segments of the same user population are arbitrarily correlated;
    BY restores the guarantee under ANY dependence by deflating q with
    the harmonic factor c(m) = sum 1/i (Benjamini-Yekutieli 2001) — the
    price is stricter thresholds, visible here side by side with BH on
    the SAME ranked frame. Running Holm (FWER), BH (FDR-independent)
    and BY (FDR-any-dependence) on one frame is the textbook
    strictness ladder.

    Determinism + scale: identical machinery to BH — the <= 7-cell
    shared z frame, triangular rank fold, Python-precomputed Acklam
    thresholds over every (rank, m) pair (c(m) folded into the
    quantile argument at table-build time, so the engines see only
    literals), one bounded MAX for the step-up cutoff."""
    return _step_up_rejections(spark, sf_dir, _BY_Z, "by_rank")


@register(
    "breslow_day_weekend_or",
    """
    WITH e AS (SELECT month(ts)::BIGINT AS stratum,
                      CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                        AS wk,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS conv
               FROM events),
    g AS (SELECT stratum,
                 SUM(wk * conv)::BIGINT AS a,
                 SUM(wk * (1 - conv))::BIGINT AS b,
                 SUM((1 - wk) * conv)::BIGINT AS c,
                 SUM((1 - wk) * (1 - conv))::BIGINT AS d
          FROM e GROUP BY stratum
          HAVING SUM(wk * conv) + SUM(wk * (1 - conv))
                 + SUM((1 - wk) * conv) + SUM((1 - wk) * (1 - conv)) > 0),
    q AS (SELECT *,
                 CAST(FLOOR(1e6 * (a * d) / ((a + b + c + d) * 1.0) + 0.5)
                      AS BIGINT) AS num_micro,
                 CAST(FLOOR(1e6 * (b * c) / ((a + b + c + d) * 1.0) + 0.5)
                      AS BIGINT) AS den_micro
          FROM g),
    psi AS (SELECT SUM(num_micro)::DOUBLE / SUM(den_micro) AS psi,
                   COUNT(*)::BIGINT AS n_strata
            FROM q),
    cell AS (SELECT q.a, q.stratum,
                    (q.a + q.b)::DOUBLE AS n1, (q.a + q.c)::DOUBLE AS m1,
                    (q.a + q.b + q.c + q.d)::DOUBLE AS nn, psi.psi
             FROM q CROSS JOIN psi),
    ev AS (SELECT stratum, a, psi,
                  (psi * (n1 + m1) + (nn - n1 - m1)) AS bb,
                  (psi - 1.0) AS aa,
                  psi * n1 * m1 AS cc,
                  n1, m1, nn
           FROM cell),
    ex AS (SELECT stratum, a, n1, m1, nn,
                  CASE WHEN abs(aa) < 1e-12 THEN n1 * m1 / nn
                       ELSE (bb - sqrt(bb * bb - 4.0 * aa * cc))
                            / (2.0 * aa) END AS ee
           FROM ev),
    t AS (SELECT SUM(CAST(round(1e9 * (a - ee) * (a - ee)
                     * (1.0 / ee + 1.0 / (n1 - ee) + 1.0 / (m1 - ee)
                        + 1.0 / (nn - n1 - m1 + ee)))
                     AS DECIMAL(38,0))) AS x2q
          FROM ex)
    SELECT psi.n_strata, ROUND(psi.psi, 6) AS or_mh,
           ROUND(t.x2q::DOUBLE / 1e9, 6) AS x2_breslow_day
    FROM psi CROSS JOIN t
    """,
)
def breslow_day_weekend_or(spark, sf_dir):
    """Breslow-Day homogeneity test (1980) for the weekend-conversion
    odds ratio across month strata — the check
    `mantel_haenszel_weekend_or` PRESUPPOSES: MH pools a common OR, but
    pooling is only licensed if the per-stratum ORs are homogeneous;
    Breslow-Day scores each stratum's observed cell a against its
    expected value under the pooled OR (the root of a quadratic — the
    conditional expectation given the margins) over the exact variance,
    X^2 ~ chi2(K-1) under homogeneity. The pooled psi is the SAME
    micro-quantized MH ratio the MH query reports (exact integer sums,
    one division); per-stratum E is the closed-form quadratic root and
    V the harmonic of the four fitted cells — fixed-order doubles of
    exact integers, identical trees in both engines (the psi = 1
    degenerate branch guarded by an explicit integer-comparison CASE).

    Scale: one corpus scan to a 12-row (month) cell frame; everything
    after is bounded arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.month("ts").cast("bigint").alias("stratum"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    g = e.groupBy("stratum").agg(
        F.sum(F.col("wk") * F.col("conv")).cast("bigint").alias("a"),
        F.sum(F.col("wk") * (1 - F.col("conv"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("wk")) * F.col("conv")).cast("bigint").alias("c"),
        F.sum((1 - F.col("wk")) * (1 - F.col("conv")))
        .cast("bigint")
        .alias("d"),
    ).filter(F.col("a") + F.col("b") + F.col("c") + F.col("d") > 0)
    nn_i = (F.col("a") + F.col("b") + F.col("c") + F.col("d")) * F.lit(1.0)
    q = g.select(
        "*",
        F.floor(F.lit(1e6) * (F.col("a") * F.col("d")) / nn_i + F.lit(0.5))
        .cast("bigint")
        .alias("num_micro"),
        F.floor(F.lit(1e6) * (F.col("b") * F.col("c")) / nn_i + F.lit(0.5))
        .cast("bigint")
        .alias("den_micro"),
    )
    psi = q.agg(
        (
            F.sum("num_micro").cast("double") / F.sum("den_micro")
        ).alias("psi"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
    )
    cell = q.crossJoin(F.broadcast(psi)).select(
        "stratum",
        "a",
        "psi",
        (F.col("a") + F.col("b")).cast("double").alias("n1"),
        (F.col("a") + F.col("c")).cast("double").alias("m1"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d"))
        .cast("double")
        .alias("nn"),
    )
    bb = F.col("psi") * (F.col("n1") + F.col("m1")) + (
        F.col("nn") - F.col("n1") - F.col("m1")
    )
    aa = F.col("psi") - F.lit(1.0)
    cc = F.col("psi") * F.col("n1") * F.col("m1")
    ee = F.when(
        F.abs(aa) < F.lit(1e-12), F.col("n1") * F.col("m1") / F.col("nn")
    ).otherwise(
        (bb - F.sqrt(bb * bb - F.lit(4.0) * aa * cc)) / (F.lit(2.0) * aa)
    )
    ex = cell.select("stratum", "a", "n1", "m1", "nn", ee.alias("ee"))
    # nano-quantize each stratum's X^2 term before the fold (the
    # ljung-box idiom) so the 12-term sum is aggregation-order-proof —
    # a raw double SUM could flip the 6th rounded decimal between
    # engines/partitionings (round-13, r12 advisor)
    t = ex.agg(
        F.sum(
            F.round(
                F.lit(1e9)
                * (F.col("a") - F.col("ee"))
                * (F.col("a") - F.col("ee"))
                * (
                    F.lit(1.0) / F.col("ee")
                    + F.lit(1.0) / (F.col("n1") - F.col("ee"))
                    + F.lit(1.0) / (F.col("m1") - F.col("ee"))
                    + F.lit(1.0)
                    / (F.col("nn") - F.col("n1") - F.col("m1") + F.col("ee"))
                )
            ).cast("decimal(38,0)")
        ).alias("x2q")
    )
    return psi.crossJoin(F.broadcast(t)).select(
        "n_strata",
        F.round("psi", 6).alias("or_mh"),
        F.round(F.col("x2q").cast("double") / F.lit(1e9), 6).alias(
            "x2_breslow_day"
        ),
    )


@register(
    "energy_distance_weekend_value",
    """
    WITH e AS (SELECT CAST(round(1e6 * value) AS BIGINT) AS vq,
                      CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                      END AS wk
               FROM events),
    g AS (SELECT vq, SUM(wk)::BIGINT AS a, SUM(1 - wk)::BIGINT AS b
          FROM e GROUP BY vq),
    p AS (SELECT vq, a, b,
                 SUM(a) OVER w - a AS pa, SUM(b) OVER w - b AS pb,
                 SUM(a * vq) OVER w - a * vq AS sa,
                 SUM(b * vq) OVER w - b * vq AS sb
          FROM g WINDOW w AS (ORDER BY vq ASC)),
    t AS (SELECT SUM(a)::BIGINT AS n1, SUM(b)::BIGINT AS n2,
                 SUM(CAST(a AS DECIMAL(38,0)) * (vq * pb - sb)
                     + CAST(b AS DECIMAL(38,0)) * (vq * pa - sa)) AS cq,
                 SUM(CAST(a AS DECIMAL(38,0)) * (vq * pa - sa)) AS wxq,
                 SUM(CAST(b AS DECIMAL(38,0)) * (vq * pb - sb)) AS wyq
          FROM p)
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           ROUND(2.0 * (cq::DOUBLE / 1e6) / (n1 * 1.0 * n2)
                 - 2.0 * (wxq::DOUBLE / 1e6) / (n1 * 1.0 * n1)
                 - 2.0 * (wyq::DOUBLE / 1e6) / (n2 * 1.0 * n2), 6)
             AS energy_d2,
           ROUND((n1 * 1.0 * n2 / (n1 + n2))
                 * (2.0 * (cq::DOUBLE / 1e6) / (n1 * 1.0 * n2)
                    - 2.0 * (wxq::DOUBLE / 1e6) / (n1 * 1.0 * n1)
                    - 2.0 * (wyq::DOUBLE / 1e6) / (n2 * 1.0 * n2)), 6)
             AS energy_stat
    FROM t
    """,
)
def energy_distance_weekend_value(spark, sf_dir):
    """Energy distance / E-statistic two-sample test (Szekely & Rizzo
    2004) between weekend and weekday event values -- the
    characteristic-function omnibus that completes the drift panel: KS
    sees the max CDF gap, CvM the integrated gap, Wasserstein the
    transport cost; the energy statistic D^2 = 2*E|X-Y| - E|X-X'| -
    E|Y-Y'| (V-statistic convention, diagonal zeros included) is zero
    IFF the distributions are equal and weights the whole shape, and
    n1*n2/(n1+n2) * D^2 is the permutation-test statistic practitioners
    actually threshold.

    The quadratic pair sums collapse onto the sorted value domain: for
    counts (a_v, b_v) per distinct micro-quantized value, sum |x-y|
    over pairs = sum_v [a_v*(v*PB_<v - SB_<v) + b_v*(v*PA_<v - SA_<v)]
    with P/S the EXCLUSIVE prefix count/sum of the other group -- four
    prefix measures scanned in ONE `global_prefix_agg` pass (no
    unpartitioned window in the Spark plan). Values are micro-quantized
    first, so every prefix term is an exact integer and the three pair
    masses fold as DECIMAL(38,0); the only doubles are the final
    divisions (identical expressions both engines).

    Scale: one corpus scan to value-grain counts, one multi-measure
    prefix scan, one value-grain fold -- the classic O(n^2) pair
    statistic at sort cost, same machinery as `ks_value_drift` /
    `score_auc_mann_whitney`. At 100 TB the per-row BIGINT inner terms
    (v * prefix-count) need the decimal cast moved inward (documented
    bound: safe below ~2e13 rows at this value range)."""
    from veri_spark.operators.ranking import global_prefix_agg

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.round(F.lit(1e6) * F.col("value")).cast("bigint").alias("vq"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    g = e.groupBy("vq").agg(
        F.sum("wk").cast("bigint").alias("a"),
        F.sum(1 - F.col("wk")).cast("bigint").alias("b"),
    )
    g = g.select(
        "vq",
        "a",
        "b",
        (F.col("a") * F.col("vq")).alias("av"),
        (F.col("b") * F.col("vq")).alias("bv"),
    )
    p = global_prefix_agg(
        g,
        [F.col("vq").asc()],
        ["a", "b", "av", "bv"],
        agg="sum",
        out_col=["ca", "cb", "cav", "cbv"],
    )
    dec = "decimal(38,0)"
    pa = F.col("ca") - F.col("a")
    pb = F.col("cb") - F.col("b")
    sa = F.col("cav") - F.col("av")
    sb = F.col("cbv") - F.col("bv")
    t = p.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n2"),
        F.sum(
            F.col("a").cast(dec) * (F.col("vq") * pb - sb)
            + F.col("b").cast(dec) * (F.col("vq") * pa - sa)
        ).alias("cq"),
        F.sum(F.col("a").cast(dec) * (F.col("vq") * pa - sa)).alias("wxq"),
        F.sum(F.col("b").cast(dec) * (F.col("vq") * pb - sb)).alias("wyq"),
    )
    n1d = F.col("n1") * F.lit(1.0)
    n2d = F.col("n2") * F.lit(1.0)
    d2 = (
        F.lit(2.0) * (F.col("cq").cast("double") / F.lit(1e6)) / (n1d * F.col("n2"))
        - F.lit(2.0) * (F.col("wxq").cast("double") / F.lit(1e6)) / (n1d * F.col("n1"))
        - F.lit(2.0) * (F.col("wyq").cast("double") / F.lit(1e6)) / (n2d * F.col("n2"))
    )
    return t.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.round(d2, 6).alias("energy_d2"),
        F.round((n1d * F.col("n2") / (F.col("n1") + F.col("n2"))) * d2, 6).alias(
            "energy_stat"
        ),
    )


@register(
    "conover_squared_ranks_scale",
    """
    WITH e AS (SELECT event_type AS g,
                      CAST(round(1e6 * value) AS BIGINT) AS xq
               FROM events),
    gm AS (SELECT g, SUM(xq)::BIGINT AS sq, COUNT(*)::BIGINT AS ng
           FROM e GROUP BY g),
    u AS (SELECT e.g, abs(e.xq::DOUBLE - gm.sq::DOUBLE / gm.ng) AS u
          FROM e JOIN gm USING (g)),
    cnt AS (SELECT g, u, COUNT(*)::BIGINT AS f FROM u GROUP BY g, u),
    lu AS (SELECT u, SUM(f)::BIGINT AS l FROM cnt GROUP BY u),
    mid AS (SELECT u, l,
                   2 * (SUM(l) OVER (ORDER BY u ASC) - l) + l + 1 AS mid2
            FROM lu),
    sg AS (SELECT c.g,
                  SUM(CAST(c.f AS DECIMAL(38,0)) * (m.mid2 * m.mid2)) AS s2
           FROM cnt c JOIN mid m USING (u) GROUP BY c.g),
    tot AS (SELECT SUM(l)::BIGINT AS n,
                   SUM(CAST(l AS DECIMAL(38,0)) * (mid2 * mid2)) AS sall,
                   SUM(CAST(l AS DECIMAL(38,0)) * (mid2 * mid2)
                       * (mid2 * mid2)) AS s4
            FROM mid),
    num AS (SELECT COUNT(*)::BIGINT AS k,
                   SUM(CAST(round(1e3 * (sg.s2::DOUBLE * sg.s2::DOUBLE)
                                  / gm.ng) AS DECIMAL(38,0))) AS numq
            FROM sg JOIN gm USING (g))
    SELECT tot.n AS n_events, num.k AS k_types,
           ROUND((num.numq::DOUBLE / 1e3
                  - tot.n * (tot.sall::DOUBLE / tot.n)
                          * (tot.sall::DOUBLE / tot.n))
                 / ((tot.s4::DOUBLE
                     - tot.n * (tot.sall::DOUBLE / tot.n)
                             * (tot.sall::DOUBLE / tot.n))
                    / (tot.n - 1.0)), 6) AS t_conover
    FROM tot CROSS JOIN num
    """,
)
def conover_squared_ranks_scale(spark, sf_dir):
    """Conover squared-ranks test for scale (Conover & Iman 1981;
    Conover, Practical Nonparametric Statistics 3e sec. 5.3) across the
    five event types -- the RANK-based k-sample dispersion test that
    completes the scale panel: Bartlett assumes normality, Levene
    trades it for mean-deviation ANOVA, Ansari-Bradley handles two
    samples; Conover's T ranks |x - mean_g| pooled, squares the
    midranks, and compares per-group squared-rank masses, staying valid
    under heavy tails at any k.

    Exactness: values micro-quantized, so group means are exact-integer
    ratios and u = |xq - sq/ng| is the same double in both engines;
    pooled midranks ride the distinct-u grain as the INTEGER mid2 =
    2*rank (the cucconi idiom) -- T is invariant to the x2 rank scaling
    because numerator and D^2 both scale by 16. Every fold is decimal
    over integer terms except the k-row sum of S_g^2/n_g, which is
    milli-quantized before folding (order-proof; S_g^2 ~ 1e31 sits far
    above double ulp at that magnitude, but both engines quantize the
    SAME double so the fold stays bit-identical).

    Scale: one corpus scan, a group-mean join, distinct-u grain
    aggregation, ONE prefix scan for midranks (global_prefix_agg -- no
    unpartitioned window in the Spark plan), then k-row and value-grain
    folds. Same machinery as `cucconi_test_weekend_value` /
    `score_auc_mann_whitney`."""
    from veri_spark.operators.ranking import global_prefix_agg

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.lit(1e6) * F.col("value")).cast("bigint").alias("xq"),
    )
    gm = e.groupBy("g").agg(
        F.sum("xq").cast("bigint").alias("sq"),
        F.count(F.lit(1)).cast("bigint").alias("ng"),
    )
    u = e.join(gm, "g").select(
        "g",
        F.abs(
            F.col("xq").cast("double")
            - F.col("sq").cast("double") / F.col("ng")
        ).alias("u"),
    )
    cnt = u.groupBy("g", "u").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    lu = cnt.groupBy("u").agg(F.sum("f").cast("bigint").alias("l"))
    mid = global_prefix_agg(
        lu, [F.col("u").asc()], "l", agg="sum", out_col="cl"
    ).select(
        "u",
        "l",
        (2 * (F.col("cl") - F.col("l")) + F.col("l") + 1).alias("mid2"),
    )
    dec = "decimal(38,0)"
    sg = (
        cnt.join(mid.select("u", "mid2"), "u")
        .groupBy("g")
        .agg(
            F.sum(
                F.col("f").cast(dec) * (F.col("mid2") * F.col("mid2"))
            ).alias("s2")
        )
    )
    tot = mid.agg(
        F.sum("l").cast("bigint").alias("n"),
        F.sum(
            F.col("l").cast(dec) * (F.col("mid2") * F.col("mid2"))
        ).alias("sall"),
        F.sum(
            F.col("l").cast(dec)
            * (F.col("mid2") * F.col("mid2"))
            * (F.col("mid2") * F.col("mid2"))
        ).alias("s4"),
    )
    num = sg.join(gm, "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.round(
                F.lit(1e3)
                * (F.col("s2").cast("double") * F.col("s2").cast("double"))
                / F.col("ng")
            ).cast(dec)
        ).alias("numq"),
    )
    j = tot.crossJoin(F.broadcast(num))
    sbar = F.col("sall").cast("double") / F.col("n")
    return j.select(
        F.col("n").alias("n_events"),
        F.col("k").alias("k_types"),
        F.round(
            (F.col("numq").cast("double") / F.lit(1e3)
             - F.col("n") * sbar * sbar)
            / (
                (F.col("s4").cast("double") - F.col("n") * sbar * sbar)
                / (F.col("n") - F.lit(1.0))
            ),
            6,
        ).alias("t_conover"),
    )


@register(
    "hoeffding_d_daily",
    """
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                        AS revq,
                      COUNT(*)::BIGINT AS cnt
               FROM orders GROUP BY 1),
    p AS (SELECT a.day,
                 4 + SUM((CASE WHEN b.revq < a.revq THEN 2
                               WHEN b.revq = a.revq THEN 1 ELSE 0 END)
                         * (CASE WHEN b.cnt < a.cnt THEN 2
                                 WHEN b.cnt = a.cnt THEN 1 ELSE 0 END))
                   AS q4,
                 2 + SUM(CASE WHEN b.revq < a.revq THEN 2
                              WHEN b.revq = a.revq THEN 1 ELSE 0 END) AS r2,
                 2 + SUM(CASE WHEN b.cnt < a.cnt THEN 2
                              WHEN b.cnt = a.cnt THEN 1 ELSE 0 END) AS s2
          FROM d a JOIN d b ON a.day <> b.day GROUP BY a.day),
    s AS (SELECT COUNT(*)::BIGINT AS n,
                 SUM(CAST((q4 - 4) * (q4 - 8) AS DECIMAL(38,0))) AS d1q,
                 SUM(CAST((r2 - 2) * (r2 - 4) AS DECIMAL(38,0))
                     * ((s2 - 2) * (s2 - 4))) AS d2q,
                 SUM(CAST((r2 - 4) * (s2 - 4) AS DECIMAL(38,0))
                     * (q4 - 4)) AS d3q
          FROM p)
    SELECT n AS n_days,
           ROUND(30.0 * (((n - 2.0) * (n - 3.0)) * d1q::DOUBLE
                         + d2q::DOUBLE - 2.0 * (n - 2.0) * d3q::DOUBLE)
                 / (16.0 * n * (n - 1.0) * (n - 2.0) * (n - 3.0)
                    * (n - 4.0)), 8) AS d_hoeffding
    FROM s
    """,
)
def hoeffding_d_daily(spark, sf_dir):
    """Hoeffding's D (Hoeffding 1948) between daily revenue and daily
    order count on the calendar day spine -- the nonparametric
    INDEPENDENCE test that completes the dependence panel the way
    chatterjee_xi did for functional dependence: Pearson sees linear,
    Spearman/Kendall see monotone, xi sees y=f(x); D is consistent
    against ALL dependence alternatives (any departure of the joint
    CDF from the product of marginals), so it flags the
    revenue-vs-volume coupling shape the others can each miss.

    Midrank/tie handling via the 1948 c-function convention (c = 1 if
    less, 1/2 if equal, 0 if greater, summed over j != i), carried as
    INTEGERS by the x2/x4 scaling: r2 = 2R, s2 = 2S, q4 = 4Q, under
    which 16*D1 = (q4-4)(q4-8), 16*D2 = (r2-2)(r2-4)(s2-2)(s2-4),
    16*D3 = (r2-4)(s2-4)(q4-4) -- every per-day term an exact integer
    folded in DECIMAL(38,0); the single double division happens once,
    identically, in both engines.

    Scale: the pair join lives on the calendar-BOUNDED day spine
    (2,399 rows at ANY SF -- the adjudicated bounded-frame exemption,
    same as bartels/pettitt), so the 5.8M c-products are a fixed cost
    independent of corpus size; the corpus itself is touched by ONE
    scan to the day grain. The Spark crossJoin broadcasts the 2,399-row
    spine."""
    d = daily_orders(spark, sf_dir)
    a = d.select(
        F.col("day").alias("da"),
        F.col("revq").alias("xa"),
        F.col("cnt").alias("ya"),
    )
    b = d.select(
        F.col("day").alias("db"),
        F.col("revq").alias("xb"),
        F.col("cnt").alias("yb"),
    )
    cx2 = (
        F.when(F.col("xb") < F.col("xa"), 2)
        .when(F.col("xb") == F.col("xa"), 1)
        .otherwise(0)
    )
    cy2 = (
        F.when(F.col("yb") < F.col("ya"), 2)
        .when(F.col("yb") == F.col("ya"), 1)
        .otherwise(0)
    )
    p = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("da") != F.col("db"))
        .groupBy("da")
        .agg(
            (F.lit(4) + F.sum(cx2 * cy2)).alias("q4"),
            (F.lit(2) + F.sum(cx2)).alias("r2"),
            (F.lit(2) + F.sum(cy2)).alias("s2"),
        )
    )
    dec = "decimal(38,0)"
    s = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            ((F.col("q4") - 4) * (F.col("q4") - 8)).cast(dec)
        ).alias("d1q"),
        F.sum(
            ((F.col("r2") - 2) * (F.col("r2") - 4)).cast(dec)
            * ((F.col("s2") - 2) * (F.col("s2") - 4))
        ).alias("d2q"),
        F.sum(
            ((F.col("r2") - 4) * (F.col("s2") - 4)).cast(dec)
            * (F.col("q4") - 4)
        ).alias("d3q"),
    )
    n = F.col("n")
    num = (
        ((n - F.lit(2.0)) * (n - F.lit(3.0))) * F.col("d1q").cast("double")
        + F.col("d2q").cast("double")
        - F.lit(2.0) * (n - F.lit(2.0)) * F.col("d3q").cast("double")
    )
    den = (
        F.lit(16.0)
        * n
        * (n - F.lit(1.0))
        * (n - F.lit(2.0))
        * (n - F.lit(3.0))
        * (n - F.lit(4.0))
    )
    return s.select(
        n.alias("n_days"),
        F.round(F.lit(30.0) * num / den, 8).alias("d_hoeffding"),
    )


@register(
    "distance_correlation_daily",
    """
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      CAST(round(SUM(CAST(round(o_totalprice * 100)
                                          AS BIGINT)) / 10000.0)
                           AS BIGINT) AS x,
                      COUNT(*)::BIGINT AS y
               FROM orders GROUP BY 1),
    n AS (SELECT COUNT(*)::BIGINT AS n FROM d),
    p AS (SELECT a.day AS di, b.day AS dj,
                 abs(a.x - b.x) AS aij, abs(a.y - b.y) AS bij
          FROM d a CROSS JOIN d b),
    r AS (SELECT di, SUM(aij)::BIGINT AS ra, SUM(bij)::BIGINT AS rb
          FROM p GROUP BY di),
    t AS (SELECT SUM(aij)::BIGINT AS sa, SUM(bij)::BIGINT AS sb FROM p),
    c AS (SELECT n.n * n.n * p.aij - n.n * ri.ra - n.n * rj.ra + t.sa
                   AS anum,
                 n.n * n.n * p.bij - n.n * ri.rb - n.n * rj.rb + t.sb
                   AS bnum
          FROM p JOIN r ri ON ri.di = p.di
                 JOIN r rj ON rj.di = p.dj
          CROSS JOIN n CROSS JOIN t),
    s AS (SELECT SUM(CAST(anum AS DECIMAL(38,0)) * bnum) AS sab,
                 SUM(CAST(anum AS DECIMAL(38,0)) * anum) AS saa,
                 SUM(CAST(bnum AS DECIMAL(38,0)) * bnum) AS sbb
          FROM c)
    SELECT n.n AS n_days,
           CASE WHEN s.saa > 0 AND s.sbb > 0
                THEN ROUND(sqrt(s.sab::DOUBLE
                                / sqrt(s.saa::DOUBLE * s.sbb::DOUBLE)), 6)
           END AS distance_correlation
    FROM n CROSS JOIN s
    """,
)
def distance_correlation_daily(spark, sf_dir):
    """Distance correlation (Szekely, Rizzo & Bakirov 2007) between
    daily revenue and daily order count on the calendar day spine — the
    third leg of the modern dependence panel: Hoeffding's D tests the
    joint-CDF factorization, Chatterjee's xi detects y = f(x); dCor is
    ZERO exactly when independent and gives a [0,1] STRENGTH that sees
    every dependence shape (V-statistic / biased version, diagonal
    included).

    Exact-integer discipline end-to-end: revenue is cents-exact then
    scaled to 100-dollar units (dCor is scale-invariant per marginal, so
    the unit choice only bounds magnitudes); the double-centered entries
    ride as INTEGER numerators A_num = n^2*a_ij - n*ra_i - n*ra_j + sa
    (every term long-safe at the day-spine bound), and the three pair
    masses sum(A*B), sum(A^2), sum(B^2) fold as DECIMAL(38,0) — the n^6
    scale factors cancel in dCor, so the ONLY doubles are the final
    sqrt/div, identical in both engines.

    Scale: the n^2 pair frame lives on the calendar-BOUNDED day spine
    (2,399 rows at any SF — the adjudicated bounded-frame exemption),
    ~5.8M rows with a broadcast self-join; the corpus itself is touched
    by ONE scan to the day grain."""
    # round 15: the day grain rides the session-shared daily_orders
    # checkpoint (x = round(revq / 10000.0) is derived from the exact
    # revq sum, bit-identical to the inline build); the three pair-frame
    # consumers now replay a 2,399-row checkpoint projection, so the
    # per-query persist is gone
    # the explicit repartition spreads the n^2 pair fan-out below: the
    # shared spine checkpoint is AQE-coalesced to ONE partition (right
    # for the tiny-fold consumers, measured 8.9 s vs 2.1 s here), and
    # REPARTITION_BY_NUM of a 2,399-row frame is trivially cheap while
    # never being re-coalesced
    d = (
        daily_orders(spark, sf_dir)
        .select(
            "day",
            F.round(F.col("revq") / F.lit(10000.0)).cast("bigint").alias("x"),
            F.col("cnt").alias("y"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    a = d.select(
        F.col("day").alias("di"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = d.select(
        F.col("day").alias("dj"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    p = a.crossJoin(F.broadcast(b)).select(
        "di",
        "dj",
        F.abs(F.col("xa") - F.col("xb")).alias("aij"),
        F.abs(F.col("ya") - F.col("yb")).alias("bij"),
    )
    r = p.groupBy("di").agg(
        F.sum("aij").cast("bigint").alias("ra"),
        F.sum("bij").cast("bigint").alias("rb"),
    )
    t = p.agg(
        F.sum("aij").cast("bigint").alias("sa"),
        F.sum("bij").cast("bigint").alias("sb"),
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ri = r.select(
        F.col("di").alias("i_key"),
        F.col("ra").alias("rai"),
        F.col("rb").alias("rbi"),
    )
    rj = r.select(
        F.col("di").alias("j_key"),
        F.col("ra").alias("raj"),
        F.col("rb").alias("rbj"),
    )
    c = (
        p.join(F.broadcast(ri), p["di"] == ri["i_key"])
        .join(F.broadcast(rj), p["dj"] == rj["j_key"])
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(t))
        .select(
            (
                F.col("n") * F.col("n") * F.col("aij")
                - F.col("n") * F.col("rai")
                - F.col("n") * F.col("raj")
                + F.col("sa")
            ).alias("anum"),
            (
                F.col("n") * F.col("n") * F.col("bij")
                - F.col("n") * F.col("rbi")
                - F.col("n") * F.col("rbj")
                + F.col("sb")
            ).alias("bnum"),
        )
    )
    dec = "decimal(38,0)"
    s = c.agg(
        F.sum(F.col("anum").cast(dec) * F.col("bnum")).alias("sab"),
        F.sum(F.col("anum").cast(dec) * F.col("anum")).alias("saa"),
        F.sum(F.col("bnum").cast(dec) * F.col("bnum")).alias("sbb"),
    )
    j = n.crossJoin(F.broadcast(s))
    return j.select(
        F.col("n").alias("n_days"),
        F.when(
            (F.col("saa") > 0) & (F.col("sbb") > 0),
            F.round(
                F.sqrt(
                    F.col("sab").cast("double")
                    / F.sqrt(
                        F.col("saa").cast("double")
                        * F.col("sbb").cast("double")
                    )
                ),
                6,
            ),
        ).alias("distance_correlation"),
    )


# ---------------------------------------------------------------------------
# Round-14 additions: the combined location+scale two-sample test (Lepage),
# the BWS rank test, Dunn's post-hoc for the Kruskal-Wallis battery, and
# O'Brien's transformed-ANOVA scale test.
# ---------------------------------------------------------------------------


@register(
    "lepage_test_weekend_value",
    """
    WITH e AS (SELECT value,
                      CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                      END AS wk
               FROM events),
    g AS (SELECT value, SUM(wk)::BIGINT AS f1, COUNT(*)::BIGINT AS l
          FROM e GROUP BY value),
    t AS (SELECT SUM(f1)::BIGINT AS n1, SUM(l - f1)::BIGINT AS n2,
                 SUM(l)::BIGINT AS nn
          FROM g),
    p AS (SELECT f1, l,
                 2 * (SUM(l) OVER (ORDER BY value ASC) - l) + l + 1 AS mid2
          FROM g),
    sc AS (SELECT f1, l, mid2,
                  LEAST(mid2, 2 * t.nn + 2 - mid2) AS s2
           FROM p CROSS JOIN t),
    s AS (SELECT SUM(CAST(f1 * mid2 AS DECIMAL(38,0))) AS w2,
                 SUM(CAST(f1 * s2 AS DECIMAL(38,0))) AS ab2,
                 SUM(CAST(l * s2 AS DECIMAL(38,0))) AS t1,
                 SUM(CAST(l * s2 AS DECIMAL(38,0)) * s2) AS t2,
                 SUM(CAST(l AS DECIMAL(38,0)) * l * l - l) AS tie3
          FROM sc),
    z AS (SELECT t.n1, t.n2,
                 (s.w2::DOUBLE - t.n1 * (t.nn + 1.0))
                 / (2.0 * sqrt(t.n1 * 1.0 * t.n2 / 12.0
                               * ((t.nn + 1.0)
                                  - s.tie3::DOUBLE
                                    / (t.nn * 1.0 * (t.nn - 1.0))))) AS zw,
                 (s.ab2::DOUBLE - t.n1 * s.t1::DOUBLE / t.nn)
                 / sqrt(t.n1 * 1.0 * t.n2
                        * (t.nn * s.t2::DOUBLE - s.t1::DOUBLE * s.t1::DOUBLE)
                        / (t.nn * 1.0 * t.nn * (t.nn - 1.0))) AS za
          FROM t CROSS JOIN s)
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           ROUND(zw, 6) AS z_wilcoxon, ROUND(za, 6) AS z_ansari,
           ROUND(zw * zw + za * za, 6) AS lepage_l
    FROM z
    """,
)
def lepage_test_weekend_value(spark, sf_dir):
    """Lepage's combined location-AND-scale two-sample test of weekend
    vs weekday values: L = Z_W^2 + Z_AB^2, the sum of the squared
    standardized Wilcoxon rank-sum (location) and Ansari-Bradley
    (scale) statistics — the standard omnibus answer when either the
    center OR the spread may have moved (L ~ chi^2_2 under H0), closing
    the gap between `score_auc_mann_whitney`'s pure-location and
    `ansari_bradley_weekend_value`'s pure-scale views. Both components
    assemble from ONE value-domain prefix scan: doubled midranks mid2
    keep W2 = sum f1*mid2 an exact integer under ties, the AB scores
    and tie-corrected moments reuse the exact-decimal machinery of the
    standalone AB query verbatim (same conditional-on-ties variance,
    Hollander-Wolfe Ch. 5), and the Wilcoxon variance carries the
    standard tie correction sum(l^3 - l)/(N(N-1)). Each z is one
    fixed-order double expression over exact decimals.

    Scale: identical to the AB query — one value-grain aggregation, one
    prefix scan over the value DOMAIN (never the corpus), one bounded
    reduce. tests/test_round14_stats_brute.py checks both z's and L
    against a literal pure-Python midrank recomputation."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "value",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    g = e.groupBy("value").agg(
        F.sum("wk").cast("bigint").alias("f1"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    t = g.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum(F.col("l") - F.col("f1")).cast("bigint").alias("n2"),
        F.sum("l").cast("bigint").alias("nn"),
    )
    p = global_prefix_agg(
        g, [F.col("value").asc()], "l", agg="sum", out_col="cl"
    ).select(
        "f1",
        "l",
        (2 * (F.col("cl") - F.col("l")) + F.col("l") + 1).alias("mid2"),
    )
    dec = "decimal(38,0)"
    sc = p.crossJoin(F.broadcast(t)).select(
        "f1", "l", "mid2", "n1", "n2", "nn",
        F.least(
            F.col("mid2"), F.lit(2) * F.col("nn") + F.lit(2) - F.col("mid2")
        ).alias("s2"),
    )
    s = sc.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max("nn").alias("nn"),
        F.sum((F.col("f1") * F.col("mid2")).cast(dec)).alias("w2"),
        F.sum((F.col("f1") * F.col("s2")).cast(dec)).alias("ab2"),
        F.sum((F.col("l") * F.col("s2")).cast(dec)).alias("t1"),
        F.sum((F.col("l") * F.col("s2")).cast(dec) * F.col("s2")).alias("t2"),
        F.sum(
            F.col("l").cast(dec) * F.col("l") * F.col("l") - F.col("l")
        ).alias("tie3"),
    )
    nnd = F.col("nn") * F.lit(1.0)
    zw = (
        F.col("w2").cast("double") - F.col("n1") * (F.col("nn") + F.lit(1.0))
    ) / (
        F.lit(2.0)
        * F.sqrt(
            F.col("n1") * F.lit(1.0) * F.col("n2") / F.lit(12.0)
            * (
                (F.col("nn") + F.lit(1.0))
                - F.col("tie3").cast("double")
                / (nnd * (F.col("nn") - F.lit(1.0)))
            )
        )
    )
    za = (
        F.col("ab2").cast("double")
        - F.col("n1") * F.col("t1").cast("double") / F.col("nn")
    ) / F.sqrt(
        F.col("n1")
        * F.lit(1.0)
        * F.col("n2")
        * (
            F.col("nn") * F.col("t2").cast("double")
            - F.col("t1").cast("double") * F.col("t1").cast("double")
        )
        / (nnd * F.col("nn") * (F.col("nn") - F.lit(1.0)))
    )
    return s.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.round(zw, 6).alias("z_wilcoxon"),
        F.round(za, 6).alias("z_ansari"),
        F.round(zw * zw + za * za, 6).alias("lepage_l"),
    )


@register(
    "bws_test_weekend_value",
    """
    WITH e AS (SELECT value,
                      CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0
                      END AS wk
               FROM events),
    g AS (SELECT value, SUM(wk)::BIGINT AS f1,
                 (COUNT(*) - SUM(wk))::BIGINT AS f0,
                 COUNT(*)::BIGINT AS l
          FROM e GROUP BY value),
    t AS (SELECT SUM(f1)::BIGINT AS n1, SUM(f0)::BIGINT AS n2 FROM g),
    p AS (SELECT f1, f0,
                 2 * (SUM(l) OVER (ORDER BY value ASC) - l) + l + 1 AS mid2,
                 SUM(f1) OVER (ORDER BY value ASC) AS cf1,
                 SUM(f0) OVER (ORDER BY value ASC) AS cf0
          FROM g),
    xi AS (SELECT mid2, unnest(range((cf1 - f1 + 1)::BIGINT, (cf1 + 1)::BIGINT)) AS i
           FROM p WHERE f1 > 0),
    yi AS (SELECT mid2, unnest(range((cf0 - f0 + 1)::BIGINT, (cf0 + 1)::BIGINT)) AS i
           FROM p WHERE f0 > 0),
    bx AS (SELECT SUM(CAST(floor(1e9 *
                 ((mid2 / 2.0 - (t.n1 + t.n2) * 1.0 / t.n1 * i)
                  * (mid2 / 2.0 - (t.n1 + t.n2) * 1.0 / t.n1 * i))
                 / ((i * 1.0 / (t.n1 + 1.0))
                    * (1.0 - i * 1.0 / (t.n1 + 1.0))
                    * (t.n2 * 1.0 * (t.n1 + t.n2) / t.n1))
                 + 0.5) AS DECIMAL(38,0))) AS sq
           FROM xi CROSS JOIN t),
    by AS (SELECT SUM(CAST(floor(1e9 *
                 ((mid2 / 2.0 - (t.n1 + t.n2) * 1.0 / t.n2 * i)
                  * (mid2 / 2.0 - (t.n1 + t.n2) * 1.0 / t.n2 * i))
                 / ((i * 1.0 / (t.n2 + 1.0))
                    * (1.0 - i * 1.0 / (t.n2 + 1.0))
                    * (t.n1 * 1.0 * (t.n1 + t.n2) / t.n2))
                 + 0.5) AS DECIMAL(38,0))) AS sq
           FROM yi CROSS JOIN t)
    SELECT t.n1 AS n_weekend, t.n2 AS n_weekday,
           ROUND(bx.sq::DOUBLE / 1e9 / t.n1, 6) AS b_weekend,
           ROUND(by.sq::DOUBLE / 1e9 / t.n2, 6) AS b_weekday,
           ROUND((bx.sq::DOUBLE / 1e9 / t.n1
                  + by.sq::DOUBLE / 1e9 / t.n2) / 2.0, 6) AS bws_b
    FROM t CROSS JOIN bx CROSS JOIN by
    """,
)
def bws_test_weekend_value(spark, sf_dir):
    """Baumgartner-Weiss-Schindler rank test of weekend vs weekday
    values: B = (B_X + B_Y)/2 where each one-sided B is the
    variance-WEIGHTED Cramer-von-Mises-type sum over that sample's
    order statistics — the weighting 1/(i/(n+1) * (1-i/(n+1))) puts
    mass on the distribution TAILS, which is exactly where the
    unweighted rank tests (Wilcoxon, KS, CvM — all present in the
    battery) are least sensitive; BWS dominates them in power across
    most alternatives (Baumgartner et al. 1998, Biometrics 54). Ties
    take combined-sample midranks (mid2/2, exact halves); the
    within-sample index i expands from the value-domain prefix counts
    (sequence-explode — each doc contributes one i), every per-term
    double is one fixed-order expression of exact integers quantized
    to NANOS before the sum, so the fold is order-free cross-engine.

    Scale: one value-grain aggregation + one prefix scan over the value
    DOMAIN; the expansion re-materializes N rows of two ints each —
    map-only, no corpus re-scan. Brute-force check in
    tests/test_round14_stats_brute.py."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "value",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
    )
    g = e.groupBy("value").agg(
        F.sum("wk").cast("bigint").alias("f1"),
        (F.count(F.lit(1)) - F.sum("wk")).cast("bigint").alias("f0"),
        F.count(F.lit(1)).cast("bigint").alias("l"),
    )
    t = g.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f0").cast("bigint").alias("n2"),
    )
    p = global_prefix_agg(
        g,
        [F.col("value").asc()],
        ["l", "f1", "f0"],
        agg="sum",
        out_col=["cl", "cf1", "cf0"],
    ).select(
        "f1",
        "f0",
        (2 * (F.col("cl") - F.col("l")) + F.col("l") + 1).alias("mid2"),
        "cf1",
        "cf0",
    )

    def side(fcol, cfcol, n_self, n_other):
        rows = (
            p.filter(F.col(fcol) > 0)
            .select(
                "mid2",
                F.explode(
                    F.sequence(
                        F.col(cfcol) - F.col(fcol) + 1, F.col(cfcol)
                    )
                ).alias("i"),
            )
            .crossJoin(F.broadcast(t))
        )
        nn = (F.col("n1") + F.col("n2")) * F.lit(1.0)
        num = (
            F.col("mid2") / F.lit(2.0)
            - nn / F.col(n_self) * F.col("i")
        )
        den = (
            (F.col("i") * F.lit(1.0) / (F.col(n_self) + F.lit(1.0)))
            * (
                F.lit(1.0)
                - F.col("i") * F.lit(1.0) / (F.col(n_self) + F.lit(1.0))
            )
            * (
                F.col(n_other)
                * F.lit(1.0)
                * (F.col("n1") + F.col("n2"))
                / F.col(n_self)
            )
        )
        return rows.agg(
            F.sum(
                F.floor(F.lit(1e9) * (num * num) / den + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            ).alias("sq")
        )

    bx = side("f1", "cf1", "n1", "n2")
    by = side("f0", "cf0", "n2", "n1")
    out = t.crossJoin(F.broadcast(bx)).crossJoin(F.broadcast(by.withColumnRenamed("sq", "sq0")))
    b1 = F.col("sq").cast("double") / F.lit(1e9) / F.col("n1")
    b2 = F.col("sq0").cast("double") / F.lit(1e9) / F.col("n2")
    return out.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.round(b1, 6).alias("b_weekend"),
        F.round(b2, 6).alias("b_weekday"),
        F.round((b1 + b2) / F.lit(2.0), 6).alias("bws_b"),
    )


@register(
    "dunn_posthoc_value_by_type",
    """
    WITH e AS (SELECT event_type, value FROM events),
    gv AS (SELECT value, COUNT(*)::BIGINT AS l FROM e GROUP BY value),
    t AS (SELECT SUM(l)::BIGINT AS nn,
                 SUM(CAST(l AS DECIMAL(38,0)) * l * l - l) AS tie3
          FROM gv),
    p AS (SELECT value,
                 2 * (SUM(l) OVER (ORDER BY value ASC) - l) + l + 1 AS mid2
          FROM gv),
    gt AS (SELECT event_type, value, COUNT(*)::BIGINT AS c
           FROM e GROUP BY event_type, value),
    grp AS (SELECT event_type, SUM(c)::BIGINT AS n,
                   SUM(CAST(c * mid2 AS DECIMAL(38,0))) AS r2
            FROM gt JOIN p USING (value) GROUP BY event_type)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           ROUND((a.r2::DOUBLE / (2.0 * a.n) - b.r2::DOUBLE / (2.0 * b.n))
                 / sqrt((t.nn * (t.nn + 1.0) / 12.0
                         - t.tie3::DOUBLE / (12.0 * (t.nn - 1.0)))
                        * (1.0 / a.n + 1.0 / b.n)), 6) AS z_dunn
    FROM grp a JOIN grp b ON a.event_type < b.event_type
    CROSS JOIN t
    ORDER BY type_a ASC, type_b ASC
    """,
)
def dunn_posthoc_value_by_type(spark, sf_dir):
    """Dunn's multiple-comparison post-hoc for the Kruskal-Wallis
    battery: after `kruskal_wallis_value_by_type` rejects "all event
    types share one value distribution", THIS is the test that says
    WHICH pairs differ — per (type_a, type_b), the standardized
    difference of mean midranks z = (Rbar_a - Rbar_b) /
    sqrt((N(N+1)/12 - T/(12(N-1))) (1/n_a + 1/n_b)) with the exact
    tie correction T = sum(l^3 - l) over the pooled value domain
    (Dunn 1964; the z's feed any alpha-adjustment — the battery's
    `holm_weekday_conversion_tests` / `bh_weekday_conversion_fdr`
    show both recipes). Mean ranks come from ONE pooled value-domain
    prefix scan (doubled midranks, exact under ties) joined to the
    (type, value) counts; each z is a fixed-order double expression
    over exact decimal rank sums.

    Scale: one (type, value) aggregation + one value-DOMAIN prefix
    scan; the pair join is |types|^2 rows — bounded domain, broadcast.
    Brute-force check in tests/test_round14_stats_brute.py."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", "value")
    gv = e.groupBy("value").agg(F.count(F.lit(1)).cast("bigint").alias("l"))
    dec = "decimal(38,0)"
    t = gv.agg(
        F.sum("l").cast("bigint").alias("nn"),
        F.sum(
            F.col("l").cast(dec) * F.col("l") * F.col("l") - F.col("l")
        ).alias("tie3"),
    )
    p = global_prefix_agg(
        gv, [F.col("value").asc()], "l", agg="sum", out_col="cl"
    ).select(
        "value",
        (2 * (F.col("cl") - F.col("l")) + F.col("l") + 1).alias("mid2"),
    )
    gt = e.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grp = (
        gt.join(p, "value")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum((F.col("c") * F.col("mid2")).cast(dec)).alias("r2"),
        )
    )
    a = grp.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("r2").alias("r2a"),
    )
    b = grp.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("r2").alias("r2b"),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(t))
    )
    z = (
        F.col("r2a").cast("double") / (F.lit(2.0) * F.col("n_a"))
        - F.col("r2b").cast("double") / (F.lit(2.0) * F.col("n_b"))
    ) / F.sqrt(
        (
            F.col("nn") * (F.col("nn") + F.lit(1.0)) / F.lit(12.0)
            - F.col("tie3").cast("double")
            / (F.lit(12.0) * (F.col("nn") - F.lit(1.0)))
        )
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return pairs.select(
        "type_a", "type_b", "n_a", "n_b", F.round(z, 6).alias("z_dunn")
    ).orderBy(F.col("type_a").asc(), F.col("type_b").asc())


@register(
    "obrien_scale_value_by_type",
    """
    WITH e AS (SELECT event_type,
                      CAST(floor(100 * value + 0.5) AS BIGINT) AS q
               FROM events),
    gs AS (SELECT event_type, COUNT(*)::BIGINT AS n,
                  SUM(CAST(q AS DECIMAL(38,0))) AS s,
                  SUM(CAST(q AS DECIMAL(38,0)) * q) AS ss
           FROM e GROUP BY event_type),
    r AS (SELECT e.event_type,
                 CAST(floor(
                   ((2 * gs.n - 3)
                    * CAST((gs.n * e.q - gs.s) AS DECIMAL(38,0))
                    * (gs.n * e.q - gs.s)
                    - (gs.n * gs.ss - gs.s * gs.s))::DOUBLE
                   / (2.0 * gs.n * (gs.n - 1.0) * (gs.n - 2.0))
                   + 0.5) AS BIGINT) AS rq
          FROM e JOIN gs USING (event_type)
          WHERE gs.n > 2),
    gr AS (SELECT event_type, COUNT(*)::BIGINT AS n,
                  SUM(CAST(rq AS DECIMAL(38,0))) AS sr,
                  SUM(CAST(rq AS DECIMAL(38,0)) * rq) AS ssr
           FROM r GROUP BY event_type),
    agg AS (SELECT COUNT(*)::BIGINT AS k, SUM(n)::BIGINT AS nt,
                   SUM(sr) AS stot,
                   SUM(CAST(floor((sr::DOUBLE * sr::DOUBLE / n) / 1e3 + 0.5)
                            AS DECIMAL(38,0))) AS sbq,
                   SUM(ssr) AS sswr
            FROM gr)
    SELECT k AS n_groups, nt AS n_total,
           ROUND(((sbq::DOUBLE * 1e3
                   - floor((stot::DOUBLE * stot::DOUBLE / nt) / 1e3 + 0.5)
                     * 1e3) / (k - 1.0))
                 / ((sswr::DOUBLE - sbq::DOUBLE * 1e3) / (nt * 1.0 - k)),
                 6) AS f_obrien
    FROM agg
    """,
)
def obrien_scale_value_by_type(spark, sf_dir):
    """O'Brien's test for scale differences across event types: each
    observation is replaced by O'Brien's (1979) transformed value
    r = ((n-1.5) n (x - xbar)^2 - 0.5 s^2 (n-1)) / ((n-1)(n-2)) —
    whose group mean is EXACTLY the group sample variance — and a
    one-way ANOVA F runs on the r's. This completes the scale battery
    (Bartlett assumes normality, Levene/Brown-Forsythe lose power on
    heavy tails, Conover/AB/Mood are rank-only); O'Brien keeps ANOVA's
    power while staying robust, and is the textbook recommendation when
    the downstream analysis is itself an ANOVA. Exactness: values are
    cent-quantized, so r's numerator folds as ONE exact DECIMAL(38,0)
    expression per row ((2n-3)(nq - S)^2 - (n SS - S^2) over the
    group-constant denominator 2n(n-1)(n-2)); the transformed values
    are rounded to integers (relative error ~1e-8 at their scale),
    making every downstream ANOVA sum an exact decimal fold; between-
    group terms are milli-quantized per group (coarse enough that the
    quantized magnitude fits the BIGINT range floor() maps doubles
    into on both engines — a micro grain overflowed Spark's
    floor-to-long at scale) before the final fixed-order F
    expression. Groups with n <= 2 are excluded (the
    transform divides by n-2).

    Scale: two corpus scans (group moments, then the map-only
    transform), one bounded group aggregation. Brute-force check in
    tests/test_round14_stats_brute.py."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.floor(F.lit(100) * F.col("value") + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
    )
    dec = "decimal(38,0)"
    gs = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("q").cast(dec)).alias("s"),
        F.sum(F.col("q").cast(dec) * F.col("q")).alias("ss"),
    )
    rows = e.join(F.broadcast(gs), "event_type").filter(F.col("n") > 2)
    anum = (
        (2 * F.col("n") - 3)
        * (F.col("n") * F.col("q") - F.col("s")).cast(dec)
        * (F.col("n") * F.col("q") - F.col("s"))
        - (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
    )
    rq = F.floor(
        anum.cast("double")
        / (
            F.lit(2.0)
            * F.col("n")
            * (F.col("n") - F.lit(1.0))
            * (F.col("n") - F.lit(2.0))
        )
        + F.lit(0.5)
    ).cast("bigint")
    gr = (
        rows.select("event_type", rq.alias("rq"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ng"),
            F.sum(F.col("rq").cast(dec)).alias("sr"),
            F.sum(F.col("rq").cast(dec) * F.col("rq")).alias("ssr"),
        )
    )
    agg = gr.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("nt"),
        F.sum("sr").alias("stot"),
        F.sum(
            F.floor(
                (
                    F.col("sr").cast("double")
                    * F.col("sr").cast("double")
                    / F.col("ng")
                )
                / F.lit(1e3)
                + F.lit(0.5)
            ).cast(dec)
        ).alias("sbq"),
        F.sum("ssr").alias("sswr"),
    )
    ssb = (
        F.col("sbq").cast("double") * F.lit(1e3)
        - F.floor(
            (
                F.col("stot").cast("double")
                * F.col("stot").cast("double")
                / F.col("nt")
            )
            / F.lit(1e3)
            + F.lit(0.5)
        )
        * F.lit(1e3)
    )
    ssw = F.col("sswr").cast("double") - F.col("sbq").cast("double") * F.lit(
        1e3
    )
    f = (ssb / (F.col("k") - F.lit(1.0))) / (
        ssw / (F.col("nt") * F.lit(1.0) - F.col("k"))
    )
    return agg.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_total"),
        F.round(f, 6).alias("f_obrien"),
    )
