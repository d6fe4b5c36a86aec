"""Calendar-grain temporal analytics over the order stream: seasonality
profiles and week-over-week growth — the demand-curve readouts a
forecasting pipeline consumes (and the sanity gates on any time-windowed
training label: a broken seasonal profile upstream means leaked or
shifted timestamps).

Both queries aggregate the fact table to CALENDAR grain first (12 months
/ ~360 weeks — tiny, bounded by the calendar, not the data), so every
ordering/lag step runs on a scale-free frame: the only corpus-scale work
is one partial-aggregated scan. Money is summed in exact integer CENTS;
shares and growth rates are single micro-quantized divisions of BIGINTs.

Registered into ``plans._base.QUERIES``/``ORACLES`` at import like every
domain module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions.literals import literal_array
from veri_spark.operators.ranking import global_prefix_agg  # noqa: F401
from veri_spark.sources.catalog import load_table  # noqa: F401

from veri_spark.plans._base import daily_cents, register  # noqa: F401


@register(
    "monthly_order_seasonality",
    """
    WITH m AS (
      SELECT month(o_orderdate)::BIGINT AS month,
             COUNT(*)::BIGINT AS n_orders,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
               AS rev_cents
      FROM orders GROUP BY 1),
    t AS (SELECT SUM(n_orders)::BIGINT AS tot_n, SUM(rev_cents)::BIGINT
            AS tot_rev FROM m)
    SELECT m.month, m.n_orders, m.rev_cents,
           CAST(round(1e6 * 12 * m.n_orders / t.tot_n) AS BIGINT)
             AS count_index_micro,
           CAST(round(1e6 * 12 * m.rev_cents / t.tot_rev) AS BIGINT)
             AS revenue_index_micro
    FROM m CROSS JOIN t
    ORDER BY m.month ASC
    """,
)
def monthly_order_seasonality(spark, sf_dir):
    """Month-of-year seasonality profile pooled across the 7-year order
    history: per calendar month, order count and revenue with their
    seasonal INDEX (12 × share of annual total, micro-quantized — 1e6
    means a perfectly flat month). This is the profile a demand forecast
    divides out before modeling trend, and the fixture check on
    date-derived features (`events_weekday_profile` is the weekday twin
    on the event stream; this is the calendar-month view on the fact
    table). One grouped aggregate to 12 rows; revenue in exact integer
    cents; indices are single divisions against the broadcast 1-row
    total."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.month("o_orderdate").cast("bigint").alias("month")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )
    t = m.agg(
        F.sum("n_orders").cast("bigint").alias("tot_n"),
        F.sum("rev_cents").cast("bigint").alias("tot_rev"),
    )
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            "month",
            "n_orders",
            "rev_cents",
            F.round(F.lit(1e6) * 12 * F.col("n_orders") / F.col("tot_n"))
            .cast("bigint")
            .alias("count_index_micro"),
            F.round(F.lit(1e6) * 12 * F.col("rev_cents") / F.col("tot_rev"))
            .cast("bigint")
            .alias("revenue_index_micro"),
        )
        .orderBy(F.col("month").asc())
    )


@register(
    "wow_growth_rates",
    """
    WITH w AS (
      SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
             COUNT(*)::BIGINT AS n_orders,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
               AS rev_cents
      FROM orders GROUP BY 1),
    l AS (
      SELECT week, n_orders, rev_cents,
             lag(n_orders) OVER (ORDER BY week ASC) AS prev_n,
             lag(rev_cents) OVER (ORDER BY week ASC) AS prev_rev
      FROM w)
    SELECT week, n_orders, rev_cents,
           CAST(round(1e6 * (n_orders - prev_n) / prev_n) AS BIGINT)
             AS count_growth_micro,
           CAST(round(1e6 * (rev_cents - prev_rev) / prev_rev) AS BIGINT)
             AS revenue_growth_micro
    FROM l WHERE prev_n IS NOT NULL
    ORDER BY week DESC LIMIT 12
    """,
)
def wow_growth_rates(spark, sf_dir):
    """Week-over-week growth of order volume and revenue for the most
    recent 12 complete weeks — the trend readout that sits on every
    operations dashboard, and the alarm input for `events_cusum_scan`-
    style changepoint monitors. The scan aggregates straight to ISO-week
    grain (date_trunc 'week' is Monday-based in both engines); the lag
    window then runs over the ~360-row weekly frame — a SCALE-FREE
    unpartitioned window over an aggregate, the one place a global
    ordering is legitimate because the calendar, not the corpus, bounds
    it. Growth rates are micro-quantized single divisions of exact
    BIGINT counts/cents."""
    o = load_table(spark, sf_dir, "orders")
    w = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )
    win = Window.orderBy(F.col("week").asc())
    lagd = (
        w.withColumn("prev_n", F.lag("n_orders").over(win))
        .withColumn("prev_rev", F.lag("rev_cents").over(win))
        .filter(F.col("prev_n").isNotNull())
    )
    return (
        lagd.select(
            "week",
            "n_orders",
            "rev_cents",
            F.round(
                F.lit(1e6) * (F.col("n_orders") - F.col("prev_n")) / F.col("prev_n")
            )
            .cast("bigint")
            .alias("count_growth_micro"),
            F.round(
                F.lit(1e6)
                * (F.col("rev_cents") - F.col("prev_rev"))
                / F.col("prev_rev")
            )
            .cast("bigint")
            .alias("revenue_growth_micro"),
        )
        .orderBy(F.col("week").desc())
        .limit(12)
    )


@register(
    "scd2_intervals_from_events",
    """
    WITH o AS (
      SELECT user_id, event_type,
             epoch_us(ts::TIMESTAMP) AS us,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    f AS (SELECT user_id, event_type, us,
                 CASE WHEN prev IS NULL OR prev <> event_type
                      THEN 1 ELSE 0 END AS chg
          FROM o),
    s AS (SELECT user_id, event_type, us,
                 SUM(chg) OVER (PARTITION BY user_id
                                ORDER BY us, event_type
                                ROWS UNBOUNDED PRECEDING) AS run_id
          FROM f),
    runs AS (SELECT user_id, run_id,
                    MAX(event_type) AS state,
                    MIN(us)::BIGINT AS start_us,
                    COUNT(*)::BIGINT AS n_events
             FROM s GROUP BY user_id, run_id),
    iv AS (SELECT state, start_us, n_events,
                  lead(start_us) OVER (PARTITION BY user_id
                                       ORDER BY run_id) AS end_us
           FROM runs)
    SELECT state AS event_type,
           COUNT(*)::BIGINT AS n_intervals,
           SUM(CASE WHEN end_us IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_current,
           COUNT(end_us)::BIGINT AS n_closed,
           SUM(n_events)::BIGINT AS n_events,
           ((2 * SUM(end_us - start_us) + COUNT(end_us))
            // (2 * COUNT(end_us)))::BIGINT / 1000000.0
             AS mean_closed_duration_s,
           ROUND(MAX(end_us - start_us) / 1e6, 6) AS max_closed_duration_s
    FROM iv
    GROUP BY state
    ORDER BY event_type ASC
    """,
)
def scd2_intervals_from_events(spark, sf_dir):
    """Slowly-Changing-Dimension Type-2 reconstruction from an event log:
    collapse each user's consecutive same-type runs into validity
    intervals [state_start, next_state_start) with an OPEN (is-current)
    last interval — the standard change-data-capture shape that turns an
    append-only stream into the dimension table every as-of join
    (operators/asof.py) probes, reported here as the per-state interval
    census (how many validity rows SCD-2 materialization would write,
    how many stay open, and how long closed states last). All three
    window steps (lag for change detection, running sum for run ids,
    lead for interval close) are PARTITIONED on user_id — one shuffle
    total, reused by all three since they share the partitioning — and
    the final census is a partial-aggregated state-grain reduce: the
    exact shape SCD-2 building takes at 100 TB. Determinism: timestamps
    as exact integer MICROSECONDS (unix_micros/epoch_us — the
    events_interarrival idiom), mean closed duration as the half-up
    integer division (2*sum+n) div 2n of exact BIGINTs, one division at
    the end."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        us.alias("us"),
        F.lag("event_type").over(wo).alias("prev"),
    )
    f = o.select(
        "user_id",
        "event_type",
        "us",
        F.when(
            F.col("prev").isNull() | (F.col("prev") != F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_type")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = f.select(
        "user_id", "event_type", "us", F.sum("chg").over(wr).alias("run_id")
    )
    runs = s.groupBy("user_id", "run_id").agg(
        F.max("event_type").alias("state"),
        F.min("us").cast("bigint").alias("start_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    wl = Window.partitionBy("user_id").orderBy("run_id")
    iv = runs.select(
        "state",
        "start_us",
        "n_events",
        F.lead("start_us").over(wl).alias("end_us"),
    )
    closed = F.col("end_us").isNotNull()
    dur = F.col("end_us") - F.col("start_us")
    return (
        iv.groupBy(F.col("state").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum(F.when(closed, 0).otherwise(1)).cast("bigint").alias("n_current"),
            F.count("end_us").cast("bigint").alias("n_closed"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            (
                F.expr(
                    "(2 * sum(end_us - start_us) + count(end_us))"
                    " div (2 * count(end_us))"
                ).cast("bigint")
                / 1000000.0
            ).alias("mean_closed_duration_s"),
            F.round(F.max(dur) / F.lit(1e6), 6).alias("max_closed_duration_s"),
        )
        .orderBy(F.col("event_type").asc())
    )


@register(
    "daily_seasonal_decomposition",
    """
    WITH d0 AS (SELECT MIN(ts::DATE) AS day0 FROM events),
    d AS (SELECT date_diff('day', d0.day0, ts::DATE)::BIGINT AS x,
                 dayofweek(ts)::BIGINT AS dow,
                 COUNT(*)::BIGINT AS y
          FROM events CROSS JOIN d0 GROUP BY 1, 2),
    tr AS (SELECT a.x, a.dow, a.y,
                  CAST(round(1e6 * SUM(b.y) / COUNT(*)) AS BIGINT)
                    AS trend_micro
           FROM d a JOIN d b ON b.x BETWEEN a.x - 14 AND a.x + 14
           GROUP BY a.x, a.dow, a.y),
    de AS (SELECT x, dow, 1000000 * y - trend_micro AS detr
           FROM tr),
    se AS (SELECT dow, COUNT(*)::BIGINT AS n_days,
                  CAST(round(SUM(detr) / (COUNT(*) * 1.0)) AS BIGINT)
                    AS season_micro
           FROM de GROUP BY dow),
    r AS (SELECT de.dow, de.detr - se.season_micro AS resid
          FROM de JOIN se USING (dow)),
    v AS (SELECT (SELECT SUM(CAST(detr AS DECIMAL(38,0)) * detr)
                  FROM de)::DOUBLE AS ssd,
                 SUM(CAST(resid AS DECIMAL(38,0)) * resid)::DOUBLE AS ssr
          FROM r)
    SELECT se.dow, se.n_days, se.season_micro,
           CAST(round(1e6 * (1 - v.ssr / v.ssd)) AS BIGINT)
             AS weekday_r2_micro
    FROM se CROSS JOIN v
    ORDER BY se.dow ASC
    """,
)
def daily_seasonal_decomposition(spark, sf_dir):
    """Classical trend/seasonal decomposition of daily event volume: a
    centered +/-14-day moving average is the trend, the per-weekday mean
    of the detrended series is the seasonal index, and the variance the
    weekday indexes explain of the detrended series (R^2) says whether
    the weekly cycle is real — the decomposition behind
    `hourly_seasonal_naive_mase`'s baseline choice and the
    `events_weekday_profile` shares, as one self-consistent model.

    Scale + determinism: the corpus collapses to the CALENDAR-bounded
    (day, weekday, count) frame in one partial-aggregated scan; the
    moving average is a banded triangular join over that bounded frame
    (|days| x 29 rows, broadcast); trend/season values are
    micro-quantized single divisions of exact BIGINTs, so the detrended
    and residual series are INTEGER micro series; the variance ratio
    sums their squares as exact DECIMAL(38,0) (order-insensitive) with
    one double division at the end. Weekday numbering is the DuckDB
    0=Sunday convention (Spark shifts by one — the
    events_weekday_profile idiom)."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.col("ts").cast("date")).alias("day0"))
    d = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.col("day0"))
            .cast("bigint")
            .alias("x"),
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    b = d.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    tr = (
        d.join(
            F.broadcast(b),
            (F.col("xb") >= F.col("x") - 14) & (F.col("xb") <= F.col("x") + 14),
        )
        .groupBy("x", "dow", "y")
        .agg(
            F.round(F.lit(1e6) * F.sum("yb") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("trend_micro")
        )
    )
    de = tr.select(
        "x",
        "dow",
        (F.lit(1000000) * F.col("y") - F.col("trend_micro")).alias("detr"),
    )
    se = de.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.sum("detr") / (F.count(F.lit(1)) * F.lit(1.0)))
        .cast("bigint")
        .alias("season_micro"),
    )
    r = de.join(F.broadcast(se.select("dow", "season_micro")), "dow").select(
        (F.col("detr") - F.col("season_micro")).alias("resid")
    )
    ssd = de.agg(
        F.sum(F.col("detr").cast("decimal(38,0)") * F.col("detr"))
        .cast("double")
        .alias("ssd")
    )
    v = r.agg(
        F.sum(F.col("resid").cast("decimal(38,0)") * F.col("resid"))
        .cast("double")
        .alias("ssr")
    ).crossJoin(F.broadcast(ssd))
    return (
        se.crossJoin(F.broadcast(v))
        .select(
            "dow",
            "n_days",
            "season_micro",
            F.round(F.lit(1e6) * (1 - F.col("ssr") / F.col("ssd")))
            .cast("bigint")
            .alias("weekday_r2_micro"),
        )
        .orderBy(F.col("dow").asc())
    )


@register(
    "ship_late_p_chart",
    """
    WITH lag AS (
      SELECT date_trunc('month', o.o_orderdate)::DATE AS mon,
             CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 90
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    m AS (SELECT mon, COUNT(*)::BIGINT AS n,
                 SUM(late)::BIGINT AS n_late
          FROM lag GROUP BY mon),
    t AS (SELECT SUM(n)::BIGINT AS nn, SUM(n_late)::BIGINT AS kk FROM m),
    c AS (SELECT m.mon, m.n, m.n_late, t.kk * 1.0 / t.nn AS pbar,
                 m.n_late * 1.0 / m.n AS p
          FROM m CROSS JOIN t),
    lim AS (SELECT mon, n, n_late, p, pbar,
                   pbar + 3 * sqrt(pbar * (1 - pbar) / n) AS ucl,
                   pbar - 3 * sqrt(pbar * (1 - pbar) / n) AS lcl
            FROM c)
    SELECT mon, n, n_late,
           CAST(round(1e6 * p) AS BIGINT) AS p_micro,
           CAST(round(1e6 * ucl) AS BIGINT) AS ucl_micro,
           CAST(round(1e6 * GREATEST(lcl, 0.0)) AS BIGINT) AS lcl_micro,
           (p > ucl OR p < GREATEST(lcl, 0.0)) AS out_of_control
    FROM lim
    ORDER BY mon ASC
    """,
)
def ship_late_p_chart(spark, sf_dir):
    """Shewhart p-chart on the monthly late-shipment proportion (ship lag
    > 90 days after order): classic statistical process control with
    3-sigma binomial limits around the pooled rate, flagging the months
    whose lateness is a special cause, not noise — the CONTROL-limit
    framing that `events_hourly_anomaly` (z-spikes) and
    `events_page_hinkley` (sustained shifts) bracket from the event
    side, applied to the fulfillment process. Months with small n get
    WIDE limits automatically — the property that makes p-charts robust
    to the partial first/last months.

    Scale + determinism: one join + partial-aggregated scan reduces the
    corpus to per-month (n, n_late) BIGINT cells (calendar-bounded);
    rates and limits are fixed sequences of correctly-rounded double ops
    (sqrt included) on those integers, identical in both engines; the
    out-of-control flag compares the UNROUNDED rate against the
    UNROUNDED limit."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lag = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
        F.when(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90, 1
        )
        .otherwise(0)
        .alias("late"),
    )
    m = lag.groupBy("mon").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("late").cast("bigint").alias("n_late"),
    )
    t = m.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("n_late").cast("bigint").alias("kk"),
    )
    c = m.crossJoin(F.broadcast(t))
    pbar = F.col("kk") * F.lit(1.0) / F.col("nn")
    p = F.col("n_late") * F.lit(1.0) / F.col("n")
    ucl = pbar + 3 * F.sqrt(pbar * (1 - pbar) / F.col("n"))
    lcl = pbar - 3 * F.sqrt(pbar * (1 - pbar) / F.col("n"))
    lcl0 = F.greatest(lcl, F.lit(0.0))
    return c.select(
        "mon",
        "n",
        "n_late",
        F.round(F.lit(1e6) * p).cast("bigint").alias("p_micro"),
        F.round(F.lit(1e6) * ucl).cast("bigint").alias("ucl_micro"),
        F.round(F.lit(1e6) * lcl0).cast("bigint").alias("lcl_micro"),
        ((p > ucl) | (p < lcl0)).alias("out_of_control"),
    ).orderBy(F.col("mon").asc())


# ---------------------------------------------------------------------------
# Round-11 time-series batch: PACF, Ljung-Box, binary-segmentation
# changepoint, Hurst R/S, periodogram peaks, seasonal strength.
# ---------------------------------------------------------------------------

_DAILY_CENTS_SQL = """
    SELECT l_shipdate AS day,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10)))
                * 100 AS BIGINT) AS cents
    FROM lineitem GROUP BY l_shipdate
"""


_RHO_SQL = f"""
    d AS ({_DAILY_CENTS_SQL}),
    r AS (SELECT cents, row_number() OVER (ORDER BY day ASC) AS rn FROM d),
    tot AS (SELECT COUNT(*)::BIGINT AS t,
                   SUM(CAST(cents AS DECIMAL(38,0))) AS p,
                   SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS q
            FROM r),
    pairs AS (SELECT k.lag, a.cents AS x, b.cents AS y
              FROM (SELECT unnest(generate_series(1, {{maxlag}}))::INT
                             AS lag) k
              JOIN r a ON TRUE
              JOIN r b ON b.rn = a.rn + k.lag),
    s AS (SELECT lag, COUNT(*)::BIGINT AS m,
                 SUM(CAST(x AS DECIMAL(38,0)) * y) AS cxy,
                 SUM(CAST(x AS DECIMAL(38,0))) AS hx,
                 SUM(CAST(y AS DECIMAL(38,0))) AS gy
          FROM pairs GROUP BY lag),
    rho AS (SELECT s.lag, tot.t,
                   (s.cxy::DOUBLE
                    - (tot.p::DOUBLE / tot.t)
                      * (s.hx::DOUBLE + s.gy::DOUBLE)
                    + s.m * (tot.p::DOUBLE / tot.t)
                          * (tot.p::DOUBLE / tot.t))
                   / (tot.q::DOUBLE
                      - tot.t * (tot.p::DOUBLE / tot.t)
                              * (tot.p::DOUBLE / tot.t)) AS rho
            FROM s CROSS JOIN tot)
"""


def _rho_frame(spark, sf_dir, maxlag):
    """Classical ACF rho_1..rho_maxlag of daily revenue: one corpus scan
    to the day frame, a broadcast lag join on the global day rank, exact
    DECIMAL(38,0) cross-moment folds, then one fixed-order double
    expression per lag (single global mean, classical denominator)."""
    r = daily_cents(spark, sf_dir).select("rn", "cents")
    tot = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("p"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "q"
        ),
    )
    lags = spark.range(1, maxlag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = r.select(F.col("rn").alias("ra"), F.col("cents").alias("x"))
    b = r.select(F.col("rn").alias("rb"), F.col("cents").alias("y"))
    pairs = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("rb") == F.col("ra") + F.col("lag")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(dec("x") * F.col("y")).alias("cxy"),
        F.sum(dec("x")).alias("hx"),
        F.sum(dec("y")).alias("gy"),
    )
    j = s.crossJoin(F.broadcast(tot))
    mu = F.col("p").cast("double") / F.col("t")
    rho = (
        F.col("cxy").cast("double")
        - mu * (F.col("hx").cast("double") + F.col("gy").cast("double"))
        + F.col("m") * mu * mu
    ) / (F.col("q").cast("double") - F.col("t") * mu * mu)
    return j.select("lag", "t", rho.alias("rho"))


@register(
    "pacf_daily_revenue",
    f"""
    WITH {_RHO_SQL.format(maxlag=3)},
    w AS (SELECT MAX(CASE WHEN lag = 1 THEN rho END) AS r1,
                 MAX(CASE WHEN lag = 2 THEN rho END) AS r2,
                 MAX(CASE WHEN lag = 3 THEN rho END) AS r3
          FROM rho),
    ph AS (SELECT r1, r2, r3,
                  (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22,
                  r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi21
           FROM w)
    SELECT lag, ROUND(pacf, 6) AS pacf FROM (
      SELECT 1::INT AS lag, r1 AS pacf FROM ph
      UNION ALL SELECT 2::INT, phi22 FROM ph
      UNION ALL SELECT 3::INT,
        (r3 - phi21 * r2 - phi22 * r1)
        / (1.0 - phi21 * r1 - phi22 * r2) FROM ph) z
    ORDER BY lag ASC
    """,
)
def pacf_daily_revenue(spark, sf_dir):
    """Partial autocorrelation of daily revenue at lags 1-3 via the
    Durbin-Levinson recursion in closed form -- the AR-order diagnostic
    next to `acf_daily_revenue` (ACF says WHAT correlates; PACF says
    what correlates AFTER the shorter lags are regressed out, which is
    what picks p in an AR(p)). Classical single-mean ACF first (exact
    DECIMAL cross-moment folds over the broadcast lag join, one global
    mean -- unlike the per-lag re-centered variant next door, because
    Durbin-Levinson assumes the Toeplitz normalization), then phi11 =
    rho1, phi22 = (rho2 - rho1^2)/(1 - rho1^2), and phi33 from the
    level-2 coefficients phi21 = rho1(1 - rho2)/(1 - rho1^2) -- every
    step a fixed-order double expression of the three rho's, identical
    in both engines.

    Scale: one corpus scan to the calendar-bounded day frame; the lag
    join, pivot and recursion all run on frames of at most a few
    thousand rows."""
    rho = _rho_frame(spark, sf_dir, 3)
    w = rho.agg(
        F.max(F.when(F.col("lag") == 1, F.col("rho"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("rho"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("rho"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    ph = w.select(
        "r1",
        "r2",
        "r3",
        ((r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)).alias("phi22"),
        (r1 * (F.lit(1.0) - r2) / (F.lit(1.0) - r1 * r1)).alias("phi21"),
    )
    phi33 = (
        F.col("r3") - F.col("phi21") * F.col("r2") - F.col("phi22") * F.col("r1")
    ) / (
        F.lit(1.0)
        - F.col("phi21") * F.col("r1")
        - F.col("phi22") * F.col("r2")
    )
    out = ph.select(
        F.col("r1").alias("p1"),
        F.col("phi22").alias("p2"),
        phi33.alias("p3"),
    )
    return out.selectExpr(
        "stack(3, CAST(1 AS INT), round(p1, 6), CAST(2 AS INT),"
        " round(p2, 6), CAST(3 AS INT), round(p3, 6)) AS (lag, pacf)"
    ).orderBy(F.col("lag").asc())


@register(
    "ljung_box_daily_revenue",
    f"""
    WITH {_RHO_SQL.format(maxlag=5)},
    q AS (SELECT MAX(t)::BIGINT AS t,
                 SUM(CAST(round(1e15 * rho * rho / (t - lag))
                     AS DECIMAL(38,0))) AS sq
          FROM rho)
    SELECT t AS n_days,
           ROUND(t * (t + 2.0) * (sq::DOUBLE / 1e15), 6) AS q_ljung_box
    FROM q
    """,
)
def ljung_box_daily_revenue(spark, sf_dir):
    """Ljung-Box portmanteau Q over lags 1-5 of daily revenue -- the
    "is there ANY serial structure?" gate next to
    `durbin_watson_daily_revenue` (DW sees only lag 1; Q pools the
    first m autocorrelations with the small-sample 1/(n-k) weights, the
    standard residual-whiteness check after any forecasting fit). Same
    classical-ACF machinery as `pacf_daily_revenue`; each lag's
    rho^2/(n-k) term -- already an identical double in both engines --
    is femto-quantized so the 5-term fold is order-proof, and Q =
    n(n+2) * sum is one final fixed-order expression. Q ~ chi2(5) is
    the caller's lookup (the Jarque-Bera no-verdict precedent).

    Scale: identical to the ACF query -- one corpus scan, all pair
    work on the calendar-bounded day frame."""
    rho = _rho_frame(spark, sf_dir, 5)
    q = rho.agg(
        F.max("t").cast("bigint").alias("t"),
        F.sum(
            F.round(
                F.lit(1e15) * F.col("rho") * F.col("rho")
                / (F.col("t") - F.col("lag"))
            ).cast("decimal(38,0)")
        ).alias("sq"),
    )
    return q.select(
        F.col("t").alias("n_days"),
        F.round(
            F.col("t") * (F.col("t") + F.lit(2.0))
            * (F.col("sq").cast("double") / F.lit(1e15)),
            6,
        ).alias("q_ljung_box"),
    )


@register(
    "binseg_changepoint_daily",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    r AS (SELECT day,
                 row_number() OVER (ORDER BY day ASC) AS rn,
                 SUM(CAST(cents AS DECIMAL(38,0)))
                   OVER (ORDER BY day ASC) AS p,
                 SUM(CAST(cents AS DECIMAL(38,0)) * cents)
                   OVER (ORDER BY day ASC) AS q
          FROM d),
    tot AS (SELECT COUNT(*)::BIGINT AS t,
                   SUM(CAST(cents AS DECIMAL(38,0))) AS pt,
                   SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS qt
            FROM d),
    cost AS (SELECT r.day, r.rn, r.p, tot.t, tot.pt, tot.qt,
                    (r.q::DOUBLE - r.p::DOUBLE * r.p::DOUBLE / r.rn)
                    + ((tot.qt::DOUBLE - r.q::DOUBLE)
                       - (tot.pt::DOUBLE - r.p::DOUBLE)
                         * (tot.pt::DOUBLE - r.p::DOUBLE)
                         / (tot.t - r.rn)) AS sse
             FROM r CROSS JOIN tot
             WHERE r.rn < tot.t),
    best AS (SELECT * FROM cost ORDER BY sse ASC, day ASC LIMIT 1)
    SELECT t AS n_days, day AS split_day, rn AS n_days_left,
           ROUND(1.0 - sse / (qt::DOUBLE - pt::DOUBLE * pt::DOUBLE / t), 6)
             AS gain_fraction,
           ROUND(p::DOUBLE / rn / 100.0, 6) AS left_mean_revenue,
           ROUND((pt::DOUBLE - p::DOUBLE) / (t - rn) / 100.0, 6)
             AS right_mean_revenue
    FROM best
    """,
)
def binseg_changepoint_daily(spark, sf_dir):
    """Single-changepoint detection on daily revenue by binary
    segmentation (the first split of Scott-Knott / ruptures-style
    binseg): the day t whose left/right mean split removes the most
    SSE -- the offline companion to the online `events_cusum_scan` /
    `events_page_hinkley` monitors (those flag WHEN a stream shifts;
    this finds WHERE a finished series most plausibly broke, e.g. a
    mix change mid-ingest). Days collapse to exact integer cents; one
    distributed prefix scan gives P_t and Q_t; each candidate's
    two-segment SSE is one fixed-order double expression of exact
    decimals (SSE = Q - P^2/n per side, means never materialize); the
    argmin rides orderBy().limit(1) -- TakeOrdered partial+final, no
    single-partition sort -- with the earliest-day tie-break. Output
    reports the split plus the scale-free gain fraction 1 -
    SSE_split/SSE_total.

    Scale: one corpus scan to the calendar-bounded day frame; prefix
    scans and the argmin run on ~2.5k rows at any data volume."""
    d = daily_cents(spark, sf_dir)
    r = global_prefix_agg(
        d.withColumns(
            {
                "cdec": F.col("cents").cast("decimal(38,0)"),
                "qdec": F.col("cents").cast("decimal(38,0)") * F.col("cents"),
            }
        ),
        [F.col("day").asc()],
        ["cdec", "qdec"],
        agg="sum",
        out_col=["p", "q"],
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("pt"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "qt"
        ),
    )
    c = r.crossJoin(F.broadcast(tot)).filter(F.col("rn") < F.col("t"))
    pd_ = F.col("p").cast("double")
    qd = F.col("q").cast("double")
    ptd = F.col("pt").cast("double")
    qtd = F.col("qt").cast("double")
    sse = (qd - pd_ * pd_ / F.col("rn")) + (
        (qtd - qd)
        - (ptd - pd_) * (ptd - pd_) / (F.col("t") - F.col("rn"))
    )
    best = (
        c.withColumn("sse", sse)
        .orderBy(F.col("sse").asc(), F.col("day").asc())
        .limit(1)
    )
    return best.select(
        F.col("t").alias("n_days"),
        F.col("day").alias("split_day"),
        F.col("rn").alias("n_days_left"),
        F.round(
            F.lit(1.0) - F.col("sse") / (qtd - ptd * ptd / F.col("t")), 6
        ).alias("gain_fraction"),
        F.round(pd_ / F.col("rn") / F.lit(100.0), 6).alias(
            "left_mean_revenue"
        ),
        F.round(
            (ptd - pd_) / (F.col("t") - F.col("rn")) / F.lit(100.0), 6
        ).alias("right_mean_revenue"),
    )


_HOURLY_SPINE_SQL = """
    bounds AS (SELECT date_trunc('hour', MIN(ts)) AS t0,
                      date_trunc('hour', MAX(ts)) AS t1 FROM events),
    spine AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
              FROM bounds),
    actual AS (SELECT date_trunc('hour', ts) AS h, COUNT(*)::BIGINT AS n
               FROM events GROUP BY 1),
    x AS (SELECT date_diff('hour', b.t0, s.h)::BIGINT AS hi,
                 COALESCE(a.n, 0)::BIGINT AS n
          FROM spine s CROSS JOIN bounds b
          LEFT JOIN actual a ON a.h = s.h)
"""


def _hourly_counts(spark, sf_dir):
    """Dense zero-filled hourly count series with an integer hour index
    (the events_dense_hourly spine idiom: generated, never scanned)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = bounds.select(
        "t0",
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    actual = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return spine.join(actual, "h", "left").select(
        ((F.unix_timestamp("h") - F.unix_timestamp("t0")) / 3600)
        .cast("bigint")
        .alias("hi"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
    )


@register(
    "hurst_rs_hourly",
    f"""
    WITH {_HOURLY_SPINE_SQL},
    xb AS (SELECT k.s, x.hi // k.s AS blk, x.hi % k.s AS pos, x.n
           FROM x CROSS JOIN (SELECT unnest([24, 72, 180]) AS s) k),
    fb AS (SELECT s, blk FROM xb GROUP BY s, blk HAVING COUNT(*) = s),
    w AS (SELECT xb.s, xb.blk, xb.pos, xb.n,
                 SUM(xb.n) OVER (PARTITION BY xb.s, xb.blk
                                 ORDER BY xb.pos ASC) AS pf
          FROM xb JOIN fb USING (s, blk)),
    bs AS (SELECT s, blk, SUM(n)::BIGINT AS sb,
                  SUM(CAST(n * n AS DECIMAL(38,0))) AS qb
           FROM w GROUP BY s, blk),
    dev AS (SELECT w.s, w.blk,
                   MAX(w.pf - (w.pos + 1.0) * bs.sb / w.s)
                   - MIN(w.pf - (w.pos + 1.0) * bs.sb / w.s) AS rng,
                   MAX(sqrt(bs.qb::DOUBLE / w.s
                            - (bs.sb::DOUBLE / w.s)
                              * (bs.sb::DOUBLE / w.s))) AS sd
            FROM w JOIN bs USING (s, blk) GROUP BY w.s, w.blk),
    rs AS (SELECT s, COUNT(*)::BIGINT AS n_blocks,
                  SUM(CAST(round(1e9 * rng / sd) AS DECIMAL(38,0))) AS q
           FROM dev WHERE sd > 0 GROUP BY s),
    pv AS (SELECT MAX(CASE WHEN s = 24 THEN q::DOUBLE / 1e9 / n_blocks
                      END) AS rs24,
                  MAX(CASE WHEN s = 72 THEN q::DOUBLE / 1e9 / n_blocks
                      END) AS rs72,
                  MAX(CASE WHEN s = 180 THEN q::DOUBLE / 1e9 / n_blocks
                      END) AS rs180,
                  MAX(CASE WHEN s = 24 THEN n_blocks END) AS nb24
           FROM rs),
    ols AS (SELECT rs24, rs72, rs180, nb24,
                   ln(24.0) AS l1, ln(72.0) AS l2, ln(180.0) AS l3,
                   ln(rs24) AS y1, ln(rs72) AS y2, ln(rs180) AS y3
            FROM pv)
    SELECT nb24 AS n_blocks_24,
           ROUND(rs24, 6) AS rs_24,
           ROUND(rs72, 6) AS rs_72,
           ROUND(rs180, 6) AS rs_180,
           ROUND(((l1 - (l1 + l2 + l3) / 3.0) * (y1 - (y1 + y2 + y3) / 3.0)
                  + (l2 - (l1 + l2 + l3) / 3.0) * (y2 - (y1 + y2 + y3) / 3.0)
                  + (l3 - (l1 + l2 + l3) / 3.0) * (y3 - (y1 + y2 + y3) / 3.0))
                 / ((l1 - (l1 + l2 + l3) / 3.0) * (l1 - (l1 + l2 + l3) / 3.0)
                    + (l2 - (l1 + l2 + l3) / 3.0) * (l2 - (l1 + l2 + l3) / 3.0)
                    + (l3 - (l1 + l2 + l3) / 3.0) * (l3 - (l1 + l2 + l3) / 3.0)),
                 6) AS hurst_exponent
    FROM ols
    """,
)
def hurst_rs_hourly(spark, sf_dir):
    """Hurst exponent of the hourly event-count series by classical
    rescaled-range (R/S) analysis over block sizes {{24, 72, 180}} hours
    -- the long-memory readout next to `events_burstiness` and
    `hourly_autocorr` (H ~ 0.5 is memoryless, H > 0.5 persistent/
    trend-reinforcing traffic, H < 0.5 mean-reverting; load planners
    care because persistent streams defeat naive capacity averaging).
    The series is the dense zero-filled hourly spine (generated, never
    scanned). Per block: the cumulative deviation identity W_i = P_i -
    i*mean keeps everything in exact integer prefix sums until ONE
    double expression per block; R/S_b is micro-quantized so the
    per-size mean folds order-proof; H is the closed-form 3-point OLS
    slope of ln(mean R/S) on ln(s) with ln of literal block sizes.

    Scale: the corpus is touched by one hourly pre-aggregation; all R/S
    work runs on spine x 3 copies (a few thousand rows), with windows
    partitioned by (size, block) -- bounded frames of at most 180
    rows."""
    x = _hourly_counts(spark, sf_dir)
    sizes = spark.range(3).select(
        F.element_at(literal_array([24, 72, 180]), (F.col("id") + 1).cast("int")).alias("s")
    )
    xb = x.crossJoin(F.broadcast(sizes)).select(
        "s",
        (F.col("hi") / F.col("s")).cast("bigint").alias("blk"),
        (F.col("hi") % F.col("s")).alias("pos"),
        "n",
    )
    fb = (
        xb.groupBy("s", "blk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") == F.col("s"))
        .select("s", "blk")
    )
    w = xb.join(fb, ["s", "blk"])
    pw = Window.partitionBy("s", "blk").orderBy(F.col("pos").asc())
    w = w.withColumn("pf", F.sum("n").over(pw))
    bs = w.groupBy("s", "blk").agg(
        F.sum("n").cast("bigint").alias("sb"),
        F.sum((F.col("n") * F.col("n")).cast("decimal(38,0)")).alias("qb"),
    )
    j = w.join(bs, ["s", "blk"])
    dev_expr = F.col("pf") - (F.col("pos") + F.lit(1.0)) * F.col("sb") / F.col("s")
    dev = j.groupBy("s", "blk").agg(
        (F.max(dev_expr) - F.min(dev_expr)).alias("rng"),
        F.max(
            F.sqrt(
                F.col("qb").cast("double") / F.col("s")
                - (F.col("sb").cast("double") / F.col("s"))
                * (F.col("sb").cast("double") / F.col("s"))
            )
        ).alias("sd"),
    )
    rs = (
        dev.filter(F.col("sd") > 0)
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(
                F.round(F.lit(1e9) * F.col("rng") / F.col("sd")).cast(
                    "decimal(38,0)"
                )
            ).alias("q"),
        )
    )
    mrs = F.col("q").cast("double") / F.lit(1e9) / F.col("n_blocks")
    pv = rs.agg(
        F.max(F.when(F.col("s") == 24, mrs)).alias("rs24"),
        F.max(F.when(F.col("s") == 72, mrs)).alias("rs72"),
        F.max(F.when(F.col("s") == 180, mrs)).alias("rs180"),
        F.max(F.when(F.col("s") == 24, F.col("n_blocks"))).alias("nb24"),
    )
    l1, l2, l3 = (F.log(F.lit(float(v))) for v in (24.0, 72.0, 180.0))
    y1, y2, y3 = (
        F.log(F.col(c)) for c in ("rs24", "rs72", "rs180")
    )
    lm = (l1 + l2 + l3) / F.lit(3.0)
    ym = (y1 + y2 + y3) / F.lit(3.0)
    slope = (
        (l1 - lm) * (y1 - ym) + (l2 - lm) * (y2 - ym) + (l3 - lm) * (y3 - ym)
    ) / ((l1 - lm) * (l1 - lm) + (l2 - lm) * (l2 - lm) + (l3 - lm) * (l3 - lm))
    return pv.select(
        F.col("nb24").alias("n_blocks_24"),
        F.round(F.col("rs24"), 6).alias("rs_24"),
        F.round(F.col("rs72"), 6).alias("rs_72"),
        F.round(F.col("rs180"), 6).alias("rs_180"),
        F.round(slope, 6).alias("hurst_exponent"),
    )


_TWO_PI = 6.283185307179586


@register(
    "spectral_peak_hourly",
    f"""
    WITH {_HOURLY_SPINE_SQL},
    periods AS (SELECT unnest([6, 12, 24, 168])::INT AS period),
    tot AS (SELECT COUNT(*)::BIGINT AS t, SUM(n)::BIGINT AS s FROM x),
    trig AS (SELECT p.period,
                    SUM(CAST(round(1e9 * x.n * cos({_TWO_PI!r} * x.hi
                                                   / p.period))
                        AS DECIMAL(38,0))) AS ec,
                    SUM(CAST(round(1e9 * x.n * sin({_TWO_PI!r} * x.hi
                                                   / p.period))
                        AS DECIMAL(38,0))) AS es,
                    SUM(CAST(round(1e9 * cos({_TWO_PI!r} * x.hi / p.period))
                        AS DECIMAL(38,0))) AS sc,
                    SUM(CAST(round(1e9 * sin({_TWO_PI!r} * x.hi / p.period))
                        AS DECIMAL(38,0))) AS ss
             FROM x CROSS JOIN periods p GROUP BY p.period),
    pw AS (SELECT t.period,
                  (t.ec::DOUBLE / 1e9
                   - (tt.s::DOUBLE / tt.t) * (t.sc::DOUBLE / 1e9))
                  * (t.ec::DOUBLE / 1e9
                     - (tt.s::DOUBLE / tt.t) * (t.sc::DOUBLE / 1e9))
                  + (t.es::DOUBLE / 1e9
                     - (tt.s::DOUBLE / tt.t) * (t.ss::DOUBLE / 1e9))
                    * (t.es::DOUBLE / 1e9
                       - (tt.s::DOUBLE / tt.t) * (t.ss::DOUBLE / 1e9))
                    AS power
           FROM trig t CROSS JOIN tot tt),
    totp AS (SELECT SUM(CAST(round(power) AS DECIMAL(38,0))) AS tp FROM pw)
    SELECT pw.period AS period_hours,
           CAST(round(pw.power) AS BIGINT) AS power_rounded,
           ROUND(CAST(round(pw.power) AS DOUBLE) / totp.tp::DOUBLE, 6)
             AS power_share
    FROM pw CROSS JOIN totp
    ORDER BY period_hours ASC
    """,
)
def spectral_peak_hourly(spark, sf_dir):
    """Periodogram power of the hourly event-count series at the four
    candidate cycles {{6, 12, 24, 168}} hours -- the frequency-domain
    companion to `hourly_autocorr` and `events_weekday_profile` (the
    lag-k ACF can alias a 12 h cycle into a 24 h peak; the DFT power
    P(f) = |sum (x_h - mean) e^(-2 pi i h/f)|^2 reads each candidate
    directly, the Lomb-Scargle special case for a complete evenly
    spaced series). The trig sums fold DIRECTLY over the event scan
    (sum_h x_h cos = sum_events cos -- densification is free because
    missing hours contribute zero), mean-centering is applied
    algebraically via the spine trig sums, and every cos/sin term is
    nano-quantized so all folds are exact DECIMAL(38,0) at any
    parallelism (acos/ln cross-engine agreement is the established
    angular-distance idiom). Power is reported integer-rounded (its
    share r6) so the final comparison surface has no float-sum tail.

    Scale: one corpus-scan conditional aggregation (4 periods x 2 trig
    sums with map-side combine) plus a generated-spine pass; no
    windows, no joins above calendar size."""
    x = _hourly_counts(spark, sf_dir)
    periods = spark.range(4).select(
        F.element_at(
            literal_array([6, 12, 24, 168]),
            (F.col("id") + 1).cast("int"),
        ).alias("period")
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("n").cast("bigint").alias("s"),
    )
    ang = F.lit(_TWO_PI) * F.col("hi") / F.col("period")
    trig = (
        x.crossJoin(F.broadcast(periods))
        .groupBy("period")
        .agg(
            F.sum(
                F.round(F.lit(1e9) * F.col("n") * F.cos(ang)).cast(
                    "decimal(38,0)"
                )
            ).alias("ec"),
            F.sum(
                F.round(F.lit(1e9) * F.col("n") * F.sin(ang)).cast(
                    "decimal(38,0)"
                )
            ).alias("es"),
            F.sum(F.round(F.lit(1e9) * F.cos(ang)).cast("decimal(38,0)")).alias(
                "sc"
            ),
            F.sum(F.round(F.lit(1e9) * F.sin(ang)).cast("decimal(38,0)")).alias(
                "ss"
            ),
        )
    )
    j = trig.crossJoin(F.broadcast(tot))
    mean = F.col("s").cast("double") / F.col("t")
    a = F.col("ec").cast("double") / F.lit(1e9) - mean * (
        F.col("sc").cast("double") / F.lit(1e9)
    )
    b = F.col("es").cast("double") / F.lit(1e9) - mean * (
        F.col("ss").cast("double") / F.lit(1e9)
    )
    pw = j.select("period", (a * a + b * b).alias("power"))
    totp = pw.agg(
        F.sum(F.round(F.col("power")).cast("decimal(38,0)")).alias("tp")
    )
    return (
        pw.crossJoin(F.broadcast(totp))
        .select(
            F.col("period").alias("period_hours"),
            F.round(F.col("power")).cast("bigint").alias("power_rounded"),
            F.round(
                F.round(F.col("power")).cast("double")
                / F.col("tp").cast("double"),
                6,
            ).alias("power_share"),
        )
        .orderBy(F.col("period_hours").asc())
    )


@register(
    "hourly_seasonality_strength",
    f"""
    WITH {_HOURLY_SPINE_SQL},
    hod AS (SELECT hi % 24 AS hh, n FROM x),
    g AS (SELECT hh, COUNT(*)::BIGINT AS ng, SUM(n)::BIGINT AS sg
          FROM hod GROUP BY hh),
    tot AS (SELECT COUNT(*)::BIGINT AS t, SUM(n)::BIGINT AS s,
                   SUM(CAST(n * n AS DECIMAL(38,0))) AS q
            FROM x),
    btw AS (SELECT SUM(CAST(round(1e6 * sg * (sg * 1.0) / ng)
                       AS DECIMAL(38,0))) AS bq
            FROM g)
    SELECT tot.t AS n_hours,
           ROUND(tot.q::DOUBLE - tot.s::DOUBLE * tot.s / tot.t, 6)
             AS ss_total,
           ROUND(tot.q::DOUBLE - btw.bq::DOUBLE / 1e6, 6) AS ss_resid,
           ROUND(GREATEST(0.0,
                 1.0 - (tot.q::DOUBLE - btw.bq::DOUBLE / 1e6)
                       / (tot.q::DOUBLE - tot.s::DOUBLE * tot.s / tot.t)),
                 6) AS seasonal_strength
    FROM tot CROSS JOIN btw
    """,
)
def hourly_seasonality_strength(spark, sf_dir):
    """Hour-of-day seasonal strength of the hourly event-count series:
    F_s = max(0, 1 - SS_resid/SS_total) with the seasonal component
    fitted as the 24 hour-of-day means (Hyndman's STL strength measure
    specialized to a flat trend) -- the single-number summary of what
    `events_weekday_profile` and `daily_seasonal_decomposition` show as
    tables (F_s ~ 0: the diurnal profile explains nothing; -> 1: the
    series IS its daily cycle, which decides whether a forecaster needs
    a seasonal term and whether load tests may ignore time-of-day).
    The within-group SS collapses algebraically: SS_resid = Q - sum_g
    S_g^2/n_g -- group means never materialize; each group's S_g^2/n_g
    is micro-quantized so the 24-term fold is order-proof; everything
    else is exact integer sums off the zero-filled spine.

    Scale: one corpus scan to the hourly pre-aggregation; the analysis
    frame is the generated calendar spine and a 24-row group table."""
    x = _hourly_counts(spark, sf_dir)
    g = x.groupBy((F.col("hi") % 24).alias("hh")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("n").cast("bigint").alias("sg"),
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum((F.col("n") * F.col("n")).cast("decimal(38,0)")).alias("q"),
    )
    btw = g.agg(
        F.sum(
            F.round(
                F.lit(1e6) * F.col("sg") * (F.col("sg") * F.lit(1.0))
                / F.col("ng")
            ).cast("decimal(38,0)")
        ).alias("bq")
    )
    j = tot.crossJoin(F.broadcast(btw))
    qd = F.col("q").cast("double")
    sst = qd - F.col("s").cast("double") * F.col("s") / F.col("t")
    ssr = qd - F.col("bq").cast("double") / F.lit(1e6)
    return j.select(
        F.col("t").alias("n_hours"),
        F.round(sst, 6).alias("ss_total"),
        F.round(ssr, 6).alias("ss_resid"),
        F.round(F.greatest(F.lit(0.0), F.lit(1.0) - ssr / sst), 6).alias(
            "seasonal_strength"
        ),
    )


@register(
    "permutation_entropy_hourly",
    f"""
    WITH {_HOURLY_SPINE_SQL},
    tr AS (SELECT a.n AS v1, b.n AS v2, c.n AS v3
           FROM x a JOIN x b ON b.hi = a.hi + 1
                    JOIN x c ON c.hi = a.hi + 2),
    pat AS (SELECT ((CASE WHEN v2 < v1 THEN 1 ELSE 0 END
                     + CASE WHEN v3 < v1 THEN 1 ELSE 0 END) * 9
                    + (CASE WHEN v1 <= v2 THEN 1 ELSE 0 END
                       + CASE WHEN v3 < v2 THEN 1 ELSE 0 END) * 3
                    + (CASE WHEN v1 <= v3 THEN 1 ELSE 0 END
                       + CASE WHEN v2 <= v3 THEN 1 ELSE 0 END))::INT
                     AS pattern
           FROM tr),
    c AS (SELECT pattern, COUNT(*)::BIGINT AS cnt FROM pat
          GROUP BY pattern),
    t AS (SELECT SUM(cnt)::BIGINT AS tot, COUNT(*)::BIGINT AS np FROM c),
    h AS (SELECT SUM(CAST(round(-1e12 * (c.cnt * 1.0 / t.tot)
                                * ln(c.cnt * 1.0 / t.tot))
                     AS DECIMAL(38,0))) AS hq
          FROM c CROSS JOIN t)
    SELECT t.tot AS n_triples, t.np AS n_patterns,
           ROUND(h.hq::DOUBLE / 1e12 / ln(6.0), 6) AS perm_entropy_norm
    FROM t CROSS JOIN h
    """,
)
def permutation_entropy_hourly(spark, sf_dir):
    """Normalized permutation entropy (Bandt-Pompe 2002, order m = 3) of
    the hourly event-count series -- the model-free complexity readout
    next to `hourly_autocorr` and `markov_entropy_rate` (those need a
    value alphabet or linear structure; PE looks only at the ORDINAL
    pattern of each consecutive triple, so it is calibration-invariant
    and robust to any monotone transform of load: ~1 means
    noise-dominated traffic, well below 1 means repeated motifs a
    forecaster can exploit). Ties resolve by position (earlier index
    ranks first -- the standard convention, stated explicitly because
    zero-count hours tie often): each triple maps to one of 6 codes via
    pure integer comparisons, patterns aggregate exactly, and the
    <= 6-term entropy fold is pico-quantized; only ln of
    identical-integer ratios touches floating point.

    Scale: the spine self-joins twice on the hour index (calendar-sized
    equi-joins); the corpus is touched once by the hourly
    pre-aggregation."""
    x = _hourly_counts(spark, sf_dir)
    a = x.select(F.col("hi").alias("h1"), F.col("n").alias("v1"))
    b = x.select(F.col("hi").alias("h2"), F.col("n").alias("v2"))
    cc = x.select(F.col("hi").alias("h3"), F.col("n").alias("v3"))
    tr = a.join(b, F.col("h2") == F.col("h1") + 1).join(
        cc, F.col("h3") == F.col("h1") + 2
    )
    i = lambda cond: F.when(cond, 1).otherwise(0)  # noqa: E731
    pat = tr.select(
        (
            (i(F.col("v2") < F.col("v1")) + i(F.col("v3") < F.col("v1"))) * 9
            + (i(F.col("v1") <= F.col("v2")) + i(F.col("v3") < F.col("v2")))
            * 3
            + (i(F.col("v1") <= F.col("v3")) + i(F.col("v2") <= F.col("v3")))
        )
        .cast("int")
        .alias("pattern")
    )
    c = pat.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    t = c.agg(
        F.sum("cnt").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
    )
    h = c.crossJoin(F.broadcast(t)).agg(
        F.sum(
            F.round(
                F.lit(-1e12)
                * (F.col("cnt") * F.lit(1.0) / F.col("tot"))
                * F.log(F.col("cnt") * F.lit(1.0) / F.col("tot"))
            ).cast("decimal(38,0)")
        ).alias("hq")
    )
    j = t.crossJoin(F.broadcast(h))
    return j.select(
        F.col("tot").alias("n_triples"),
        F.col("np").alias("n_patterns"),
        F.round(
            F.col("hq").cast("double") / F.lit(1e12) / F.log(F.lit(6.0)), 6
        ).alias("perm_entropy_norm"),
    )


@register(
    "seasonal_mann_kendall_daily",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    w AS (SELECT day, dayofweek(day)::INT AS wd, cents FROM d),
    s AS (SELECT a.wd,
                 SUM(CASE WHEN b.cents > a.cents THEN 1
                          WHEN b.cents < a.cents THEN -1 ELSE 0
                     END)::BIGINT AS s_wd,
                 (COUNT(*))::BIGINT AS n_pairs
          FROM w a JOIN w b ON a.wd = b.wd AND b.day > a.day
          GROUP BY a.wd),
    m AS (SELECT wd, COUNT(*)::BIGINT AS m FROM w GROUP BY wd),
    ties AS (SELECT wd, SUM(tt * (tt - 1) * (2 * tt + 5))::BIGINT AS tt3
             FROM (SELECT wd, COUNT(*)::BIGINT AS tt FROM w
                   GROUP BY wd, cents) z
             GROUP BY wd),
    agg AS (SELECT SUM(s.s_wd)::BIGINT AS s_total,
                   SUM(m.m * (m.m - 1) * (2 * m.m + 5) - ties.tt3)::BIGINT
                     AS var18,
                   COUNT(*)::BIGINT AS n_seasons
            FROM s JOIN m USING (wd) JOIN ties USING (wd))
    SELECT n_seasons, s_total,
           ROUND(var18 / 18.0, 6) AS var_total,
           CASE WHEN s_total > 0
                THEN ROUND((s_total - 1.0) / sqrt(var18 / 18.0), 6)
                WHEN s_total < 0
                THEN ROUND((s_total + 1.0) / sqrt(var18 / 18.0), 6)
                ELSE 0.0 END AS z_mk
    FROM agg
    """,
)
def seasonal_mann_kendall_daily(spark, sf_dir):
    """Seasonal Mann-Kendall trend test (Hirsch-Slack 1984) on daily
    revenue with weekday seasons: is revenue trending once the weekly
    cycle is removed? `mann_kendall_daily_trend` pools ALL day pairs,
    so the Mon-vs-Sat comparisons inject the seasonal signal into the
    trend statistic; the seasonal variant compares days only WITHIN
    the same weekday, then sums the seven S statistics and their
    tie-corrected variances (independent under H0). Sign counting is
    pure integer CASE arithmetic on the calendar-bounded day frame
    (~2.5k days -> ~230k same-weekday pairs, bounded by the calendar
    squared -- the same deliberate frame as the plain MK); the
    continuity-corrected z keeps the variance as the exact integer
    numerator var18 until ONE division by 18.

    Scale: one corpus scan to the day frame; the pair join lives
    entirely on the calendar frame."""
    d = daily_cents(spark, sf_dir)
    w = d.select("day", F.dayofweek("day").alias("wd"), "cents")
    a = w.select(
        F.col("wd"), F.col("day").alias("da"), F.col("cents").alias("ca")
    )
    b = w.select(
        F.col("wd"), F.col("day").alias("db"), F.col("cents").alias("cb")
    )
    s = (
        a.join(b, "wd")
        .filter(F.col("db") > F.col("da"))
        .groupBy("wd")
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_wd")
        )
    )
    m = w.groupBy("wd").agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    ties = (
        w.groupBy("wd", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
        .groupBy("wd")
        .agg(
            F.sum(
                F.col("tt")
                * (F.col("tt") - 1)
                * (2 * F.col("tt") + 5)
            )
            .cast("bigint")
            .alias("tt3")
        )
    )
    agg = (
        s.join(m, "wd")
        .join(ties, "wd")
        .agg(
            F.sum("s_wd").cast("bigint").alias("s_total"),
            F.sum(
                F.col("m") * (F.col("m") - 1) * (2 * F.col("m") + 5)
                - F.col("tt3")
            )
            .cast("bigint")
            .alias("var18"),
            F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
        )
    )
    vt = F.col("var18") / F.lit(18.0)
    return agg.select(
        "n_seasons",
        "s_total",
        F.round(vt, 6).alias("var_total"),
        F.when(
            F.col("s_total") > 0,
            F.round((F.col("s_total") - F.lit(1.0)) / F.sqrt(vt), 6),
        )
        .when(
            F.col("s_total") < 0,
            F.round((F.col("s_total") + F.lit(1.0)) / F.sqrt(vt), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("z_mk"),
    )


@register(
    "page_trend_weekday_revenue",
    f"""
    WITH d0 AS (SELECT MIN(l_shipdate) AS day0 FROM lineitem),
    d AS ({_DAILY_CENTS_SQL}),
    w AS (SELECT (date_diff('day', d0.day0, day) // 7)::BIGINT AS blk,
                 day, cents
          FROM d CROSS JOIN d0),
    full_w AS (SELECT blk FROM w GROUP BY blk HAVING COUNT(*) = 7),
    rr AS (SELECT blk, isodow(day)::INT AS wd,
                  2 * (RANK() OVER (PARTITION BY blk
                                    ORDER BY cents ASC) - 1)
                  + COUNT(*) OVER (PARTITION BY blk, cents) + 1 AS r2
           FROM w JOIN full_w USING (blk)),
    l AS (SELECT SUM(CAST(wd AS DECIMAL(38,0)) * r2) AS l2,
                 (COUNT(*) // 7)::BIGINT AS n
          FROM rr)
    SELECT n AS n_weeks,
           ROUND(l2::DOUBLE / 2.0, 6) AS page_l,
           ROUND((l2::DOUBLE - n * 7.0 * 64.0 / 4.0 * 2.0)
                 / (2.0 * sqrt(n * 49.0 * 8.0 * 48.0 / 144.0)), 6)
             AS z_page
    FROM l
    """,
)
def page_trend_weekday_revenue(spark, sf_dir):
    """Page's L test (1963) for a MONOTONE weekday-ordered trend in
    daily revenue — the ordered-alternative sharpening of
    `friedman_weekday_revenue` (Friedman asks "any weekday effect?";
    Page asks "does revenue rise through the week in weekday order?",
    which is the alternative a demand planner actually holds and buys
    real power when true). Same full-7-day-week block frame as the
    Quade/Friedman pair: within-block doubled midranks r2 keep
    L2 = sum wd*r2 an exact DECIMAL fold (L = L2/2); under H0,
    E[L] = n*k(k+1)^2/4 and Var(L) = n*k^2(k+1)(k^2-1)/144 with k=7
    are exact integers, so z = (L2 - 2E)/(2*sqrt(Var)) is one
    fixed-order expression of exact numbers (midrank ties make the
    no-tie variance slightly conservative — documented, standard
    practice).

    Scale: one corpus scan to the day frame; the only windows are
    7-row blocks on the calendar-bounded week spine."""
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
        (F.weekday("day") + 1).alias("wd"),
        (
            2 * (F.rank().over(blk_win) - 1)
            + F.count(F.lit(1)).over(tie_win)
            + 1
        ).alias("r2"),
    )
    lf = rr.agg(
        F.sum(F.col("wd").cast("decimal(38,0)") * F.col("r2")).alias("l2"),
        (F.count(F.lit(1)) / 7).cast("bigint").alias("n"),
    )
    l2d = F.col("l2").cast("double")
    n = F.col("n")
    return lf.select(
        n.alias("n_weeks"),
        F.round(l2d / F.lit(2.0), 6).alias("page_l"),
        F.round(
            (l2d - n * F.lit(7.0) * F.lit(64.0) / F.lit(4.0) * F.lit(2.0))
            / (
                F.lit(2.0)
                * F.sqrt(
                    n * F.lit(49.0) * F.lit(8.0) * F.lit(48.0) / F.lit(144.0)
                )
            ),
            6,
        ).alias("z_page"),
    )


@register(
    "grubbs_outlier_daily_revenue",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    t AS (SELECT COUNT(*)::BIGINT AS n,
                 SUM(CAST(cents AS DECIMAL(38,0))) AS s1,
                 SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
          FROM d),
    dev AS (SELECT day, abs(t.n * CAST(cents AS DECIMAL(38,0)) - t.s1)
                     AS adev
            FROM d CROSS JOIN t),
    top AS (SELECT day, adev FROM dev
            ORDER BY adev DESC, day ASC LIMIT 1)
    SELECT top.day AS outlier_day, t.n AS n_days,
           ROUND((top.adev::DOUBLE / t.n)
                 / sqrt((t.s2::DOUBLE - t.s1::DOUBLE * t.s1::DOUBLE / t.n)
                        / (t.n - 1.0)), 6) AS grubbs_g
    FROM top CROSS JOIN t
    """,
)
def grubbs_outlier_daily_revenue(spark, sf_dir):
    """Grubbs' maximum-studentized-deviate test (1950) on daily revenue:
    WHICH day is the most extreme and HOW extreme in sample-sd units —
    the single-outlier complement of `value_mad_outliers` (MAD flags
    many robustly; Grubbs prices the one worst against the normal
    model, the classical gate before dropping a day from a forecast
    fit). The argmax runs on EXACT integers (|n*x_i - S1| — no
    division, no float compare — ties to the earlier day); G's final
    expression divides exact DECIMAL(38,0) moments in one fixed order.
    The G ~ t-based critical value is the caller's lookup (the
    Jarque-Bera no-verdict precedent).

    Scale: one corpus scan to the day frame, one broadcast of the
    3-number moment row, one bounded TakeOrdered(1)."""
    d = daily_cents(spark, sf_dir)
    t = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "s2"
        ),
    )
    dev = d.crossJoin(F.broadcast(t)).select(
        "day",
        "n",
        "s1",
        "s2",
        F.abs(
            F.col("n") * F.col("cents").cast("decimal(38,0)") - F.col("s1")
        ).alias("adev"),
    )
    top = dev.orderBy(F.col("adev").desc(), F.col("day").asc()).limit(1)
    s1d = F.col("s1").cast("double")
    return top.select(
        F.col("day").alias("outlier_day"),
        F.col("n").alias("n_days"),
        F.round(
            (F.col("adev").cast("double") / F.col("n"))
            / F.sqrt(
                (F.col("s2").cast("double") - s1d * s1d / F.col("n"))
                / (F.col("n") - F.lit(1.0))
            ),
            6,
        ).alias("grubbs_g"),
    )


@register(
    "bartels_rank_daily_revenue",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    r AS (SELECT day,
                 row_number() OVER (ORDER BY day ASC) AS rn,
                 2 * (RANK() OVER (ORDER BY cents ASC) - 1)
                 + COUNT(*) OVER (PARTITION BY cents) + 1 AS r2
          FROM d),
    t AS (SELECT COUNT(*)::BIGINT AS n FROM r),
    num AS (SELECT SUM(CAST(a.r2 - b.r2 AS DECIMAL(38,0))
                       * (a.r2 - b.r2)) AS n2
            FROM r a JOIN r b ON b.rn = a.rn + 1),
    den AS (SELECT SUM(CAST(r.r2 - (t.n + 1) AS DECIMAL(38,0))
                       * (r.r2 - (t.n + 1))) AS d2
            FROM r CROSS JOIN t)
    SELECT t.n AS n_days,
           ROUND(num.n2::DOUBLE / den.d2::DOUBLE, 6) AS rvn,
           ROUND((num.n2::DOUBLE / den.d2::DOUBLE - 2.0)
                 / sqrt(4.0 * (t.n - 2.0) * (5.0 * t.n * t.n - 2.0 * t.n - 9.0)
                        / (5.0 * t.n * (t.n + 1.0) * (t.n - 1.0) * (t.n - 1.0))),
                 6) AS z_bartels
    FROM num CROSS JOIN den CROSS JOIN t
    """,
)
def bartels_rank_daily_revenue(spark, sf_dir):
    """Bartels' rank version of the von Neumann ratio (1982) — the
    nonparametric randomness test on the daily revenue sequence:
    RVN = sum (r_t - r_(t+1))^2 / sum (r_t - rbar)^2 on the ranks of
    daily cents, ~2 under randomness, < 2 under positive serial
    dependence (trend/momentum), > 2 under alternation. Complements
    `runs_test_daily_revenue` (runs sees only the median split;
    Bartels uses full rank information — the standard upgrade) and the
    parametric `durbin_watson_daily_revenue` (same ratio shape on
    residuals). Doubled midranks make BOTH sums exact DECIMAL folds
    (the doublings cancel in the ratio: 4/4); rbar2 = n+1 exactly; the
    successor join is rn = rn+1 on the calendar-bounded day frame; z
    uses Bartels' exact null variance 4(n-2)(5n^2-2n-9)/(5n(n+1)(n-1)^2)
    in one fixed-order expression.

    Scale: one corpus scan to the day frame; ranks and the successor
    join live on the calendar-bounded spine."""
    d = daily_cents(spark, sf_dir)
    r = d.select(
        "day",
        "cents",
        "rn",
        (
            2 * (F.rank().over(Window.orderBy(F.col("cents").asc())) - 1)
            + F.count(F.lit(1)).over(Window.partitionBy("cents"))
            + 1
        ).alias("r2"),
    )
    t = r.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    b = r.select(F.col("rn").alias("rnb"), F.col("r2").alias("r2b"))
    num = (
        r.join(b, F.col("rnb") == F.col("rn") + 1)
        .agg(
            F.sum(
                (F.col("r2") - F.col("r2b")).cast("decimal(38,0)")
                * (F.col("r2") - F.col("r2b"))
            ).alias("n2")
        )
    )
    den = r.crossJoin(F.broadcast(t)).agg(
        F.sum(
            (F.col("r2") - (F.col("n") + 1)).cast("decimal(38,0)")
            * (F.col("r2") - (F.col("n") + 1))
        ).alias("d2")
    )
    j = num.crossJoin(F.broadcast(den)).crossJoin(F.broadcast(t))
    rvn = F.col("n2").cast("double") / F.col("d2").cast("double")
    nd = F.col("n")
    return j.select(
        nd.alias("n_days"),
        F.round(rvn, 6).alias("rvn"),
        F.round(
            (rvn - F.lit(2.0))
            / F.sqrt(
                F.lit(4.0)
                * (nd - F.lit(2.0))
                * (F.lit(5.0) * nd * nd - F.lit(2.0) * nd - F.lit(9.0))
                / (
                    F.lit(5.0)
                    * nd
                    * (nd + F.lit(1.0))
                    * (nd - F.lit(1.0))
                    * (nd - F.lit(1.0))
                )
            ),
            6,
        ).alias("z_bartels"),
    )


@register(
    "kpss_daily_revenue",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    r AS (SELECT cents, row_number() OVER (ORDER BY day ASC) AS rn FROM d),
    t AS (SELECT COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS s1 FROM r),
    e AS (SELECT rn, (t.n * cents - t.s1) AS ee FROM r CROSS JOIN t),
    s AS (SELECT rn, SUM(ee) OVER (ORDER BY rn ASC) AS se FROM e),
    ss AS (SELECT SUM(CAST(se AS DECIMAL(38,0)) * se) AS ss2 FROM s),
    e2 AS (SELECT SUM(CAST(ee AS DECIMAL(38,0)) * ee) AS se2 FROM e),
    c AS (SELECT SUM((9 - k.k) * CAST(a.ee AS DECIMAL(38,0)) * b.ee) AS wc
          FROM (SELECT unnest(range(1, 9))::BIGINT AS k) k
          JOIN e a ON TRUE
          JOIN e b ON b.rn = a.rn - k.k)
    SELECT t.n AS n_days, 8 AS bartlett_lag,
           ROUND(9.0 * ss.ss2::DOUBLE
                 / (t.n * (9.0 * e2.se2::DOUBLE + 2.0 * c.wc::DOUBLE)), 6)
             AS kpss_eta
    FROM t CROSS JOIN ss CROSS JOIN e2 CROSS JOIN c
    """,
)
def kpss_daily_revenue(spark, sf_dir):
    """KPSS level-stationarity statistic (Kwiatkowski et al. 1992) on
    daily revenue — the null-reversed partner of
    `dickey_fuller_daily_revenue` (DF's null is a unit root, KPSS's
    null is stationarity; running BOTH is the standard confirmatory
    protocol before trusting any forecast fit). eta = sum of squared
    partial sums of demeaned revenue over n^2 * (Bartlett long-run
    variance, fixed lag 8). Working in n-scaled units E_t = n*x_t - S1
    makes the demeaned series, its partial sums, the variance and all
    8 lag cross-products EXACT integers — the n powers cancel into
    eta = 9*sum S(E)^2 / (n * (9*sum E^2 + 2*sum (9-k)*C_k)), ONE
    final division of exact DECIMALs: bit-exact cross-engine. (The
    data-driven bandwidth floor(4*(n/100)^0.25) is deliberately pinned
    to 8 — a float-boundary-free constant in both engines; at the
    fixture's n it equals the Schwert value anyway.)

    Scale: one corpus scan to the day frame; the prefix scan and the
    8-lag self-join live on the calendar-bounded spine. At 100 TB day
    counts stay calendar-bounded; E_t needs DECIMAL once n*cents
    passes 2^63 (documented switch)."""
    r = daily_cents(spark, sf_dir).select("rn", "cents")
    t = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
    )
    e = r.crossJoin(F.broadcast(t)).select(
        "rn", (F.col("n") * F.col("cents") - F.col("s1")).alias("ee")
    )
    s = global_prefix_agg(e, [F.col("rn").asc()], "ee", out_col="se")
    ss = s.agg(
        F.sum(F.col("se").cast("decimal(38,0)") * F.col("se")).alias("ss2")
    )
    e2 = e.agg(
        F.sum(F.col("ee").cast("decimal(38,0)") * F.col("ee")).alias("se2")
    )
    ks = spark.range(1, 9).select(F.col("id").cast("bigint").alias("k"))
    b = e.select(F.col("rn").alias("rnb"), F.col("ee").alias("eeb"))
    c = (
        e.crossJoin(F.broadcast(ks))
        .join(b, F.col("rnb") == F.col("rn") - F.col("k"))
        .agg(
            F.sum(
                (9 - F.col("k"))
                * F.col("ee").cast("decimal(38,0)")
                * F.col("eeb")
            ).alias("wc")
        )
    )
    j = (
        t.crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(e2))
        .crossJoin(F.broadcast(c))
    )
    return j.select(
        F.col("n").alias("n_days"),
        F.lit(8).alias("bartlett_lag"),
        F.round(
            F.lit(9.0)
            * F.col("ss2").cast("double")
            / (
                F.col("n")
                * (
                    F.lit(9.0) * F.col("se2").cast("double")
                    + F.lit(2.0) * F.col("wc").cast("double")
                )
            ),
            6,
        ).alias("kpss_eta"),
    )


@register(
    "dickey_fuller_daily_revenue",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    r AS (SELECT cents, row_number() OVER (ORDER BY day ASC) AS rn FROM d),
    p AS (SELECT b.cents - a.cents AS y, a.cents AS z
          FROM r a JOIN r b ON b.rn = a.rn + 1),
    s AS (SELECT COUNT(*)::BIGINT AS m,
                 SUM(z)::BIGINT AS sz, SUM(y)::BIGINT AS sy,
                 SUM(CAST(z AS DECIMAL(38,0)) * y) AS szy,
                 SUM(CAST(z AS DECIMAL(38,0)) * z) AS szz,
                 SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
          FROM p),
    f AS (SELECT m,
                 szz::DOUBLE - sz::DOUBLE * sz::DOUBLE / m AS szzc,
                 szy::DOUBLE - sz::DOUBLE * sy::DOUBLE / m AS szyc,
                 syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / m AS syyc
          FROM s)
    SELECT m AS n_pairs,
           ROUND(szyc / szzc, 6) AS rho_hat,
           ROUND((szyc / szzc)
                 / sqrt(((syyc - (szyc / szzc) * szyc) / (m - 2.0))
                        / szzc), 6) AS t_df
    FROM f
    """,
)
def dickey_fuller_daily_revenue(spark, sf_dir):
    """Dickey-Fuller unit-root regression (1979, with drift, no
    augmentation) on daily revenue: OLS of the day-over-day CHANGE on
    the lagged level. rho_hat near 0 with a large-negative t means the
    series mean-reverts (stationary); rho_hat ~ 0 with small |t| means
    a random-walk level — THE go/no-go before differencing in any
    forecast pipeline, and the null-reversed partner of
    `kpss_daily_revenue`. The five regression sums (sz, sy, szy, szz,
    syy) fold exactly (BIGINT/DECIMAL); the centered moments, slope and
    its t-statistic are one fixed-order double expression — the
    `theil_sen_daily_trend` determinism discipline applied to OLS. The
    DF critical values are the caller's lookup (Jarque-Bera
    precedent).

    Scale: one corpus scan to the day frame; the successor join is
    rn+1 on the calendar-bounded spine."""
    r = daily_cents(spark, sf_dir).select("rn", "cents")
    b = r.select((F.col("rn") - 1).alias("rnb"), F.col("cents").alias("cb"))
    p = r.join(b, F.col("rnb") == F.col("rn")).select(
        (F.col("cb") - F.col("cents")).alias("y"), F.col("cents").alias("z")
    )
    s = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("y")).alias("szy"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("szz"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    m = F.col("m")
    szzc = F.col("szz").cast("double") - F.col("sz").cast("double") * F.col(
        "sz"
    ).cast("double") / m
    szyc = F.col("szy").cast("double") - F.col("sz").cast("double") * F.col(
        "sy"
    ).cast("double") / m
    syyc = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double") / m
    rho = szyc / szzc
    return s.select(
        m.alias("n_pairs"),
        F.round(rho, 6).alias("rho_hat"),
        F.round(
            rho / F.sqrt(((syyc - rho * szyc) / (m - F.lit(2.0))) / szzc), 6
        ).alias("t_df"),
    )


@register(
    "sample_entropy_hourly",
    f"""
    WITH {_HOURLY_SPINE_SQL},
    t AS (SELECT COUNT(*)::BIGINT AS h, SUM(n)::BIGINT AS s1,
                 SUM(CAST(n AS DECIMAL(38,0)) * n) AS s2
          FROM x),
    rt AS (SELECT h,
                  CAST(FLOOR(0.2 * sqrt((h * s2::DOUBLE - s1::DOUBLE * s1)
                                        / (h::DOUBLE * h))) AS BIGINT) AS r
           FROM t),
    w AS (SELECT a.hi, a.n AS n0, b.n AS n1, c.n AS n2
          FROM x a JOIN x b ON b.hi = a.hi + 1
                   JOIN x c ON c.hi = a.hi + 2),
    pairs AS (SELECT CASE WHEN GREATEST(abs(i.n0 - j.n0), abs(i.n1 - j.n1))
                               <= rt.r THEN 1 ELSE 0 END AS mb,
                     CASE WHEN GREATEST(abs(i.n0 - j.n0), abs(i.n1 - j.n1),
                                        abs(i.n2 - j.n2)) <= rt.r
                          THEN 1 ELSE 0 END AS ma
              FROM w i JOIN w j ON j.hi > i.hi CROSS JOIN rt),
    ab AS (SELECT SUM(mb)::BIGINT AS b, SUM(ma)::BIGINT AS a FROM pairs)
    SELECT rt.h AS n_hours, rt.r AS r_threshold, ab.b AS b_count,
           ab.a AS a_count,
           ROUND(ln(ab.b::DOUBLE / ab.a), 6) AS sampen
    FROM ab CROSS JOIN rt
    """,
)
def sample_entropy_hourly(spark, sf_dir):
    """Sample entropy (Richman-Moorman 2000, m=2, r = 0.2 sd) of the
    hourly event-count series — the regularity readout that
    `permutation_entropy_hourly` approximates ordinally: SampEn counts
    template matches at length 2 vs length 3 (B vs A) and reports
    ln(B/A); low values mean the series repeats its own patterns
    (strong daily structure), high values mean noise. The tolerance r
    is FLOOR(0.2 * population sd) — an exact integer threshold on
    integer counts, so every match decision is integer comparison and
    B, A are exact BIGINTs; the one ln runs on the same double in both
    engines (the tfidf ln discipline). Self-matches are excluded by
    i < j (the definition), which scales both counts by 2 and cancels
    in the ratio.

    Scale: the template and pair joins live on the calendar-bounded
    hour spine (~n^2/2 integer comparisons on a generated frame, never
    on the corpus); the corpus is touched once for the hourly
    aggregate."""
    x = _hourly_counts(spark, sf_dir)
    t = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("h"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias("s2"),
    )
    rt = t.select(
        "h",
        F.floor(
            F.lit(0.2)
            * F.sqrt(
                (
                    F.col("h") * F.col("s2").cast("double")
                    - F.col("s1").cast("double") * F.col("s1")
                )
                / (F.col("h").cast("double") * F.col("h"))
            )
        )
        .cast("bigint")
        .alias("r"),
    )
    b1 = x.select((F.col("hi") - 1).alias("hi"), F.col("n").alias("n1"))
    b2 = x.select((F.col("hi") - 2).alias("hi"), F.col("n").alias("n2"))
    w = (
        x.select("hi", F.col("n").alias("n0"))
        .join(b1, "hi")
        .join(b2, "hi")
    )
    i = w.select(
        F.col("hi").alias("hi_i"),
        F.col("n0").alias("i0"),
        F.col("n1").alias("i1"),
        F.col("n2").alias("i2"),
    )
    j = w.select(
        F.col("hi").alias("hi_j"),
        F.col("n0").alias("j0"),
        F.col("n1").alias("j1"),
        F.col("n2").alias("j2"),
    )
    pairs = i.join(j, F.col("hi_j") > F.col("hi_i")).crossJoin(
        F.broadcast(rt)
    )
    d2 = F.greatest(
        F.abs(F.col("i0") - F.col("j0")), F.abs(F.col("i1") - F.col("j1"))
    )
    d3 = F.greatest(d2, F.abs(F.col("i2") - F.col("j2")))
    ab = pairs.agg(
        F.sum(F.when(d2 <= F.col("r"), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(d3 <= F.col("r"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
    )
    out = ab.crossJoin(F.broadcast(rt))
    return out.select(
        F.col("h").alias("n_hours"),
        F.col("r").alias("r_threshold"),
        F.col("b").alias("b_count"),
        F.col("a").alias("a_count"),
        F.round(F.log(F.col("b").cast("double") / F.col("a")), 6).alias(
            "sampen"
        ),
    )


@register(
    "cooks_distance_daily",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    r AS (SELECT day, cents, row_number() OVER (ORDER BY day ASC) AS rn
          FROM d),
    s AS (SELECT COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS sy,
                 SUM(CAST(rn AS DECIMAL(38,0)) * cents) AS sxy,
                 SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS syy
          FROM r),
    f AS (SELECT n, sy,
                 n * (CAST(n AS DECIMAL(38,0)) * n - 1) / 12 AS sxxc,
                 sxy::DOUBLE - (n + 1.0) / 2.0 * sy::DOUBLE AS sxyc,
                 syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n AS syyc
          FROM s),
    g AS (SELECT n, sy, sxxc, sxyc, syyc,
                 sxyc / sxxc::DOUBLE AS b,
                 (syyc - sxyc / sxxc::DOUBLE * sxyc) / (n - 2.0) AS s2
          FROM f),
    cd AS (SELECT r.day,
                  r.cents - (g.sy::DOUBLE / g.n
                             + g.b * (r.rn - (g.n + 1.0) / 2.0)) AS e,
                  1.0 / g.n
                  + (2.0 * r.rn - g.n - 1.0) * (2.0 * r.rn - g.n - 1.0)
                    / (4.0 * g.sxxc::DOUBLE) AS h
           FROM r CROSS JOIN g),
    dd AS (SELECT day, h,
                  e * e * h / (2.0 * g.s2 * (1.0 - h) * (1.0 - h)) AS cd
           FROM cd CROSS JOIN g)
    SELECT day, ROUND(cd, 6) AS cooks_d, ROUND(h, 6) AS leverage
    FROM dd ORDER BY cd DESC, day ASC LIMIT 5
    """,
)
def cooks_distance_daily(spark, sf_dir):
    """Cook's distance (1977) of each day against the linear
    day-index trend fit of daily revenue: the five most INFLUENTIAL
    days — the regression-diagnostics companion of
    `grubbs_outlier_daily_revenue` (Grubbs prices raw extremity;
    Cook's D prices what a day DOES to the fitted trend, leverage
    included, which is what decides whether to drop it before
    forecasting). The design is the integer day index, so x-moments
    are CLOSED FORMS (sum x = n(n+1)/2, centered Sxx = n(n^2-1)/12 —
    exact DECIMAL), leverage is 1/n + (2t-n-1)^2/(4 Sxx) with an exact
    integer numerator, and slope/residuals/s^2 are fixed-order doubles
    of exact sums — identical trees in both engines, ties broken on
    the day.

    Scale: one corpus scan to the day frame; per-day D is map-side
    arithmetic against one broadcast 5-number row; top-5 is a bounded
    TakeOrdered."""
    r = daily_cents(spark, sf_dir)
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sy"),
        F.sum(F.col("rn").cast("decimal(38,0)") * F.col("cents")).alias(
            "sxy"
        ),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "syy"
        ),
    )
    n = F.col("n")
    g = s.select(
        "n",
        "sy",
        (n * (n.cast("decimal(38,0)") * n - 1) / 12).alias("sxxc"),
        (
            F.col("sxy").cast("double")
            - (n + F.lit(1.0)) / F.lit(2.0) * F.col("sy").cast("double")
        ).alias("sxyc"),
        (
            F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double") / n
        ).alias("syyc"),
    ).select(
        "n",
        "sy",
        "sxxc",
        "sxyc",
        "syyc",
        (F.col("sxyc") / F.col("sxxc").cast("double")).alias("b"),
        (
            (
                F.col("syyc")
                - F.col("sxyc")
                / F.col("sxxc").cast("double")
                * F.col("sxyc")
            )
            / (F.col("n") - F.lit(2.0))
        ).alias("s2"),
    )
    cd = r.crossJoin(F.broadcast(g)).select(
        "day",
        (
            F.col("cents")
            - (
                F.col("sy").cast("double") / F.col("n")
                + F.col("b")
                * (F.col("rn") - (F.col("n") + F.lit(1.0)) / F.lit(2.0))
            )
        ).alias("e"),
        (
            F.lit(1.0) / F.col("n")
            + (F.lit(2.0) * F.col("rn") - F.col("n") - F.lit(1.0))
            * (F.lit(2.0) * F.col("rn") - F.col("n") - F.lit(1.0))
            / (F.lit(4.0) * F.col("sxxc").cast("double"))
        ).alias("h"),
        "s2",
    )
    dd = cd.select(
        "day",
        "h",
        (
            F.col("e")
            * F.col("e")
            * F.col("h")
            / (
                F.lit(2.0)
                * F.col("s2")
                * (F.lit(1.0) - F.col("h"))
                * (F.lit(1.0) - F.col("h"))
            )
        ).alias("cd"),
    )
    return (
        dd.orderBy(F.col("cd").desc(), F.col("day").asc())
        .limit(5)
        .select("day", F.round("cd", 6).alias("cooks_d"), F.round("h", 6).alias("leverage"))
    )


@register(
    "spectral_entropy_hourly",
    f"""
    WITH {_HOURLY_SPINE_SQL},
    periods AS (SELECT unnest(range(2, 49))::INT AS period),
    tot AS (SELECT COUNT(*)::BIGINT AS t, SUM(n)::BIGINT AS s FROM x),
    trig AS (SELECT p.period,
                    SUM(CAST(round(1e9 * x.n * cos({_TWO_PI!r} * x.hi
                                                   / p.period))
                        AS DECIMAL(38,0))) AS ec,
                    SUM(CAST(round(1e9 * x.n * sin({_TWO_PI!r} * x.hi
                                                   / p.period))
                        AS DECIMAL(38,0))) AS es,
                    SUM(CAST(round(1e9 * cos({_TWO_PI!r} * x.hi / p.period))
                        AS DECIMAL(38,0))) AS sc,
                    SUM(CAST(round(1e9 * sin({_TWO_PI!r} * x.hi / p.period))
                        AS DECIMAL(38,0))) AS ss
             FROM x CROSS JOIN periods p GROUP BY p.period),
    pw AS (SELECT t.period,
                  CAST(round(
                    (t.ec::DOUBLE / 1e9
                     - (tt.s::DOUBLE / tt.t) * (t.sc::DOUBLE / 1e9))
                    * (t.ec::DOUBLE / 1e9
                       - (tt.s::DOUBLE / tt.t) * (t.sc::DOUBLE / 1e9))
                    + (t.es::DOUBLE / 1e9
                       - (tt.s::DOUBLE / tt.t) * (t.ss::DOUBLE / 1e9))
                      * (t.es::DOUBLE / 1e9
                         - (tt.s::DOUBLE / tt.t) * (t.ss::DOUBLE / 1e9)))
                    AS BIGINT) AS pwr
           FROM trig t CROSS JOIN tot tt),
    tp AS (SELECT SUM(pwr)::BIGINT AS tp FROM pw WHERE pwr > 0),
    h AS (SELECT SUM(CAST(round(1e12 * (pw.pwr::DOUBLE / tp.tp)
                                * ln(pw.pwr::DOUBLE / tp.tp))
                    AS DECIMAL(38,0))) AS hsum,
                 COUNT(*)::BIGINT AS n_periods
          FROM pw CROSS JOIN tp WHERE pw.pwr > 0),
    peak AS (SELECT period FROM pw ORDER BY pwr DESC, period ASC LIMIT 1)
    SELECT h.n_periods, peak.period AS peak_period,
           ROUND(-(h.hsum::DOUBLE) / 1e12, 6) AS spectral_entropy_nats,
           ROUND(-(h.hsum::DOUBLE) / 1e12 / ln(h.n_periods::DOUBLE), 6)
             AS spectral_entropy_norm
    FROM h CROSS JOIN peak
    """,
)
def spectral_entropy_hourly(spark, sf_dir):
    """Spectral entropy of the hourly event-count series over the
    2..48-hour period grid — ONE number for "how concentrated is the
    rhythm?" where `spectral_peak_hourly` reports four raw powers and
    `hourly_seasonality_strength` one ratio: entropy near 0 means one
    dominant cycle (a healthy daily pulse), near 1 (normalized) means
    white noise or a broken timestamp pipeline. Same nano-quantized
    trig fold as the periodogram (mean-corrected power per period,
    rounded to an exact BIGINT); shares are exact-integer ratios; each
    p*ln(p) term is pico-quantized BEFORE the fold so the 47-term sum
    is order-proof (the ljung-box femto idiom), and the one ln rides
    the tfidf discipline.

    Scale: one corpus scan to the hour spine; the trig fold is
    spine x 47 rows, generated, never corpus-grain."""
    x = _hourly_counts(spark, sf_dir)
    periods = spark.range(2, 49).select(
        F.col("id").cast("int").alias("period")
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("n").cast("bigint").alias("s"),
    )
    ang = F.lit(_TWO_PI) * F.col("hi") / F.col("period")
    trig = (
        x.crossJoin(F.broadcast(periods))
        .groupBy("period")
        .agg(
            F.sum(
                F.round(F.lit(1e9) * F.col("n") * F.cos(ang)).cast(
                    "decimal(38,0)"
                )
            ).alias("ec"),
            F.sum(
                F.round(F.lit(1e9) * F.col("n") * F.sin(ang)).cast(
                    "decimal(38,0)"
                )
            ).alias("es"),
            F.sum(F.round(F.lit(1e9) * F.cos(ang)).cast("decimal(38,0)")).alias(
                "sc"
            ),
            F.sum(F.round(F.lit(1e9) * F.sin(ang)).cast("decimal(38,0)")).alias(
                "ss"
            ),
        )
    )
    mean = F.col("s").cast("double") / F.col("t")
    re = F.col("ec").cast("double") / F.lit(1e9) - mean * (
        F.col("sc").cast("double") / F.lit(1e9)
    )
    im = F.col("es").cast("double") / F.lit(1e9) - mean * (
        F.col("ss").cast("double") / F.lit(1e9)
    )
    pw = trig.crossJoin(F.broadcast(tot)).select(
        "period", F.round(re * re + im * im).cast("bigint").alias("pwr")
    )
    tp = pw.filter(F.col("pwr") > 0).agg(
        F.sum("pwr").cast("bigint").alias("tp")
    )
    share = F.col("pwr").cast("double") / F.col("tp")
    h = (
        pw.crossJoin(F.broadcast(tp))
        .filter(F.col("pwr") > 0)
        .agg(
            F.sum(
                F.round(F.lit(1e12) * share * F.log(share)).cast(
                    "decimal(38,0)"
                )
            ).alias("hsum"),
            F.count(F.lit(1)).cast("bigint").alias("n_periods"),
        )
    )
    peak = pw.orderBy(F.col("pwr").desc(), F.col("period").asc()).limit(1)
    ent = -(F.col("hsum").cast("double")) / F.lit(1e12)
    return h.crossJoin(F.broadcast(peak.select("period"))).select(
        "n_periods",
        F.col("period").alias("peak_period"),
        F.round(ent, 6).alias("spectral_entropy_nats"),
        F.round(
            ent / F.log(F.col("n_periods").cast("double")), 6
        ).alias("spectral_entropy_norm"),
    )


@register(
    "pettitt_changepoint_daily",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    r AS (SELECT day,
                 row_number() OVER (ORDER BY day ASC) AS t,
                 2 * (RANK() OVER (ORDER BY cents ASC) - 1)
                 + COUNT(*) OVER (PARTITION BY cents) + 1 AS r2
          FROM d),
    n AS (SELECT COUNT(*)::BIGINT AS n FROM r),
    u AS (SELECT r.day, r.t,
                 2 * SUM(r.r2) OVER (ORDER BY r.t ASC)
                 - 2 * r.t * (n.n + 1) AS u2
          FROM r CROSS JOIN n),
    k AS (SELECT day, t, u2, abs(u2) AS au FROM u CROSS JOIN n
          WHERE t < n.n
          ORDER BY abs(u2) DESC, day ASC LIMIT 1)
    SELECT k.day AS changepoint_day, k.t AS t_index, n.n AS n_days,
           ROUND(k.au / 2.0, 6) AS k_stat,
           ROUND(-6.0 * (k.au / 2.0) * (k.au / 2.0)
                 / (n.n * 1.0 * n.n * n.n + n.n * 1.0 * n.n), 6)
             AS ln_p_approx
    FROM k CROSS JOIN n
    """,
)
def pettitt_changepoint_daily(spark, sf_dir):
    """Pettitt's nonparametric changepoint test (1979) on daily revenue:
    the split day t maximizing |U_t|, U_t = sum_(i<=t) sum_(j>t)
    sgn(x_i - x_j) — the RANK-based changepoint that complements
    `binseg_changepoint_daily`'s variance-based split (binseg chases
    mean shifts and is outlier-sensitive; Pettitt is a running
    Mann-Whitney, robust to the heavy daily tails). The O(n^2) double
    sum collapses to the prefix-rank identity
    U_t = 2*sum_(i<=t) R_i - t(N+1) (midranks), so with DOUBLED
    midranks U2_t = 2*sum r2 - 2t(N+1) is an EXACT integer per day and
    the argmax is integer comparison (ties to the earlier day).
    ln p ~ -6K^2/(n^3 + n^2) (Pettitt's approximation) is one
    fixed-order expression.

    Scale: one corpus scan to the day frame; the prefix scan and
    bounded TakeOrdered(1) ride the calendar spine."""
    d = daily_cents(spark, sf_dir)
    r = d.select(
        "day",
        "cents",
        F.col("rn").alias("t"),
        (
            2 * (F.rank().over(Window.orderBy(F.col("cents").asc())) - 1)
            + F.count(F.lit(1)).over(Window.partitionBy("cents"))
            + 1
        ).alias("r2"),
    )
    n = r.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    u = (
        r.crossJoin(F.broadcast(n))
        .withColumn(
            "cum2", F.sum("r2").over(Window.orderBy(F.col("t").asc()))
        )
        .select(
            "day",
            "t",
            "n",
            (2 * F.col("cum2") - 2 * F.col("t") * (F.col("n") + 1)).alias(
                "u2"
            ),
        )
        .filter(F.col("t") < F.col("n"))
    )
    k = (
        u.withColumn("au", F.abs(F.col("u2")))
        .orderBy(F.col("au").desc(), F.col("day").asc())
        .limit(1)
    )
    ks = F.col("au") / F.lit(2.0)
    nn = F.col("n") * F.lit(1.0)
    return k.select(
        F.col("day").alias("changepoint_day"),
        F.col("t").alias("t_index"),
        F.col("n").alias("n_days"),
        F.round(ks, 6).alias("k_stat"),
        F.round(
            F.lit(-6.0) * ks * ks / (nn * F.col("n") * F.col("n") + nn * F.col("n")),
            6,
        ).alias("ln_p_approx"),
    )


@register(
    "cox_stuart_trend_daily",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    r AS (SELECT cents, row_number() OVER (ORDER BY day ASC) AS t FROM d),
    n AS (SELECT COUNT(*)::BIGINT AS n, (COUNT(*) // 2)::BIGINT AS h
          FROM r),
    p AS (SELECT a.cents AS x1, b.cents AS x2
          FROM r a CROSS JOIN n
          JOIN r b ON b.t = a.t + n.h + (n.n % 2)
          WHERE a.t <= n.h),
    s AS (SELECT SUM(CASE WHEN x2 > x1 THEN 1 ELSE 0 END)::BIGINT AS plus,
                 SUM(CASE WHEN x2 < x1 THEN 1 ELSE 0 END)::BIGINT AS minus
          FROM p)
    SELECT plus AS n_plus, minus AS n_minus,
           ROUND((plus - (plus + minus) / 2.0)
                 / sqrt((plus + minus) / 4.0), 6) AS z_cox_stuart
    FROM s
    """,
)
def cox_stuart_trend_daily(spark, sf_dir):
    """Cox-Stuart sign test for trend (1955) on daily revenue: pair day
    t with day t + n/2 and sign-test the second-half-vs-first-half
    comparisons — the assumption-free trend verdict that needs no
    ranks at all (`mann_kendall_daily_trend` uses all O(n^2) pair
    information; Cox-Stuart uses n/2 independent signs — weaker but
    exactly binomial and robust to ANY marginal distribution; classic
    as the quick first look). Ties drop out (the conditional sign
    test); z is the half-corrected... plain normal approximation of
    Bin(m, 1/2) in one fixed-order expression of two exact counts.

    Scale: one corpus scan to the day frame; the pairing is a single
    rn-offset equi-join on the calendar spine."""
    r = daily_cents(spark, sf_dir).select(F.col("rn").alias("t"), "cents")
    n = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.floor(F.count(F.lit(1)) / 2).cast("bigint").alias("h"),
    )
    b = r.select(F.col("t").alias("tb"), F.col("cents").alias("x2"))
    p = (
        r.crossJoin(F.broadcast(n))
        .filter(F.col("t") <= F.col("h"))
        .join(
            b,
            F.col("tb")
            == F.col("t") + F.col("h") + F.col("n") % 2,
        )
        .select(F.col("cents").alias("x1"), "x2")
    )
    s = p.agg(
        F.sum(F.when(F.col("x2") > F.col("x1"), 1).otherwise(0))
        .cast("bigint")
        .alias("plus"),
        F.sum(F.when(F.col("x2") < F.col("x1"), 1).otherwise(0))
        .cast("bigint")
        .alias("minus"),
    )
    m = F.col("plus") + F.col("minus")
    return s.select(
        F.col("plus").alias("n_plus"),
        F.col("minus").alias("n_minus"),
        F.round(
            (F.col("plus") - m / F.lit(2.0)) / F.sqrt(m / F.lit(4.0)), 6
        ).alias("z_cox_stuart"),
    )


@register(
    "turning_points_daily",
    f"""
    WITH d AS ({_DAILY_CENTS_SQL}),
    r AS (SELECT cents, row_number() OVER (ORDER BY day ASC) AS t FROM d),
    w AS (SELECT a.cents AS x0, b.cents AS x1, c.cents AS x2
          FROM r a JOIN r b ON b.t = a.t + 1 JOIN r c ON c.t = a.t + 2),
    s AS (SELECT SUM(CASE WHEN (x1 > x0 AND x1 > x2)
                            OR (x1 < x0 AND x1 < x2)
                          THEN 1 ELSE 0 END)::BIGINT AS tp
          FROM w),
    n AS (SELECT COUNT(*)::BIGINT AS n FROM r)
    SELECT n.n AS n_days, s.tp AS n_turning_points,
           ROUND(2.0 * (n.n - 2.0) / 3.0, 6) AS expected_tp,
           ROUND((s.tp - 2.0 * (n.n - 2.0) / 3.0)
                 / sqrt((16.0 * n.n - 29.0) / 90.0), 6) AS z_turning
    FROM s CROSS JOIN n
    """,
)
def turning_points_daily(spark, sf_dir):
    """Turning-points test for randomness (Kendall) on daily revenue:
    count local peaks and troughs among interior days; under i.i.d.
    data E[T] = 2(n-2)/3 and Var = (16n-29)/90 — the third member of
    the randomness battery (`runs_test_daily_revenue` sees the median
    split, `bartels_rank_daily_revenue` sees rank autocorrelation;
    turning points see local oscillation — too FEW means momentum,
    too MANY means alternation). The count is exact integer comparison
    over two rn-offset equi-joins on the calendar spine (strict
    inequalities: flat triples are not turning points — the standard
    convention, stated so both engines and the brute model agree); z
    is one fixed-order expression of exact numbers.

    Scale: one corpus scan to the day frame; two bounded spine joins."""
    r = daily_cents(spark, sf_dir).select(F.col("rn").alias("t"), "cents")
    b = r.select((F.col("t") - 1).alias("t"), F.col("cents").alias("x1"))
    c = r.select((F.col("t") - 2).alias("t"), F.col("cents").alias("x2"))
    w = r.select("t", F.col("cents").alias("x0")).join(b, "t").join(c, "t")
    s = w.agg(
        F.sum(
            F.when(
                (
                    (F.col("x1") > F.col("x0")) & (F.col("x1") > F.col("x2"))
                )
                | (
                    (F.col("x1") < F.col("x0")) & (F.col("x1") < F.col("x2"))
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp")
    )
    n = r.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = s.crossJoin(F.broadcast(n))
    nn = F.col("n") * F.lit(1.0)
    etp = F.lit(2.0) * (nn - F.lit(2.0)) / F.lit(3.0)
    return j.select(
        F.col("n").alias("n_days"),
        F.col("tp").alias("n_turning_points"),
        F.round(etp, 6).alias("expected_tp"),
        F.round(
            (F.col("tp") - etp)
            / F.sqrt((F.lit(16.0) * nn - F.lit(29.0)) / F.lit(90.0)),
            6,
        ).alias("z_turning"),
    )
