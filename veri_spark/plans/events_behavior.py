"""User-behavior analytics: sessions, funnels, cohorts, RFM, LTV, Markov.

Split from plans/events.py (round-6 hygiene, module kept under 2,500 lines);
every (PySpark program, DuckDB oracle) pair is unchanged and
registers into ``plans._base.QUERIES``/``ORACLES`` at import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from veri_spark.functions import vector as V  # noqa: F401
from veri_spark.functions.literals import literal_map
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
    fan_parallel,
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
    "events_sessionize",
    """
    WITH o AS (SELECT user_id, ts,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM events),
    f AS (SELECT user_id,
                 CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM o)
    SELECT user_id, SUM(new_s)::BIGINT AS n_sessions FROM f GROUP BY user_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Session windows (30-minute inactivity gap) per user — the batch form
    of streaming/windows.session_window_agg; the oracle is the classic
    gaps-and-islands formulation."""
    from veri_spark.streaming.windows import session_window_agg

    ev = load_table(spark, sf_dir, "events")
    sessions = session_window_agg(ev, gap="30 minutes", group_cols=("user_id",))
    return sessions.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_sessions"))


@register(
    "events_session_bounds",
    """
    SELECT DISTINCT user_id,
           first_value(event_id) OVER w AS first_event,
           last_value(event_id)  OVER w AS last_event,
           COUNT(*) OVER w AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def events_session_bounds(spark, sf_dir):
    """first_value / last_value over an unbounded frame: each user's first
    and last event id plus their event count (one row per user via
    DISTINCT; the window and distinct share the user_id partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(w).alias("last_event"),
        F.count(F.lit(1)).over(w).alias("n_events"),
    ).distinct()


@register(
    "event_funnel_steps",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS tv FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS tc FROM events e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id),
    p AS (SELECT e.user_id FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v)::BIGINT AS n_view,
           (SELECT COUNT(*) FROM c)::BIGINT AS n_view_click,
           (SELECT COUNT(*) FROM p)::BIGINT AS n_full_funnel
    """,
)
def event_funnel_steps(spark, sf_dir):
    """Ordered three-step funnel (view -> later click -> later purchase),
    counted by users reaching each stage. Each stage is a per-user MIN
    aggregate joined to the next stage's filtered events — three shuffles,
    all keyed on user_id so a co-partitioned events table reuses one
    exchange; per-user state is a single timestamp, never an event list
    (the sessionize-then-sort formulation would sort every user's full
    history)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("tc"))
        .select("user_id")
        .distinct()
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_view_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_full_funnel"))
    return nv.crossJoin(nc).crossJoin(np_)


@register(
    "user_retention_cohorts",
    """
    WITH wk AS (SELECT DISTINCT user_id,
                       date_trunc('week', ts)::TIMESTAMP AS w FROM events),
    cohort AS (SELECT user_id, MIN(w) AS c FROM wk GROUP BY user_id)
    SELECT cohort.c AS cohort_week,
           (date_diff('day', cohort.c, wk.w) / 7)::BIGINT AS week_offset,
           COUNT(*)::BIGINT AS n_active
    FROM wk JOIN cohort ON wk.user_id = cohort.user_id
    GROUP BY 1, 2
    """,
)
def user_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-active week, and
    for each later week-offset how many of that cohort were active — the
    engagement table every growth dashboard is built on. (user, week)
    pairs are pre-distinct'd so a user's event volume never inflates the
    join; the cohort side is one MIN per user. Both shuffles key on
    user_id (co-partitioned input reuses one exchange); counts are exact
    integers so the oracle comparison is rounding-free."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    cohort = wk.groupBy("user_id").agg(F.min("w").alias("c"))
    return (
        wk.join(cohort, "user_id")
        .groupBy(
            F.col("c").alias("cohort_week"),
            (F.datediff(F.col("w"), F.col("c")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )


@register(
    "user_decay_scores",
    """
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
         t AS (SELECT user_id,
                      FLOOR(1000000 * exp(-(epoch(mx.m) - epoch(ts)) / 86400.0)
                            + 0.5)::BIGINT AS w
               FROM events, mx)
    SELECT user_id, COUNT(*)::BIGINT AS n_events,
           SUM(w)::BIGINT AS decay_micro
    FROM t GROUP BY user_id
    ORDER BY decay_micro DESC, user_id ASC LIMIT 20
    """,
)
def user_decay_scores(spark, sf_dir):
    """Recency-weighted activity score: each event contributes
    exp(-age/1d) relative to the corpus's newest event, the standard
    time-decay weighting for freshness-aware ranking and retention
    scoring. Each term is rounded to integer micro-units BEFORE the sum,
    so the aggregate is summation-order-proof across engines. The max
    timestamp is a one-row broadcast; scoring is map-side; one
    partial-aggregated groupBy then a bounded top-20."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m"))
    age = F.col("m").cast("timestamp").cast("double") - F.col("ts").cast(
        "timestamp"
    ).cast("double")
    t = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.floor(1000000 * F.exp(-age / 86400.0) + 0.5).cast("bigint").alias("w"),
    )
    scored = t.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("w").cast("bigint").alias("decay_micro"),
    )
    return scored.orderBy(
        F.col("decay_micro").desc(), F.col("user_id").asc()
    ).limit(20)


@register(
    "event_rate_limit",
    """
    WITH r AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events)
    SELECT event_type, COUNT(*)::BIGINT AS total,
           SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END)::BIGINT AS kept,
           SUM(CASE WHEN rn > 3 THEN 1 ELSE 0 END)::BIGINT AS dropped
    FROM r GROUP BY event_type
    """,
)
def event_rate_limit(spark, sf_dir):
    """Per-user token-bucket rate limiting, batch form: keep the first 3
    events per (user, clock-hour), report kept/dropped per type — the
    ingest-throttling / abuse-damping primitive a serving layer needs in
    front of a 100 TB event store. One shuffle on (user_id, hour) for the
    row_number (high-cardinality composite key, so no skew hot-spot even
    for a heavy user — their traffic splits across hours), one partial
    agg on event_type."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.date_trunc("hour", "ts")).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    r = ev.select("event_type", F.row_number().over(w).alias("rn"))
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("total"),
        F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0)).cast("bigint").alias("kept"),
        F.sum(F.when(F.col("rn") > 3, 1).otherwise(0)).cast("bigint").alias("dropped"),
    )


@register(
    "event_run_lengths",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts ASC, event_id ASC) AS rt
      FROM events),
    runs AS (
      SELECT user_id, event_type, rn - rt AS grp,
             COUNT(*)::BIGINT AS run_len, MIN(ts) AS run_start
      FROM o GROUP BY 1, 2, 3)
    SELECT user_id, event_type, run_len, run_start
    FROM runs
    ORDER BY run_len DESC, user_id ASC, run_start ASC, event_type ASC
    LIMIT 20
    """,
)
def event_run_lengths(spark, sf_dir):
    """Gaps-and-islands run-length encoding: the 20 longest streaks of a
    user emitting the same event_type consecutively — behavioral-loop
    detection (bot bursts, rage-clicks) expressed as the classic
    rn - rn_per_type group constant. Both row_numbers partition on
    user_id (the second adds event_type), so the heavy sort happens once
    per key family; the run aggregation is partial-combined; top-k is
    bounded with a total deterministic tie-break."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    o = ev.select(
        "user_id",
        "event_type",
        "ts",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
    )
    runs = o.groupBy("user_id", "event_type", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len"),
        F.min("ts").alias("run_start"),
    )
    return (
        runs.select("user_id", "event_type", "run_len", "run_start")
        .orderBy(
            F.col("run_len").desc(),
            F.col("user_id").asc(),
            F.col("run_start").asc(),
            F.col("event_type").asc(),
        )
        .limit(20)
    )



# ---------------------------------------------------------------------------
# Round-4 batch 2: behavioral modeling, sparse similarity, feature audits
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC) AS nxt
      FROM events),
    t AS (SELECT event_type AS cur, nxt FROM o WHERE nxt IS NOT NULL),
    c AS (SELECT cur, nxt, COUNT(*)::BIGINT AS n FROM t GROUP BY cur, nxt),
    tot AS (SELECT cur, SUM(n) AS tn FROM c GROUP BY cur)
    SELECT c.cur, c.nxt, c.n,
           ROUND(c.n / tot.tn, 6) AS p
    FROM c JOIN tot USING (cur)
    ORDER BY cur ASC, nxt ASC
    """,
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    P(next_type | current_type) — the behavioral model behind next-action
    prediction and funnel-drop analysis. One shuffle on user_id for the
    lead() ordering, then a |types|^2-row aggregate (partial-combined);
    the denominator join is a broadcast of a |types|-row table. At 100 TB
    the per-user sort is the only real cost and rides a single exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    o = ev.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = o.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = c.groupBy("cur").agg(F.sum("n").alias("tn"))
    return (
        c.join(F.broadcast(tot), "cur")
        .select("cur", "nxt", "n", F.round(F.col("n") / F.col("tn"), 6).alias("p"))
        .orderBy(F.col("cur").asc(), F.col("nxt").asc())
    )


@register(
    "user_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*)::DOUBLE AS n
      FROM events GROUP BY user_id, event_type),
    t AS (SELECT user_id, SUM(n) AS tn FROM c GROUP BY user_id),
    h AS (
      SELECT c.user_id,
             -SUM((c.n / t.tn) * ln(c.n / t.tn) / ln(2)) AS ent,
             MAX(t.tn) AS n_events
      FROM c JOIN t USING (user_id) GROUP BY c.user_id)
    SELECT user_id, ROUND(ent, 6) AS entropy_bits,
           n_events::BIGINT AS n_events
    FROM h
    ORDER BY entropy_bits DESC, user_id ASC LIMIT 25
    """,
)
def user_entropy(spark, sf_dir):
    """Behavioral diversity score: Shannon entropy (bits) of each user's
    event-type distribution, top-25 most-diverse users — bot/power-user
    triage reads this (uniform behavior = high entropy, single-action
    automation = 0). Two partial-aggregated shuffles on user_id (the
    second reuses the first's partitioning) and a bounded top-k. The
    -sum(p ln p) terms are accumulated per (user,type) BEFORE the group
    sum, so the entropy is an order-insensitive aggregate."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    t = c.groupBy("user_id").agg(F.sum("n").alias("tn"))
    h = (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            (-F.sum((F.col("n") / F.col("tn")) * F.log(F.col("n") / F.col("tn")) / F.log(F.lit(2.0)))).alias("ent"),
            F.max("tn").alias("n_events"),
        )
    )
    return (
        h.select(
            "user_id",
            F.round("ent", 6).alias("entropy_bits"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy(F.col("entropy_bits").desc(), F.col("user_id").asc())
        .limit(25)
    )


@register(
    "session_conversion",
    """
    WITH o AS (
      SELECT user_id, ts, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (
      SELECT user_id, ts, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
    agg AS (
      SELECT user_id, sid, MIN(ts) AS session_start,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
      FROM s GROUP BY user_id, sid)
    SELECT hour(session_start)::BIGINT AS start_hour,
           COUNT(*)::BIGINT AS n_sessions,
           SUM(CASE WHEN first_view IS NOT NULL AND last_purchase >= first_view
                    THEN 1 ELSE 0 END)::BIGINT AS n_converted,
           ROUND(SUM(CASE WHEN first_view IS NOT NULL AND last_purchase >= first_view
                          THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS conversion_rate
    FROM agg GROUP BY 1 ORDER BY start_hour ASC
    """,
)
def session_conversion(spark, sf_dir):
    """View-to-purchase conversion at SESSION grain by start hour: a
    session (30-min inactivity gap, same definition `events_sessionize`
    proves against the gaps-and-islands oracle) converts when it contains
    a purchase at-or-after its first view. Spark side uses the native
    session_window aggregation — per-session conditional mins/maxes in ONE
    user_id exchange — against the oracle's lag/cumsum islands
    formulation; identical session boundaries, independently derived."""
    from veri_spark.streaming.windows import ensure_event_time

    ev = ensure_event_time(load_table(spark, sf_dir, "events"))
    agg = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
        )
    )
    conv = F.when(
        F.col("first_view").isNotNull()
        & (F.col("last_purchase") >= F.col("first_view")),
        1,
    ).otherwise(0)
    return (
        agg.groupBy(F.hour("session_start").cast("bigint").alias("start_hour"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum(conv).cast("bigint").alias("n_converted"),
            F.round(
                F.sum(conv).cast("double") / F.count(F.lit(1)), 6
            ).alias("conversion_rate"),
        )
        .orderBy(F.col("start_hour").asc())
    )


@register(
    "event_path_trigrams",
    """
    WITH o AS (
      SELECT user_id, event_type AS a,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts ASC, event_id ASC) AS b,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts ASC, event_id ASC) AS c
      FROM events)
    SELECT a, b, c, COUNT(*)::BIGINT AS n
    FROM o WHERE b IS NOT NULL AND c IS NOT NULL
    GROUP BY a, b, c
    ORDER BY n DESC, a ASC, b ASC, c ASC LIMIT 15
    """,
)
def event_path_trigrams(spark, sf_dir):
    """Top 3-step behavioral paths across user streams — the clickstream
    pattern-mining grain one up from `event_transition_matrix`'s bigram
    probabilities (paths expose the funnel orderings a first-order chain
    cannot). Both lead() offsets ride ONE user_id exchange and one sort;
    the path aggregate is |types|^3-bounded and partial-combined."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    o = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    return (
        o.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc(), F.col("c").asc())
        .limit(15)
    )



# ---------------------------------------------------------------------------
# Round-4 batch 7: windowed top-k, concentration (Gini), independence audit
# ---------------------------------------------------------------------------


@register(
    "session_first_touch",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts ASC, event_id ASC)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
    agg AS (
      SELECT user_id, sid,
             MIN(ts) AS t0,
             arg_min(event_type, ts || '|' || lpad(event_id::VARCHAR, 12, '0')) AS first_type,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM s GROUP BY user_id, sid)
    SELECT first_type,
           COUNT(*)::BIGINT AS n_sessions,
           SUM(converted)::BIGINT AS n_converted,
           ROUND(SUM(converted)::DOUBLE / COUNT(*), 6) AS conversion_rate
    FROM agg GROUP BY first_type ORDER BY first_type ASC
    """,
)
def session_first_touch(spark, sf_dir):
    """First-touch attribution at session grain: sessions bucketed by
    their FIRST event type, with purchase-conversion rate per bucket —
    which entry action starts the sessions that convert
    (`session_conversion` slices the same sessions by start hour; this
    slices by entry action). The first-type argmin and the converted
    flag ride the same per-session aggregate; the deterministic
    first-event rule is (ts, event_id) lexicographic in BOTH engines."""
    from veri_spark.streaming.windows import ensure_event_time

    ev = ensure_event_time(load_table(spark, sf_dir, "events"))
    agg = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min_by(
                "event_type",
                F.concat(
                    F.col("ts").cast("string"),
                    F.lit("|"),
                    F.lpad(F.col("event_id").cast("string"), 12, "0"),
                ),
            ).alias("first_type"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
        )
    )
    return (
        agg.groupBy("first_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.round(
                F.sum("converted").cast("double") / F.count(F.lit(1)), 6
            ).alias("conversion_rate"),
        )
        .orderBy(F.col("first_type").asc())
    )


@register(
    "markov_prediction_accuracy",
    """
    WITH o AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC) AS nxt
      FROM events),
    t AS (SELECT user_id, cur, nxt FROM o WHERE nxt IS NOT NULL),
    trc AS (SELECT cur, nxt, COUNT(*)::BIGINT AS n
            FROM t WHERE user_id % 2 = 0 GROUP BY cur, nxt),
    pred AS (
      SELECT cur, nxt AS predicted_next,
             row_number() OVER (PARTITION BY cur ORDER BY n DESC, nxt ASC) AS r
      FROM trc),
    p AS (SELECT cur, predicted_next FROM pred WHERE r = 1),
    ev AS (SELECT cur, nxt FROM t WHERE user_id % 2 = 1)
    SELECT ev.cur, p.predicted_next,
           COUNT(*)::BIGINT AS n_eval,
           SUM(CASE WHEN ev.nxt = p.predicted_next THEN 1 ELSE 0 END)::BIGINT
             AS n_hit,
           ROUND(SUM(CASE WHEN ev.nxt = p.predicted_next THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS accuracy
    FROM ev JOIN p USING (cur)
    GROUP BY ev.cur, p.predicted_next
    ORDER BY ev.cur ASC
    """,
)
def markov_prediction_accuracy(spark, sf_dir):
    """Next-event prediction eval for the first-order Markov model
    (`event_transition_matrix` is the model; this is its scorecard):
    train the argmax-next-type predictor on even user_ids, measure hit
    rate on odd users' transitions, per current type. The user-hash
    train/eval split keeps each user's event chain intact (splitting
    within a chain would fabricate transitions); transitions are one
    lead() window per side of the same shuffle, the model is a
    |types|^2 aggregate, and scoring is a broadcast join of the
    |types|-row predictor against pre-aggregated eval transitions.
    Prediction ties break on the lexicographically smaller type —
    deterministic in both engines. Eval transitions whose current type
    never occurs in training drop out (inner join, documented)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    t = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trc = (
        t.filter(F.col("user_id") % 2 == 0)
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wr = Window.partitionBy("cur").orderBy(F.col("n").desc(), F.col("nxt").asc())
    p = (
        trc.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select("cur", F.col("nxt").alias("predicted_next"))
    )
    evl = t.filter(F.col("user_id") % 2 == 1).select("cur", "nxt")
    hit = F.when(F.col("nxt") == F.col("predicted_next"), 1).otherwise(0)
    return (
        evl.join(F.broadcast(p), "cur")
        .groupBy("cur", "predicted_next")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(hit).cast("bigint").alias("n_hit"),
            F.round(F.sum(hit).cast("double") / F.count(F.lit(1)), 6).alias(
                "accuracy"
            ),
        )
        .orderBy(F.col("cur").asc())
    )


@register(
    "user_rfm_segments",
    """
    WITH mx AS (SELECT MAX(ts) AS now FROM events),
    u AS (
      SELECT user_id,
             date_diff('second', MAX(ts), ANY_VALUE(mx.now)) AS rec_sec,
             COUNT(*)::BIGINT AS freq,
             SUM(value) AS mon
      FROM events CROSS JOIN mx
      GROUP BY user_id),
    s AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY rec_sec ASC, user_id ASC) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, user_id ASC) AS f_score,
             ntile(5) OVER (ORDER BY mon DESC, user_id ASC) AS m_score
      FROM u)
    SELECT r_score, f_score, m_score, COUNT(*)::BIGINT AS n_users
    FROM s
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def user_rfm_segments(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary quintiles) of the
    user base — the classic behavioral cohorting that drives retention
    targeting, here as the segment-size matrix. Per-user metrics are one
    partial-aggregated shuffle over the stream; quintile scores are
    three DISTRIBUTED global ranks over the USER table (already
    N/|users| smaller than the stream) turned into ntile buckets
    arithmetically — ``global_row_number`` range-partitions on each
    (metric, user_id) total order and ``ntile_from_rank`` reproduces
    SQL ntile's leftover-bucket split bit-for-bit from (rank, total),
    so NO unpartitioned window (whole-frame-to-one-task) appears
    anywhere in the plan (round-7 judge task: |users| GROWS with the
    data, so the previous three ``ntile(5)`` global windows were a
    serialization point at 100x). The (metric, user_id) orders are
    total (user_id is unique), so bucket boundaries stay deterministic;
    the output is the <=125-row segment census."""
    from veri_spark.operators.ranking import global_row_number, ntile_from_rank

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now"))
    u = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            (F.unix_timestamp(F.max("now")) - F.unix_timestamp(F.max("ts"))).alias(
                "rec_sec"
            ),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("value").alias("mon"),
        )
    )
    tot = u.agg(F.count(F.lit(1)).cast("bigint").alias("__tot"))
    g = u.crossJoin(F.broadcast(tot))
    g = global_row_number(
        g, [F.col("rec_sec").asc(), F.col("user_id").asc()], rn_col="__rn_r"
    )
    g = global_row_number(
        g, [F.col("freq").desc(), F.col("user_id").asc()], rn_col="__rn_f"
    )
    g = global_row_number(
        g, [F.col("mon").desc(), F.col("user_id").asc()], rn_col="__rn_m"
    )
    s = g.select(
        ntile_from_rank(F.col("__rn_r"), F.col("__tot"), 5).alias("r_score"),
        ntile_from_rank(F.col("__rn_f"), F.col("__tot"), 5).alias("f_score"),
        ntile_from_rank(F.col("__rn_m"), F.col("__tot"), 5).alias("m_score"),
    )
    return (
        s.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "session_survival_curve",
    """
    WITH o AS (SELECT user_id, ts, event_id,
                      lag(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev
               FROM events),
    f AS (SELECT user_id, ts, event_id,
                 CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM o),
    s AS (SELECT user_id, ts, event_id,
                 SUM(new_s) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS sess
          FROM f),
    ln AS (SELECT user_id, sess, COUNT(*)::BIGINT AS len
           FROM s GROUP BY user_id, sess),
    tot AS (SELECT COUNT(*)::DOUBLE AS n FROM ln),
    k AS (SELECT unnest(range(1, 11)) AS k)
    SELECT k.k::INTEGER AS k,
           SUM(CASE WHEN ln.len >= k.k THEN 1 ELSE 0 END)::BIGINT AS n_surviving,
           ROUND(SUM(CASE WHEN ln.len >= k.k THEN 1 ELSE 0 END)
                 / ANY_VALUE(tot.n), 6) AS survival
    FROM ln CROSS JOIN k CROSS JOIN tot
    GROUP BY k.k
    ORDER BY k.k ASC
    """,
)
def session_survival_curve(spark, sf_dir):
    """Session-depth survival curve: P(session reaches >= k events) for
    k = 1..10 — the engagement-depth distribution product teams read
    before deciding where a funnel loses people, and the
    discrete-survival shape (one minus the CDF) any duration analysis
    uses. Sessions are the same 30-minute-gap islands as
    `events_sessionize` (lag + running flag-sum on one user-keyed
    shuffle); session lengths are one aggregate; the curve is a
    broadcast of 10 thresholds against the session-length table with
    the count riding the threshold key — the events stream is read
    once."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # full-precision gap compare: NTZ subtraction yields a day-time
    # interval, compared against the literal — unix_timestamp() TRUNCATES
    # sub-second parts and split one 1799.x-s gap differently at sf0.1
    new_s = F.when(
        F.col("prev").isNull()
        | ((F.col("ts") - F.col("prev")) >= F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    s = (
        ev.select("user_id", "ts", "event_id", F.lag("ts").over(w).alias("prev"))
        .select("user_id", "ts", "event_id", new_s.alias("new_s"))
        .select(
            "user_id",
            F.sum("new_s")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("sess"),
        )
    )
    ln = s.groupBy("user_id", "sess").agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    tot = ln.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    surv = F.sum(F.when(F.col("len") >= F.col("k"), 1).otherwise(0))
    return (
        ln.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            surv.cast("bigint").alias("n_surviving"),
            F.round(surv / F.max("n"), 6).alias("survival"),
        )
        .orderBy(F.col("k").asc())
    )


@register(
    "event_type_cooccurrence_lift",
    """
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    nu AS (SELECT COUNT(DISTINCT user_id)::DOUBLE AS n FROM events),
    s AS (SELECT event_type, COUNT(*)::DOUBLE AS n FROM u GROUP BY event_type),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*)::BIGINT AS n_both
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.n_both,
           ROUND(p.n_both * ANY_VALUE(nu.n) / (sa.n * sb.n), 6) AS lift
    FROM p
    JOIN s sa ON sa.event_type = p.type_a
    JOIN s sb ON sb.event_type = p.type_b
    CROSS JOIN nu
    GROUP BY p.type_a, p.type_b, p.n_both, sa.n, sb.n
    ORDER BY p.type_a ASC, p.type_b ASC
    """,
)
def event_type_cooccurrence_lift(spark, sf_dir):
    """User-grain behavior co-occurrence: for each unordered pair of event
    types, how many users exhibit BOTH, and the lift against
    independence — the segmentation signal `event_transition_matrix`
    cannot give (transitions are adjacent and ordered; this is
    whole-history and unordered, e.g. 'users who ever purchase also
    ever error?'). The self-join is on user_id over the DISTINCT
    (user, type) projection, so fan-out is bounded by |types|^2 per
    user — the basket-quadratic shape of `copurchase_top_pairs` with
    users as baskets; supports broadcast. Output is the full
    |types|-choose-2 matrix, deterministic integer counts and
    ratio-of-integers lift."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct().persist()
    nu = ev.agg(F.countDistinct("user_id").cast("double").alias("n"))
    s = u.groupBy("event_type").agg(F.count(F.lit(1)).cast("double").alias("n"))
    a = u.select("user_id", F.col("event_type").alias("type_a"))
    b = u.select("user_id", F.col("event_type").alias("type_b"))
    p = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    return (
        p.join(
            F.broadcast(s.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))),
            "type_a",
        )
        .join(
            F.broadcast(s.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))),
            "type_b",
        )
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(F.col("n_both") * F.col("n") / (F.col("na") * F.col("nb")), 6).alias(
                "lift"
            ),
        )
        .orderBy(F.col("type_a").asc(), F.col("type_b").asc())
    )


@register(
    "cohort_spend_ltv",
    """
    WITH fw AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
                FROM events GROUP BY user_id),
    cs AS (SELECT cohort, COUNT(*)::DOUBLE AS cohort_users FROM fw GROUP BY cohort),
    act AS (
      SELECT fw.cohort,
             CAST(date_diff('week', fw.cohort, date_trunc('week', e.ts)) AS INTEGER)
               AS offset_w,
             SUM(CAST(e.value AS DECIMAL(18,2))) AS spend
      FROM events e JOIN fw ON fw.user_id = e.user_id
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort, offset_w,
             SUM(spend) OVER (PARTITION BY cohort ORDER BY offset_w ASC) AS cum_spend
      FROM act)
    SELECT c.cohort::DATE AS cohort_week, c.offset_w,
           ROUND(c.cum_spend::DOUBLE / cs.cohort_users, 2) AS ltv_per_user
    FROM cum c JOIN cs ON cs.cohort = c.cohort
    WHERE c.offset_w <= 8
    ORDER BY cohort_week ASC, offset_w ASC
    """,
)
def cohort_spend_ltv(spark, sf_dir):
    """Cohort LTV triangle: cumulative value per user by first-active week
    and weeks-since — the MONETARY companion of `user_retention_cohorts`
    (that one counts who comes back; this measures what they're worth,
    which is what acquisition-spend decisions actually read). First-week
    assignment is one MIN per user; per-(cohort, offset) spend is one
    partial-aggregated rollup of the cohort-joined stream; the
    cumulative sum runs on the cohort x offset triangle (span-sized,
    tiny). Output truncated to offsets 0..8 for a stable triangle;
    per-user normalization divides by the FULL cohort size, so the
    curve reads as expected-LTV, not survivor-LTV."""
    ev = load_table(spark, sf_dir, "events")
    fw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    cs = fw.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("double").alias("cohort_users")
    )
    act = (
        ev.join(fw, "user_id")
        .groupBy(
            "cohort",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort")) / 7
                )
            )
            .cast("int")
            .alias("offset_w"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("spend"))
    )
    w = Window.partitionBy("cohort").orderBy(F.col("offset_w").asc())
    cum = act.select(
        "cohort",
        "offset_w",
        # decimal cumulative sum is exact; the single double division below
        # is then identical in both engines (round-6 determinism sweep)
        F.sum("spend").over(w).cast("double").alias("cum_spend"),
    )
    return (
        cum.join(F.broadcast(cs), "cohort")
        .filter(F.col("offset_w") <= 8)
        .select(
            F.col("cohort").cast("date").alias("cohort_week"),
            "offset_w",
            F.round(F.col("cum_spend") / F.col("cohort_users"), 2).alias(
                "ltv_per_user"
            ),
        )
        .orderBy(F.col("cohort_week").asc(), F.col("offset_w").asc())
    )


@register(
    "churn_labels_future_window",
    """
    WITH wk AS (
      SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week_start
      FROM events),
    mx AS (SELECT date_trunc('week', MAX(ts))::DATE AS max_week FROM events),
    nx AS (
      SELECT user_id, week_start,
             lead(week_start) OVER (PARTITION BY user_id
                                    ORDER BY week_start ASC) AS next_week
      FROM wk),
    lab AS (
      SELECT n.user_id, n.week_start,
             CASE WHEN n.next_week IS NULL
                       OR date_diff('day', n.week_start, n.next_week) >= 21
                  THEN 1 ELSE 0 END AS churned
      FROM nx n CROSS JOIN mx
      -- right-censor guard: the 14-day future window must close inside
      -- the observation span, or the label is undefined, not negative
      WHERE date_diff('day', n.week_start, mx.max_week) >= 21)
    SELECT week_start,
           COUNT(*)::BIGINT AS n_active_users,
           SUM(churned)::BIGINT AS n_churned,
           ROUND(SUM(churned) / COUNT(*), 6) AS churn_rate
    FROM lab GROUP BY week_start ORDER BY week_start ASC
    """,
)
def churn_labels_future_window(spark, sf_dir):
    """Leakage-safe churn-label construction: for every (user, active
    week), label churned iff the user has NO event in the 14 days after
    the week ends — the future-window label every retention model trains
    on, built at week granularity so one lead() over each user's distinct
    active weeks decides it exactly (next activity >= week_start+21 days
    ⟺ silent through week_end+14). The subtle correctness detail this
    query exists to demonstrate is RIGHT-CENSORING: weeks whose future
    window extends past the end of observed data are excluded, not
    labeled negative — the classic silent bias in churn training sets.
    One distinct pass, one user-partitioned window, integer day
    arithmetic throughout; churn_rate is one division of identical
    BIGINTs."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
    ).distinct()
    mx = ev.agg(
        F.date_trunc("week", F.max("ts")).cast("date").alias("max_week")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("week_start").asc())
    nx = wk.select(
        "user_id",
        "week_start",
        F.lead("week_start").over(w).alias("next_week"),
    )
    lab = (
        nx.crossJoin(F.broadcast(mx))
        .filter(F.datediff(F.col("max_week"), F.col("week_start")) >= 21)
        .select(
            "week_start",
            F.when(
                F.col("next_week").isNull()
                | (F.datediff(F.col("next_week"), F.col("week_start")) >= 21),
                1,
            )
            .otherwise(0)
            .alias("churned"),
        )
    )
    return (
        lab.groupBy("week_start")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active_users"),
            F.sum("churned").cast("bigint").alias("n_churned"),
            F.round(F.sum("churned") / F.count(F.lit(1)), 6).alias("churn_rate"),
        )
        .orderBy(F.col("week_start").asc())
    )


# ---------------------------------------------------------------------------
# Round-6: experimentation analytics — the A/B readout queries every
# behavioral pipeline eventually feeds
# ---------------------------------------------------------------------------

@register(
    "ab_test_srm_check",
    """
    WITH arms AS (
      SELECT DISTINCT user_id,
             CAST('0x' || substr(md5('arm|' || user_id::VARCHAR), 1, 15)
                  AS BIGINT) % 2 AS arm
      FROM events),
    c AS (SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
                 SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
          FROM arms)
    SELECT n0, n1,
           ROUND(((n0 - n1) * (n0 - n1))::DOUBLE / (n0 + n1), 6) AS chi2,
           ((n0 - n1) * (n0 - n1))::DOUBLE / (n0 + n1) > 3.841459 AS srm_flag
    FROM c
    """,
)
def ab_test_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch check for a deterministic 50/50 user split:
    the chi-square statistic against the designed ratio, the FIRST gate
    any experiment readout runs — a randomization-infrastructure bug
    (biased hash, crash-looping variant, bot filter applied to one arm)
    shows up here before any metric is worth reading. For a two-cell
    50/50 design the statistic collapses to (n0-n1)^2/(n0+n1) — ONE
    division of identical BIGINTs — compared against the 95% critical
    value for 1 df. The arm assignment is the same portable hash the
    engine uses everywhere, so reruns and engines agree exactly."""
    from veri_spark.functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    arms = ev.select("user_id").distinct().select(
        (portable_hash64(F.col("user_id").cast("string"), seed="arm") % 2)
        .alias("arm")
    )
    c = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
    )
    chi2 = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast(
        "double"
    ) / (F.col("n0") + F.col("n1"))
    return c.select(
        "n0", "n1",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841459).alias("srm_flag"),
    )


@register(
    "ab_test_conversion_ztest",
    """
    WITH fe AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events),
    arms AS (
      SELECT user_id,
             CAST('0x' || substr(md5('arm|' || user_id::VARCHAR), 1, 15)
                  AS BIGINT) % 2 AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM fe WHERE rn = 1),
    c AS (SELECT
            SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
            SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
            SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS c0,
            SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT AS c1
          FROM arms),
    z AS (SELECT n0, n1, c0, c1,
                 (c1::DOUBLE / n1 - c0::DOUBLE / n0)
                 / sqrt(((c0 + c1)::DOUBLE / (n0 + n1))
                        * (1 - (c0 + c1)::DOUBLE / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)) AS zval
          FROM c)
    SELECT n0, c0, n1, c1,
           ROUND(c0::DOUBLE / n0, 6) AS rate0,
           ROUND(c1::DOUBLE / n1, 6) AS rate1,
           ROUND(zval, 6) AS z_score,
           abs(zval) > 1.959964 AS significant
    FROM z
    """,
)
def ab_test_conversion_ztest(spark, sf_dir):
    """Two-proportion z-test on user-level conversion between the two
    hash-split arms — the canonical A/B readout. Under the null split the
    z-score should be noise (|z| < 1.96 at 95%); the query exists as the
    A/A-shaped harness an experimentation pipeline validates against
    before real treatments flow through it. Per-user conversion is one
    first-event window (the synthetic stream is dense enough that ANY
    presence-based target saturates to 100%, degenerating the pooled
    variance to zero — first-event share stays interior at every SF);
    counts reduce to four BIGINTs; the pooled z is a fixed
    sequence of double ops over those identical integers (sqrt is
    IEEE-correctly-rounded, so both engines agree bit-for-bit, unlike
    ln/pow). At 100 TB the readout is this same four-integer reduction —
    experiment analysis is never the expensive part; the label and
    exposure joins feeding it are."""
    from veri_spark.functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    arm = portable_hash64(F.col("user_id").cast("string"), seed="arm") % 2
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    fe = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1)
    arms = fe.select(
        arm.alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    c = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint").alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint").alias("c1"),
    )
    p = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    zval = (
        F.col("c1").cast("double") / F.col("n1")
        - F.col("c0").cast("double") / F.col("n0")
    ) / F.sqrt(p * (1 - p) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return c.select(
        "n0", "c0", "n1", "c1",
        F.round(F.col("c0").cast("double") / F.col("n0"), 6).alias("rate0"),
        F.round(F.col("c1").cast("double") / F.col("n1"), 6).alias("rate1"),
        F.round(zval, 6).alias("z_score"),
        (F.abs(zval) > 1.959964).alias("significant"),
    )


@register(
    "incremental_agg_merge_audit",
    """
    WITH m AS (
      SELECT event_type, value,
             CAST(round(value * 1e6) AS BIGINT) AS v_u,
             ts < TIMESTAMP '2024-01-16 00:00:00' AS is_base
      FROM events),
    base AS (SELECT event_type, COUNT(*)::BIGINT AS n, SUM(v_u)::BIGINT AS s,
                    MIN(value) AS lo, MAX(value) AS hi
             FROM m WHERE is_base GROUP BY event_type),
    delta AS (SELECT event_type, COUNT(*)::BIGINT AS n, SUM(v_u)::BIGINT AS s,
                     MIN(value) AS lo, MAX(value) AS hi
              FROM m WHERE NOT is_base GROUP BY event_type),
    merged AS (
      SELECT COALESCE(b.event_type, d.event_type) AS event_type,
             COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n,
             COALESCE(b.s, 0) + COALESCE(d.s, 0) AS s,
             LEAST(COALESCE(b.lo, d.lo), COALESCE(d.lo, b.lo)) AS lo,
             GREATEST(COALESCE(b.hi, d.hi), COALESCE(d.hi, b.hi)) AS hi
      FROM base b FULL OUTER JOIN delta d ON d.event_type = b.event_type),
    full_agg AS (SELECT event_type, COUNT(*)::BIGINT AS n, SUM(v_u)::BIGINT AS s,
                        MIN(value) AS lo, MAX(value) AS hi
                 FROM m GROUP BY event_type)
    SELECT f.event_type, f.n AS n_full, g.n AS n_merged,
           (f.n = g.n) AS count_match, (f.s = g.s) AS sum_match,
           (f.lo = g.lo AND f.hi = g.hi) AS minmax_match
    FROM full_agg f JOIN merged g ON g.event_type = f.event_type
    ORDER BY f.event_type ASC
    """,
)
def incremental_agg_merge_audit(spark, sf_dir):
    """Incremental-view-maintenance audit: split the stream at a time
    boundary into BASE and DELTA, aggregate each independently, merge the
    partial states algebraically (count: +, sum: +, min/max: least/
    greatest), and verify the merged state equals the full recompute —
    the mergeability contract that makes per-partition partial
    aggregation, streaming state stores, and backfill-then-increment
    pipelines correct at all. Sums run on exact per-row micro-unit
    BIGINTs so '+' is associative BY CONSTRUCTION (the double-sum version
    of this audit would report false mismatches from fold order — which
    is itself why production incremental sums quantize or use decimals).
    At 100 TB the base state is yesterday's materialized aggregate; the
    delta is today's partition — this query is that merge, run once per
    type."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "event_type",
        "value",
        F.round(F.col("value") * 1e6).cast("bigint").alias("v_u"),
        (F.col("ts") < F.expr("TIMESTAMP_NTZ '2024-01-16 00:00:00'")).alias(
            "is_base"
        ),
    )

    def part(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v_u").cast("bigint").alias("s"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )

    base = part(m.filter(F.col("is_base")))
    delta = part(m.filter(~F.col("is_base")))
    b = base.select([F.col(c).alias(f"b_{c}") for c in base.columns])
    d = delta.select([F.col(c).alias(f"d_{c}") for c in delta.columns])
    merged = b.join(
        d, F.col("b_event_type") == F.col("d_event_type"), "full_outer"
    ).select(
        F.coalesce(F.col("b_event_type"), F.col("d_event_type")).alias(
            "event_type"
        ),
        (
            F.coalesce(F.col("b_n"), F.lit(0))
            + F.coalesce(F.col("d_n"), F.lit(0))
        ).alias("n"),
        (
            F.coalesce(F.col("b_s"), F.lit(0))
            + F.coalesce(F.col("d_s"), F.lit(0))
        ).alias("s"),
        F.least(
            F.coalesce(F.col("b_lo"), F.col("d_lo")),
            F.coalesce(F.col("d_lo"), F.col("b_lo")),
        ).alias("lo"),
        F.greatest(
            F.coalesce(F.col("b_hi"), F.col("d_hi")),
            F.coalesce(F.col("d_hi"), F.col("b_hi")),
        ).alias("hi"),
    )
    full_agg = part(m)
    g = merged.select([F.col(c).alias(f"g_{c}") for c in merged.columns])
    return (
        full_agg.join(
            F.broadcast(g), F.col("event_type") == F.col("g_event_type")
        )
        .select(
            "event_type",
            F.col("n").alias("n_full"),
            F.col("g_n").cast("bigint").alias("n_merged"),
            (F.col("n") == F.col("g_n")).alias("count_match"),
            (F.col("s") == F.col("g_s")).alias("sum_match"),
            (
                (F.col("lo") == F.col("g_lo")) & (F.col("hi") == F.col("g_hi"))
            ).alias("minmax_match"),
        )
        .orderBy(F.col("event_type").asc())
    )


@register(
    "session_gap_sensitivity",
    """
    WITH o AS (
      SELECT user_id,
             epoch_us(ts::TIMESTAMP)
               - lag(epoch_us(ts::TIMESTAMP))
                 OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
               AS gap_us
      FROM events),
    t AS (SELECT COUNT(DISTINCT user_id)::BIGINT AS n_users,
                 COUNT(*)::BIGINT AS n_events FROM events),
    gaps AS (SELECT gap_us FROM o WHERE gap_us IS NOT NULL),
    ks AS (SELECT unnest([300, 1800, 7200]) AS gap_s),
    s AS (
      SELECT k.gap_s,
             SUM(CASE WHEN g.gap_us > k.gap_s * 1000000::BIGINT
                      THEN 1 ELSE 0 END)::BIGINT AS n_breaks
      FROM ks k CROSS JOIN gaps g GROUP BY k.gap_s)
    SELECT s.gap_s, (t.n_users + s.n_breaks)::BIGINT AS n_sessions,
           CAST(round(1e6 * t.n_events / (t.n_users + s.n_breaks)) AS BIGINT)
             AS events_per_session_micro
    FROM s CROSS JOIN t
    ORDER BY s.gap_s ASC
    """,
)
def session_gap_sensitivity(spark, sf_dir):
    """Sessionization-threshold sensitivity curve: the session count (and
    mean events per session) a gap-based sessionizer produces at cutoffs
    of 5 min / 30 min / 2 h — the calibration you read BEFORE committing
    the gap every session-grain metric downstream inherits (conversion,
    survival, first-touch all shift with it; a cutoff on a steep part of
    this curve makes those metrics unstable). Sessions = users + gaps
    exceeding the cutoff, so the whole sweep reuses ONE per-user lag pass
    (window PARTITIONED by user — distributed) against a 3-row broadcast;
    gaps are exact integer micros (the `events_interarrival` idiom);
    the mean is one micro-quantized division."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        ev.select("user_id", (us - F.lag(us).over(w)).alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .select("gap_us")
    )
    t = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    ks = spark.createDataFrame([(300,), (1800,), (7200,)], "gap_s int")
    s = (
        gaps.crossJoin(F.broadcast(ks))
        .groupBy("gap_s")
        .agg(
            F.sum(
                F.when(
                    F.col("gap_us") > F.col("gap_s").cast("bigint") * 1000000,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_breaks")
        )
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "gap_s",
            (F.col("n_users") + F.col("n_breaks"))
            .cast("bigint")
            .alias("n_sessions"),
            F.round(
                F.lit(1e6)
                * F.col("n_events")
                / (F.col("n_users") + F.col("n_breaks"))
            )
            .cast("bigint")
            .alias("events_per_session_micro"),
        )
        .orderBy(F.col("gap_s").asc())
    )



@register(
    "ks_value_drift",
    """
    WITH ev AS (SELECT event_type, value FROM events
                WHERE event_type IN ('click', 'view')),
    c AS (SELECT value,
                 SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
                   AS c1x,
                 SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
                   AS c2x
          FROM ev GROUP BY value),
    cum AS (SELECT SUM(c1x) OVER (ORDER BY value ASC)::BIGINT AS c1,
                   SUM(c2x) OVER (ORDER BY value ASC)::BIGINT AS c2
            FROM c),
    t AS (SELECT SUM(c1x)::BIGINT AS n1, SUM(c2x)::BIGINT AS n2 FROM c)
    SELECT t.n1, t.n2,
           MAX(ABS(cum.c1 * t.n2 - cum.c2 * t.n1))::BIGINT AS d_num,
           (MAX(ABS(cum.c1 * t.n2 - cum.c2 * t.n1))::DOUBLE
              / (t.n1::DOUBLE * t.n2::DOUBLE)) AS ks_stat,
           (MAX(ABS(cum.c1 * t.n2 - cum.c2 * t.n1))::DOUBLE
              / (t.n1::DOUBLE * t.n2::DOUBLE))
             * sqrt((t.n1::DOUBLE * t.n2::DOUBLE)
                    / (t.n1::DOUBLE + t.n2::DOUBLE)) AS ks_lambda
    FROM cum CROSS JOIN t GROUP BY t.n1, t.n2
    """,
)
def ks_value_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift test between the `click` and
    `view` value distributions: D = sup_x |F1(x) - F2(x)| plus the
    sample-size-normalized lambda = D * sqrt(n1*n2/(n1+n2)) that feeds the
    KS significance table — the distribution-level drift gate that PSI
    (`event_type_drift_psi`) approximates with fixed bins; KS needs the
    full CDFs, i.e. a global cumulative count over every distinct value.
    That prefix scan is the scale problem this query exists to exercise:
    both CDFs come from ONE `global_prefix_agg` pass (operators/ranking.py
    — range-partition on value, partitioned running sums, 32-row offset
    fold; no unpartitioned window anywhere), after a partial-aggregated
    groupBy collapses the corpus to one row per distinct value. The
    decision statistic is computed in INTEGER cross-multiplied form
    max|c1*n2 - c2*n1| so the max is exact and order-insensitive; the two
    doubles are single divisions plus one correctly-rounded sqrt — bit
    deterministic in both engines. At 100 TB: distinct values ride the
    range partitioner (no single-task sort), counts are BIGINT-safe to
    2^31 rows per side."""
    from veri_spark.operators.ranking import global_prefix_agg

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    # materialized once: the totals row and the CDF prefix pass both branch
    # over this frame — without the checkpoint each re-scans the events table
    c = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("c1x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("c2x"),
    ).localCheckpoint(eager=False)
    cum = global_prefix_agg(
        c, [F.col("value").asc()], ["c1x", "c2x"], agg="sum",
        out_col=["c1", "c2"],
    )
    t = c.agg(
        F.sum("c1x").cast("bigint").alias("n1"),
        F.sum("c2x").cast("bigint").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    return (
        cum.crossJoin(F.broadcast(t))
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
            .cast("bigint")
            .alias("d_num")
        )
        .select(
            "n1",
            "n2",
            "d_num",
            (F.col("d_num").cast("double") / (n1d * n2d)).alias("ks_stat"),
            (
                (F.col("d_num").cast("double") / (n1d * n2d))
                * F.sqrt((n1d * n2d) / (n1d + n2d))
            ).alias("ks_lambda"),
        )
    )


# Poisson(1) CDF thresholds scaled to a 28-bit (7-hex-digit) hash domain —
# Python-precomputed integer literals (the nDCG/Benford rule:
# round(cdf_k * 2^28), defining formula pinned here) so replicate weights
# are INTEGER comparisons in both engines. P(w=k) for k=0..4 with the tail
# mass on w=5. 28 bits give ~4e-9 CDF granularity — four independent
# fields fit in ONE md5 digest (32 hex chars), which is the whole point:
# one digest serves FOUR replicates instead of one (round-7 judge task 5:
# the md5 was the dominant cost of the 32x explode).
_POIS1_T = [
    98751886,
    197503771,
    246879714,
    263338361,
    267453023,
]


def _dd_pois_w(h: str) -> str:
    return (
        f"(CASE WHEN {h} < {_POIS1_T[0]} THEN 0"
        f" WHEN {h} < {_POIS1_T[1]} THEN 1"
        f" WHEN {h} < {_POIS1_T[2]} THEN 2"
        f" WHEN {h} < {_POIS1_T[3]} THEN 3"
        f" WHEN {h} < {_POIS1_T[4]} THEN 4 ELSE 5 END)"
    )


@register(
    "poisson_bootstrap_ci",
    f"""
    WITH digests AS (SELECT unnest(range(0, 8)) AS j),
    slices AS (SELECT unnest(range(0, 4)) AS pos),
    d AS (SELECT e.value, digests.j,
                 md5(digests.j || '|' || e.event_id::VARCHAR) AS dg
          FROM events e CROSS JOIN digests),
    w AS (SELECT d.value, (d.j * 4 + slices.pos)::BIGINT AS r,
                 {_dd_pois_w("CAST('0x' || substr(d.dg, 1 + 7 * slices.pos::INT, 7) AS BIGINT)")}
                   AS w
          FROM d CROSS JOIN slices),
    m AS (SELECT r,
                 (SUM(w * CAST(value AS DECIMAL(18,2)))::DOUBLE
                  / SUM(w)::DOUBLE) AS rep_mean
          FROM w WHERE w > 0 GROUP BY r),
    rk AS (SELECT rep_mean,
                  row_number() OVER (ORDER BY rep_mean ASC) AS rn
           FROM m),
    full_m AS (SELECT (SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE
                       / COUNT(*)::DOUBLE) AS mean_full FROM events)
    SELECT 32::BIGINT AS n_replicates,
           ROUND(f.mean_full, 6) AS mean_full,
           ROUND(MAX(CASE WHEN rk.rn = 2 THEN rk.rep_mean END), 6) AS ci_lo,
           ROUND(MAX(CASE WHEN rk.rn = 31 THEN rk.rep_mean END), 6) AS ci_hi
    FROM rk CROSS JOIN full_m f GROUP BY f.mean_full
    """,
)
def poisson_bootstrap_ci(spark, sf_dir):
    """Deterministic Poisson bootstrap confidence interval for the mean
    event value (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", Google 2012): instead of resampling n rows WITH
    replacement — impossible to coordinate across a cluster — each row
    enters replicate r with weight w ~ Poisson(1), INDEPENDENTLY per
    (row, replicate), which converges to the classical bootstrap and
    needs only a map pass. Here the Poisson draw is DERANDOMIZED: w is
    the seeded 60-bit portable hash of (replicate, event_id) cut by the
    Poisson(1) CDF thresholds precomputed in Python as integer literals
    — bit-reproducible in both engines, no RNG state anywhere. 32
    replicates; CI = the 2nd/31st order statistics of the replicate
    means (the ~[5th, 95th] percentile band). Each replicate mean sums
    w*value in EXACT decimal with one double division; the rank pick is
    a window over the 32-row replicate frame (bounded by the replicate
    count, not the data). Scale shape: one 8x digest explode + a 4x
    slice explode (still 32 (row, replicate) pairs, but ONE md5 digest
    serves FOUR replicates — the 32 hex chars split into four
    independent 7-hex/28-bit fields, thresholds re-derived as Python
    literals over the 2^28 domain; round-7 judge task 5: the per-pair
    digest was the dominant cost) + one partial-aggregated groupBy —
    zero shuffles beyond the 32-group reduce. (The seeded digest
    follows the functions/hashing seeded form "seed|key" with the
    digest index j as the seed column; replicate r = 4j + slice.)"""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    # round 15: the x8 digest explode + md5 per (row, j) ran as ONE task
    # on the single-row-group scan; spread the narrow (id, value) frame
    # first (fan_parallel is a no-op once the scan has >= cores splits).
    # full_m below stays on the un-repartitioned scan.
    dg = fan_parallel(ev).select(
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
        F.col("event_id"),
    ).select(
        "value",
        "j",
        F.md5(
            F.concat(
                F.col("j").cast("string"),
                F.lit("|"),
                F.col("event_id").cast("string"),
            )
        ).alias("dg"),
    )

    def _slice(pos: int):
        return F.conv(F.substring(F.col("dg"), 1 + 7 * pos, 7), 16, 10).cast(
            "long"
        )

    sliced = dg.select(
        "value",
        "j",
        F.posexplode(F.array(*[_slice(p) for p in range(4)])).alias(
            "pos", "h"
        ),
    )
    h = F.col("h")
    w = (
        F.when(h < _POIS1_T[0], 0)
        .when(h < _POIS1_T[1], 1)
        .when(h < _POIS1_T[2], 2)
        .when(h < _POIS1_T[3], 3)
        .when(h < _POIS1_T[4], 4)
        .otherwise(5)
    )
    weighted = sliced.select(
        "value",
        (F.col("j") * 4 + F.col("pos")).cast("bigint").alias("r"),
        w.alias("w"),
    )
    m = (
        weighted.filter(F.col("w") > 0)
        .groupBy("r")
        .agg(
            (
                F.sum(F.col("w") * F.col("value").cast("decimal(18,2)"))
                .cast("double")
                / F.sum("w").cast("double")
            ).alias("rep_mean")
        )
    )
    rk = m.select(
        "rep_mean",
        F.row_number().over(Window.orderBy(F.col("rep_mean").asc())).alias("rn"),
    )
    full_m = ev.agg(
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_full")
    )
    return (
        rk.crossJoin(F.broadcast(full_m))
        .groupBy("mean_full")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("rep_mean"))).alias("lo"),
            F.max(F.when(F.col("rn") == 31, F.col("rep_mean"))).alias("hi"),
        )
        .select(
            F.lit(32).cast("bigint").alias("n_replicates"),
            F.round("mean_full", 6).alias("mean_full"),
            F.round("lo", 6).alias("ci_lo"),
            F.round("hi", 6).alias("ci_hi"),
        )
    )


def _acklam_probit(p: float) -> float:
    """Acklam's rational approximation of the standard-normal quantile
    (max abs error ~1.15e-9) — the SOURCE of every z/chi-square literal
    injected into the engines (the QQ-grid rule: quantiles are NEVER
    computed in-engine). Runs once at import to build literal tables;
    pinned against independently hardcoded spot values by
    tests/test_round8_batch2.py."""
    a = [-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00]
    dd = [7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00]
    import math as _m

    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = _m.sqrt(-2 * _m.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                * q + c[5]) / ((((dd[0] * q + dd[1]) * q + dd[2]) * q
                                + dd[3]) * q + 1)
    if p > phigh:
        q = _m.sqrt(-2 * _m.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                 * q + c[5]) / ((((dd[0] * q + dd[1]) * q + dd[2]) * q
                                 + dd[3]) * q + 1)
    q = p - 0.5
    r = q * q
    return q * (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4])
                * r + a[5]) / (((((b[0] * r + b[1]) * r + b[2]) * r
                                 + b[3]) * r + b[4]) * r + 1)


# Holm step-down thresholds: |z| cutoffs Phi^-1(1 - 0.025/k) for k tests
# remaining, k = 1..7 (the weekday domain bound). Python-precomputed via
# Acklam's probit; pinned against independently hardcoded values by
# tests/test_round8_batch2.py. Micro literals are round(z * 1e6).
_HOLM_Z = {k: _acklam_probit(1 - 0.025 / k) for k in range(1, 8)}
_HOLM_SQL_ROWS = ", ".join(
    f"({k}, {z!r}, {round(z * 1e6)})" for k, z in _HOLM_Z.items()
)

# Benjamini-Hochberg step-up thresholds: |z| cutoff for the rank-i test
# among m is Phi^-1(1 - q*i/(2m)) at FDR level q = 0.05, tabulated for
# every (i, m) with 1 <= i <= m <= 7 (the weekday domain bound).
_BH_Z = {
    (i, m): _acklam_probit(1 - 0.05 * i / (2 * m))
    for m in range(1, 8)
    for i in range(1, m + 1)
}
_BH_SQL_ROWS = ", ".join(
    f"({i}, {m}, {z!r}, {round(z * 1e6)})" for (i, m), z in _BH_Z.items()
)

# Shared prelude: per-weekday A/A conversion cells and pooled z — the
# experimental frame both multiple-testing procedures (Holm step-down,
# BH step-up) rank and threshold.
_WEEKDAY_Z_SQL = """
    WITH fe AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events),
    seg AS (
      SELECT dayofweek(ts)::BIGINT AS dow,
             CAST('0x' || substr(md5('arm|' || user_id::VARCHAR), 1, 15)
                  AS BIGINT) % 2 AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM fe WHERE rn = 1),
    c AS (SELECT dow,
            SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
            SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
            SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS c0,
            SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT AS c1
          FROM seg GROUP BY dow),
    z AS (SELECT dow, n0, n1, c0, c1,
            CASE WHEN n0 = 0 OR n1 = 0 OR c0 + c1 = 0
                   OR c0 + c1 = n0 + n1
                 THEN 0.0
                 ELSE (c1::DOUBLE / n1 - c0::DOUBLE / n0)
                      / sqrt(((c0 + c1)::DOUBLE / (n0 + n1))
                             * (1 - (c0 + c1)::DOUBLE / (n0 + n1))
                             * (1.0 / n0 + 1.0 / n1)) END AS zval
          FROM c),
    m AS (SELECT COUNT(*)::BIGINT AS m FROM z),
    r AS (SELECT a.dow, (1 + COUNT(b.dow))::BIGINT AS rnk
          FROM z a LEFT JOIN z b
            ON abs(b.zval) > abs(a.zval)
            OR (abs(b.zval) = abs(a.zval) AND b.dow < a.dow)
          GROUP BY a.dow)
"""


def _weekday_z_frame(spark, sf_dir):
    """Spark twin of ``_WEEKDAY_Z_SQL``: the per-weekday A/A z-test frame
    shared by the Holm and BH procedures. Returns (z, m, r): the <= 7-row
    cell frame with the pooled z, its one-row count, and the |z|-desc
    rank from a triangular broadcast self-join (no unpartitioned
    window)."""
    from veri_spark.functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    fe = ev.select(
        "user_id", "event_type", "ts", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1)
    seg = fe.select(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        (portable_hash64(F.col("user_id").cast("string"), seed="arm") % 2)
        .alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    c = seg.groupBy("dow").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    pooled = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    zval = (
        F.when(
            (F.col("n0") == 0)
            | (F.col("n1") == 0)
            | (F.col("c0") + F.col("c1") == 0)
            | (F.col("c0") + F.col("c1") == F.col("n0") + F.col("n1")),
            F.lit(0.0),
        ).otherwise(
            (
                F.col("c1").cast("double") / F.col("n1")
                - F.col("c0").cast("double") / F.col("n0")
            )
            / F.sqrt(
                pooled
                * (1 - pooled)
                * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
            )
        )
    )
    z = c.withColumn("zval", zval)
    m = z.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    zb = z.select(
        F.col("dow").alias("dow_b"), F.col("zval").alias("zval_b")
    )
    r = (
        z.join(
            F.broadcast(zb),
            (F.abs(F.col("zval_b")) > F.abs(F.col("zval")))
            | (
                (F.abs(F.col("zval_b")) == F.abs(F.col("zval")))
                & (F.col("dow_b") < F.col("dow"))
            ),
            "left",
        )
        .groupBy("dow")
        .agg((1 + F.count("dow_b")).cast("bigint").alias("rnk"))
    )
    return z, m, r


def _step_up_rejections(spark, sf_dir, table, rank_col):
    """The step-up FDR fold shared by BH and BY over the weekday z frame:
    rank i of m faces ``table[(i, m)]`` (Python-precomputed probit
    literals), and every test ranked at or above the largest rank whose
    |z| clears its threshold is rejected. One MAX over the <= 7-row frame,
    broadcast back."""
    z, m, r = _weekday_z_frame(spark, sf_dir)
    thr_z = literal_map((f"{i}|{mm}", v) for (i, mm), v in table.items())
    thr_mic = literal_map((f"{i}|{mm}", round(v * 1e6)) for (i, mm), v in table.items())
    key = F.concat_ws("|", F.col("rnk").cast("string"), F.col("m").cast("string"))
    rt = (
        z.join(F.broadcast(r), "dow")
        .crossJoin(F.broadcast(m))
        .withColumn("zthr", F.element_at(thr_z, key))
        .withColumn("zthr_micro", F.element_at(thr_mic, key))
    )
    istar = rt.agg(
        F.coalesce(
            F.max(F.when(F.abs(F.col("zval")) >= F.col("zthr"), F.col("rnk"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("i_max")
    )
    return (
        rt.crossJoin(F.broadcast(istar))
        .select(
            "dow",
            F.round("zval", 6).alias("z_score"),
            F.col("rnk").alias(rank_col),
            F.col("zthr_micro").cast("bigint").alias("z_threshold_micro"),
            F.col("i_max").alias("max_rejected_rank"),
            (F.col("rnk") <= F.col("i_max")).alias("rejected"),
        )
        .orderBy(F.col(rank_col).asc())
    )


@register(
    "holm_weekday_conversion_tests",
    _WEEKDAY_Z_SQL
    + f""",
    thr AS (SELECT * FROM (VALUES {_HOLM_SQL_ROWS})
            AS v(k, zthr, zthr_micro)),
    rt AS (SELECT z.*, r.rnk, thr.zthr, thr.zthr_micro
           FROM z JOIN r USING (dow) CROSS JOIN m
           JOIN thr ON thr.k = m.m - r.rnk + 1),
    hm AS (SELECT a.dow,
                  MIN(CASE WHEN abs(b.zval) >= b.zthr
                           THEN 1 ELSE 0 END)::BIGINT AS rej
           FROM rt a JOIN rt b ON b.rnk <= a.rnk
           GROUP BY a.dow)
    SELECT rt.dow, rt.n0, rt.c0, rt.n1, rt.c1,
           ROUND(rt.zval, 6) AS z_score,
           rt.rnk AS holm_rank,
           rt.zthr_micro::BIGINT AS z_threshold_micro,
           hm.rej = 1 AS rejected
    FROM rt JOIN hm USING (dow)
    ORDER BY rt.rnk ASC
    """,
)
def holm_weekday_conversion_tests(spark, sf_dir):
    """Holm step-down multiple-testing control over the per-weekday A/A
    conversion z-tests — the family-wise-error answer to 'we sliced the
    experiment seven ways and Tuesday looks significant': tests are
    ranked by |z|, test i faces the threshold for alpha/(m-i+1), and
    rejection STOPS at the first failure (everything after is accepted
    even above its own threshold — the step-down semantics naive
    per-slice testing gets wrong). Under this null (hash-split arms)
    every rejected flag should be false; a true flag is the harness
    catching a broken segmentation join or hash.

    Determinism + scale: per-user first-event conversion reduces the
    corpus to <= 7 (n0, c0, n1, c1) BIGINT cells in one partitioned
    window + one partial agg; z is the fixed sqrt/division sequence on
    those integers (bit-identical cross-engine); thresholds are Acklam
    probit LITERALS (never in-engine quantiles); the rank and the
    sequential-stop fold are triangular broadcast self-joins over the
    <= 7-row frame (the Lorenz prefix idiom — no unpartitioned window
    anywhere)."""
    z, m, r = _weekday_z_frame(spark, sf_dir)
    thr_z = literal_map(_HOLM_Z)
    thr_mic = literal_map((k, round(v * 1e6)) for k, v in _HOLM_Z.items())
    rt = (
        z.join(F.broadcast(r), "dow")
        .crossJoin(F.broadcast(m))
        .withColumn(
            "zthr",
            F.element_at(thr_z, (F.col("m") - F.col("rnk") + 1).cast("int")),
        )
        .withColumn(
            "zthr_micro",
            F.element_at(
                thr_mic, (F.col("m") - F.col("rnk") + 1).cast("int")
            ),
        )
    )
    rtb = rt.select(
        F.col("rnk").alias("rnk_b"),
        F.col("zval").alias("zb"),
        F.col("zthr").alias("thrb"),
    )
    hm = (
        rt.join(F.broadcast(rtb), F.col("rnk_b") <= F.col("rnk"))
        .groupBy("dow")
        .agg(
            F.min(
                F.when(F.abs(F.col("zb")) >= F.col("thrb"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("rej")
        )
    )
    return (
        rt.join(F.broadcast(hm), "dow")
        .select(
            "dow",
            "n0",
            "c0",
            "n1",
            "c1",
            F.round("zval", 6).alias("z_score"),
            F.col("rnk").alias("holm_rank"),
            F.col("zthr_micro").cast("bigint").alias("z_threshold_micro"),
            (F.col("rej") == 1).alias("rejected"),
        )
        .orderBy(F.col("holm_rank").asc())
    )


@register(
    "cvm_value_drift",
    """
    WITH ev AS (SELECT event_type, value FROM events
                WHERE event_type IN ('click', 'view')),
    g AS (SELECT value,
                 SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
                   AS a,
                 SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
                   AS b
          FROM ev GROUP BY value),
    p AS (SELECT a, b, a + b AS c,
                 SUM(a + b) OVER (ORDER BY value ASC)::BIGINT AS cumc,
                 SUM(a) OVER (ORDER BY value ASC)::BIGINT AS cuma
          FROM g),
    d AS (SELECT a, b,
                 2 * ((cumc - c) - (cuma - a)) + b AS da,
                 2 * (cuma - a) + a AS db
          FROM p),
    s AS (SELECT SUM(a)::BIGINT AS n1, SUM(b)::BIGINT AS n2,
                 COUNT(*)::BIGINT AS n_values,
                 SUM(CAST(a AS DECIMAL(38,0)) * da * da) AS sa,
                 SUM(CAST(b AS DECIMAL(38,0)) * db * db) AS sb
          FROM d),
    u AS (SELECT n1, n2, n_values, n1 + n2 AS nn,
                 (CAST(n1 AS DECIMAL(38,0)) * sa
                  + CAST(n2 AS DECIMAL(38,0)) * sb)::DOUBLE AS u4
          FROM s),
    t AS (SELECT n1, n2, n_values,
                 u4 / (4.0 * n1 * n2 * nn)
                   - (4.0 * n1 * n2 - 1) / (6.0 * nn) AS tv
          FROM u)
    SELECT n1, n2, n_values,
           ROUND(tv, 6) AS cvm_t,
           CAST(round(1e6 * tv) AS BIGINT) AS t_micro
    FROM t
    """,
)
def cvm_value_drift(spark, sf_dir):
    """Two-sample Cramer-von Mises drift test between the `click` and
    `view` value distributions — the INTEGRATED companion of
    `ks_value_drift` on the same pair: KS reads the single worst CDF gap
    (sensitive to one local shift), CvM integrates the squared gap over
    the whole distribution (sensitive to many small ones); under H0 its
    expectation is 1/6 + 1/(6N). Uses Anderson's rank form U = n*sum_i
    (r_i - i)^2 + m*sum_j (s_j - j)^2 with midranks for ties, folded to
    a closed form per DISTINCT value: doubling every rank, all A-side
    obs of a tied group share 2r-2i = 2*B_before + b_g and the B side
    2*A_before + a_g, so the whole statistic needs only the two prefix
    scans the KS query already runs.

    Scale + determinism: the corpus collapses to per-distinct-value
    (a, b) counts in one partial-aggregated scan; the CDF prefix rides
    operators/ranking.global_prefix_agg (range partition + ~32-row
    offset fold, no unpartitioned window); the squared-displacement
    sums are per-row BIGINT products accumulated as exact DECIMAL(38,0)
    (order-insensitive — the value_moments idiom; exact while
    max_tie_group * 4N^2 < 2^63 per row and n*sum < 1e38, i.e. to
    ~1e8-row samples); T is a fixed sequence of correctly-rounded
    double ops on the decimal-cast integers, identical in both
    engines."""
    from veri_spark.operators.ranking import global_prefix_agg

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    ).withColumn("c", F.col("a") + F.col("b"))
    p = global_prefix_agg(
        g,
        [F.col("value").asc()],
        ["c", "a"],
        agg="sum",
        out_col=["cumc", "cuma"],
    )
    d = p.select(
        "a",
        "b",
        (
            2 * ((F.col("cumc") - F.col("c")) - (F.col("cuma") - F.col("a")))
            + F.col("b")
        ).alias("da"),
        (2 * (F.col("cuma") - F.col("a")) + F.col("a")).alias("db"),
    )
    s = d.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum(
            F.col("a").cast("decimal(38,0)") * F.col("da") * F.col("da")
        ).alias("sa"),
        F.sum(
            F.col("b").cast("decimal(38,0)") * F.col("db") * F.col("db")
        ).alias("sb"),
    )
    u = s.select(
        "n1",
        "n2",
        "n_values",
        (F.col("n1") + F.col("n2")).alias("nn"),
        (
            F.col("n1").cast("decimal(38,0)") * F.col("sa")
            + F.col("n2").cast("decimal(38,0)") * F.col("sb")
        )
        .cast("double")
        .alias("u4"),
    )
    tv = F.col("u4") / (
        F.lit(4.0) * F.col("n1") * F.col("n2") * F.col("nn")
    ) - (F.lit(4.0) * F.col("n1") * F.col("n2") - 1) / (
        F.lit(6.0) * F.col("nn")
    )
    return u.select(
        "n1",
        "n2",
        "n_values",
        F.round(tv, 6).alias("cvm_t"),
        F.round(F.lit(1e6) * tv).cast("bigint").alias("t_micro"),
    )


@register(
    "bh_weekday_conversion_fdr",
    _WEEKDAY_Z_SQL
    + f""",
    thr AS (SELECT * FROM (VALUES {_BH_SQL_ROWS})
            AS v(i, mm, zthr, zthr_micro)),
    rt AS (SELECT z.*, r.rnk, thr.zthr, thr.zthr_micro
           FROM z JOIN r USING (dow) CROSS JOIN m
           JOIN thr ON thr.i = r.rnk AND thr.mm = m.m),
    istar AS (SELECT COALESCE(MAX(CASE WHEN abs(zval) >= zthr
                                       THEN rnk END), 0)::BIGINT AS i_max
              FROM rt)
    SELECT rt.dow, ROUND(rt.zval, 6) AS z_score,
           rt.rnk AS bh_rank,
           rt.zthr_micro::BIGINT AS z_threshold_micro,
           istar.i_max AS max_rejected_rank,
           rt.rnk <= istar.i_max AS rejected
    FROM rt CROSS JOIN istar
    ORDER BY rt.rnk ASC
    """,
)
def bh_weekday_conversion_fdr(spark, sf_dir):
    """Benjamini-Hochberg step-UP false-discovery-rate control over the
    same per-weekday A/A z-tests `holm_weekday_conversion_tests`
    step-DOWNs: rank by |z|, find the LARGEST rank i whose test clears
    its own threshold z(1 - q*i/(2m)), and reject everything at or
    above that rank — including earlier tests that missed their own
    stricter cutoffs (the step-up semantics that makes BH strictly more
    powerful than Holm at the price of controlling FDR, not FWER — the
    standard choice when a pipeline screens hundreds of segments and a
    few false alarms are acceptable). Under this hash-split null both
    procedures should reject nothing; running them side by side on the
    same frame is the harness's power/strictness contrast.

    Determinism + scale: shares the <= 7-cell z frame and triangular
    rank fold with Holm (`_weekday_z_frame`); thresholds are the
    Python-precomputed Acklam table over every (rank, m) pair; the
    step-up cutoff is one MAX over the bounded frame, broadcast back."""
    return _step_up_rejections(spark, sf_dir, _BH_Z, "bh_rank")


@register(
    "kuiper_value_drift",
    """
    WITH ev AS (SELECT event_type, value FROM events
                WHERE event_type IN ('click', 'view')),
    c AS (SELECT value,
                 SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
                   AS c1x,
                 SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT
                   AS c2x
          FROM ev GROUP BY value),
    cum AS (SELECT SUM(c1x) OVER (ORDER BY value ASC)::BIGINT AS c1,
                   SUM(c2x) OVER (ORDER BY value ASC)::BIGINT AS c2
            FROM c),
    t AS (SELECT SUM(c1x)::BIGINT AS n1, SUM(c2x)::BIGINT AS n2 FROM c)
    SELECT t.n1, t.n2,
           MAX(GREATEST(cum.c1 * t.n2 - cum.c2 * t.n1, 0))::BIGINT
             AS dplus_num,
           MAX(GREATEST(cum.c2 * t.n1 - cum.c1 * t.n2, 0))::BIGINT
             AS dminus_num,
           ((MAX(GREATEST(cum.c1 * t.n2 - cum.c2 * t.n1, 0))
             + MAX(GREATEST(cum.c2 * t.n1 - cum.c1 * t.n2, 0)))::DOUBLE
              / (t.n1::DOUBLE * t.n2::DOUBLE)) AS kuiper_v,
           ((MAX(GREATEST(cum.c1 * t.n2 - cum.c2 * t.n1, 0))
             + MAX(GREATEST(cum.c2 * t.n1 - cum.c1 * t.n2, 0)))::DOUBLE
              / (t.n1::DOUBLE * t.n2::DOUBLE))
             * sqrt((t.n1::DOUBLE * t.n2::DOUBLE)
                    / (t.n1::DOUBLE + t.n2::DOUBLE)) AS kuiper_lambda
    FROM cum CROSS JOIN t GROUP BY t.n1, t.n2
    """,
)
def kuiper_value_drift(spark, sf_dir):
    """Two-sample KUIPER drift test between the `click` and `view`
    value distributions: V = D+ + D- where D+ = sup(F1-F2) and
    D- = sup(F2-F1) — the KS statistic's rotation-invariant sibling,
    equally sensitive ACROSS the whole support where KS concentrates
    power at the median (the canonical pick when tail or cyclic-shift
    drift matters; Kuiper 1960, Stephens 1970). Runs on the identical
    machinery as `ks_value_drift`: one partial-aggregated groupBy to
    the value domain, ONE `global_prefix_agg` CDF pass, and both
    suprema in exact integer cross-multiplied form
    max(max(c1*n2 - c2*n1, 0)) so each max is order-insensitive;
    kuiper_lambda = V * sqrt(n1*n2/(n1+n2)) feeds the V significance
    series. Same 100 TB shape as KS: the value domain rides the range
    partitioner, no unpartitioned window anywhere."""
    from veri_spark.operators.ranking import global_prefix_agg

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    c = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("c1x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("c2x"),
    ).localCheckpoint(eager=False)
    cum = global_prefix_agg(
        c, [F.col("value").asc()], ["c1x", "c2x"], agg="sum",
        out_col=["c1", "c2"],
    )
    t = c.agg(
        F.sum("c1x").cast("bigint").alias("n1"),
        F.sum("c2x").cast("bigint").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    zero = F.lit(0).cast("bigint")
    agg = (
        cum.crossJoin(F.broadcast(t))
        .groupBy("n1", "n2")
        .agg(
            F.max(
                F.greatest(
                    F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"),
                    zero,
                )
            )
            .cast("bigint")
            .alias("dplus_num"),
            F.max(
                F.greatest(
                    F.col("c2") * F.col("n1") - F.col("c1") * F.col("n2"),
                    zero,
                )
            )
            .cast("bigint")
            .alias("dminus_num"),
        )
    )
    v = (F.col("dplus_num") + F.col("dminus_num")).cast("double") / (
        n1d * n2d
    )
    return agg.select(
        "n1",
        "n2",
        "dplus_num",
        "dminus_num",
        v.alias("kuiper_v"),
        (v * F.sqrt((n1d * n2d) / (n1d + n2d))).alias("kuiper_lambda"),
    )
