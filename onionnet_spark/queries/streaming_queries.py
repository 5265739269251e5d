"""Streaming-operator queries (SURVEY §2 #41-43) run in batch mode
for the DuckDB correctness gate; the same transforms run as real
streams (readStream + watermark) in tests/test_events.py.
"""

from __future__ import annotations

from onionnet_spark.core import literal_frame
from onionnet_spark.queries import register
from onionnet_spark.sources.tpch_graph import load_tables
from onionnet_spark.streaming import events as ev


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir)["events"]


@register(
    "events_tumbling",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      ROUND(SUM(value), 6) AS sum_value
    FROM events GROUP BY 1, 2""",
)
def events_tumbling(spark, sf_dir):
    return ev.tumbling_counts(_events(spark, sf_dir))


@register(
    "events_daily_users",
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      ROUND(SUM(value), 6) AS sum_value
    FROM events GROUP BY 1""",
)
def events_daily_users(spark, sf_dir):
    return ev.daily_distinct_users(_events(spark, sf_dir))


@register(
    "events_sliding",
    """WITH starts AS (
      SELECT event_id, event_type,
             make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 * 1000000 AS BIGINT)) AS ws
      FROM events
      UNION ALL
      SELECT event_id, event_type,
             make_timestamp(CAST((floor(epoch(ts) / 1800) - 1) * 1800 * 1000000 AS BIGINT))
      FROM events
    )
    SELECT ws AS window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM starts GROUP BY 1, 2""",
)
def events_sliding(spark, sf_dir):
    return ev.sliding_counts(_events(spark, sf_dir))


@register(
    "events_sessions",
    """WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_id""",
)
def events_sessions(spark, sf_dir):
    return ev.sessionize(_events(spark, sf_dir))


@register(
    "events_json_agg",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
    FROM events GROUP BY event_type""",
)
def events_json_agg(spark, sf_dir):
    return ev.json_props_agg(_events(spark, sf_dir))


# rows-only driver check (HLL sketch values are engine-specific);
# the accuracy bound vs the exact twin is pytest-asserted
# (tests/test_events.py::test_approx_distinct_within_rsd)
@register("events_daily_users_approx", None)
def events_daily_users_approx(spark, sf_dir):
    return ev.daily_distinct_users_approx(_events(spark, sf_dir))


@register(
    "events_rollup",
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      date_trunc('hour', ts) AS hour, event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      ROUND(SUM(value), 6) AS sum_value,
      CAST(0 AS INT) AS gid
    FROM events GROUP BY 1, 2, 3
    UNION ALL
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP), date_trunc('hour', ts), NULL,
      CAST(COUNT(*) AS BIGINT), ROUND(SUM(value), 6), CAST(1 AS INT)
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP), NULL, NULL,
      CAST(COUNT(*) AS BIGINT), ROUND(SUM(value), 6), CAST(3 AS INT)
    FROM events GROUP BY 1
    UNION ALL
    SELECT NULL, NULL, NULL,
      CAST(COUNT(*) AS BIGINT), ROUND(SUM(value), 6), CAST(7 AS INT)
    FROM events""",
)
def events_rollup(spark, sf_dir):
    return ev.time_rollup(_events(spark, sf_dir))


@register(
    "events_funnel",
    # classic ordered-funnel conversion: per user, first view, first
    # click AFTER that view, first purchase AFTER that click; count
    # users reaching each stage
    """WITH v AS (SELECT user_id, MIN(ts) AS t_view
                 FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_view_click_purchase""",
)
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel (view -> click -> purchase): each
    stage is a per-user MIN over events filtered by the previous
    stage's timestamp. Three aggregations on user_id, which all
    co-partition — Catalyst reuses one exchange; no window over the
    whole event stream is needed."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, on="user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, on="user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_view_click_purchase")))
    )


@register(
    "events_retention",
    # cohort retention: users bucketed by first-seen day; n_users
    # active on each later day per cohort
    """WITH f AS (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS TIMESTAMP))
                    AS cohort_day
                  FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
            AS activity_day
          FROM events)
    SELECT f.cohort_day, a.activity_day,
           CAST(date_diff('day', f.cohort_day, a.activity_day) AS INT)
             AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2, 3""",
)
def events_retention(spark, sf_dir):
    """Cohort retention matrix: cohort = first-seen day per user,
    activity = distinct (user, day). Both sides aggregate on
    user_id first (co-partitioned, exchange reused), then one
    shuffle on the (cohort, day) pair — the standard two-phase shape
    that avoids carrying raw events into the final aggregation."""
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    first = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    act = e.select("user_id", day.alias("activity_day")).distinct()
    return (
        act.join(first, on="user_id")
        .groupBy("cohort_day", "activity_day")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .select(
            "cohort_day",
            "activity_day",
            F.datediff("activity_day", "cohort_day").alias("day_offset"),
            "n_users",
        )
    )


@register(
    "events_gapfill",
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             event_type AS key,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(SUM(value), 6) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS d0,
             CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP) AS d1
      FROM events
    ),
    cal AS (
      SELECT k.key, unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS day
      FROM (SELECT DISTINCT event_type AS key FROM events) k CROSS JOIN span s
    )
    SELECT cal.day, cal.key AS event_type,
           CAST(COALESCE(daily.n_events, 0) AS BIGINT) AS n_events,
           CAST(CASE WHEN daily.n_events IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap,
           last_value(daily.sum_value IGNORE NULLS) OVER (
             PARTITION BY cal.key ORDER BY cal.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_locf
    FROM cal LEFT JOIN daily ON daily.day = cal.day AND daily.key = cal.key""",
)
def events_gapfill(spark, sf_dir):
    """time_bucket_gapfill + locf parity: dense per-type daily
    series with zero-filled counts and carried-forward sums."""
    from onionnet_spark.operators import timeseries

    return timeseries.gapfill_daily_locf(_events(spark, sf_dir))


@register(
    "events_anomaly",
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             event_type AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT day, key, n,
             SUM(n) OVER (PARTITION BY key) AS s1,
             SUM(n * n) OVER (PARTITION BY key) AS s2,
             COUNT(*) OVER (PARTITION BY key) AS cnt
      FROM daily
    )
    SELECT day, key AS event_type, CAST(n AS BIGINT) AS n_events,
           ROUND((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / cnt)
                 / sqrt((CAST(s2 AS DOUBLE) - cnt * (CAST(s1 AS DOUBLE) / cnt)
                         * (CAST(s1 AS DOUBLE) / cnt)) / (cnt - 1)), 6) AS z
    FROM st
    WHERE cnt > 1
      AND (CAST(s2 AS DOUBLE) - cnt * (CAST(s1 AS DOUBLE) / cnt)
           * (CAST(s1 AS DOUBLE) / cnt)) / (cnt - 1) > 0
      AND abs(ROUND((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / cnt)
              / sqrt((CAST(s2 AS DOUBLE) - cnt * (CAST(s1 AS DOUBLE) / cnt)
                      * (CAST(s1 AS DOUBLE) / cnt)) / (cnt - 1)), 6)) >= 1.5""",
)
def events_anomaly(spark, sf_dir):
    """z-score outlier days per event type; exact integer-sum
    variance keeps the rounded score engine-independent."""
    from onionnet_spark.operators import timeseries

    return timeseries.anomaly_days(_events(spark, sf_dir), z_threshold=1.5)


@register(
    "events_scd2",
    """SELECT user_id, event_type, value,
      ts AS valid_from,
      lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM events""",
)
def events_scd2(spark, sf_dir):
    """SCD type-2 version history from the event stream: one window
    pass closes each version at the key's next update."""
    from onionnet_spark.operators import timeseries

    return timeseries.scd2_intervals(_events(spark, sf_dir))


@register(
    "events_transitions",
    """WITH seq AS (
      SELECT user_id, event_type AS from_state,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_state
      FROM events
    ),
    t AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
          FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2)
    SELECT from_state, to_state, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_state), 6) AS p
    FROM t""",
)
def events_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: lead within user (one shuffle on user_id), transition
    counts, row-normalized probabilities. The transition matrix is
    |states|^2-bounded, so the normalizing window is tiny."""
    from pyspark.sql import Window, functions as F

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).filter(F.col("to_state").isNotNull())
    t = seq.groupBy("from_state", "to_state").agg(F.count("*").alias("n"))
    wn = Window.partitionBy("from_state")
    return t.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n") / F.sum("n").over(wn), 6).alias("p"),
    )


@register(
    "events_ema",
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             event_type AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    rk AS (
      SELECT day, key, n,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY day) AS rk
      FROM daily
    ),
    y AS (
      SELECT day, key, n, rk,
             CASE WHEN rk = 1 THEN n / 0.7
                  ELSE 0.3 * n / power(0.7, rk) END AS y
      FROM rk
    )
    SELECT day, key AS event_type, n AS n_events,
           ROUND(power(0.7, rk) * SUM(y) OVER (
             PARTITION BY key ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS ema
    FROM y""",
)
def events_ema(spark, sf_dir):
    """EMA(alpha=0.3) of daily counts per event type via the
    closed-form ordered cumulative sum (no iterative loop)."""
    from onionnet_spark.operators import timeseries

    return timeseries.ema_daily(_events(spark, sf_dir), alpha=0.3)


@register(
    "events_changepoints",
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             event_type AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    sc AS (
      SELECT day, key, n,
        SUM(n) OVER (PARTITION BY key ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS s_prev,
        COUNT(n) OVER (PARTITION BY key ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS c_prev,
        SUM(n) OVER (PARTITION BY key ORDER BY day
                     ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS s_next,
        COUNT(n) OVER (PARTITION BY key ORDER BY day
                       ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS c_next
      FROM daily
    )
    SELECT day, key AS event_type, n AS n_events,
           ROUND(abs(CAST(s_next AS DOUBLE) / 3 - CAST(s_prev AS DOUBLE) / 3), 6)
             AS shift
    FROM sc
    WHERE c_prev = 3 AND c_next = 3
      AND ROUND(abs(CAST(s_next AS DOUBLE) / 3 - CAST(s_prev AS DOUBLE) / 3), 6)
          >= 3.0""",
)
def events_changepoints(spark, sf_dir):
    """Two-window mean-shift change-point score over daily counts."""
    from onionnet_spark.operators import timeseries

    return timeseries.changepoint_days(
        _events(spark, sf_dir), window_days=3, threshold=3.0
    )


@register(
    "events_dow_profile",
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             event_type AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    prof AS (
      SELECT key, CAST(dayofweek(day) + 1 AS INT) AS dow,
             CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1, 2
    )
    SELECT key AS event_type, dow,
           ROUND(CAST(total AS DOUBLE) / n_days, 6) AS mean_daily,
           ROUND(CAST(total AS DOUBLE)
                 / SUM(total) OVER (PARTITION BY key), 6) AS share
    FROM prof""",
)
def events_dow_profile(spark, sf_dir):
    """Weekly seasonality profile per event type (Spark dayofweek is
    1=Sunday; DuckDB dayofweek is 0=Sunday, shifted to match)."""
    from onionnet_spark.operators import timeseries

    return timeseries.day_of_week_profile(_events(spark, sf_dir))


@register(
    "events_interarrival",
    """WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
      FROM events)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           ROUND(SUM(gap_us) / 1000000.0 / COUNT(gap_us), 6) AS mean_gap_s,
           ROUND(MAX(gap_us) / 1000000.0, 6) AS max_gap_s
    FROM g GROUP BY user_id""",
)
def events_interarrival(spark, sf_dir):
    """Per-user event cadence: gap stats over integer epoch-micros
    (tie order cannot change the gap multiset of a sorted sequence,
    so the result is engine-exact)."""
    from onionnet_spark.operators import timeseries

    return timeseries.interarrival_stats(_events(spark, sf_dir))


@register(
    "events_daily_topk",
    """WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2)
    SELECT day, event_type, n_events, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY day
                ORDER BY n_events DESC, event_type) AS INT) AS rank
      FROM c)
    WHERE rank <= 3""",
)
def events_daily_topk(spark, sf_dir):
    """Top-3 trending event types per day (rank windows are per-day,
    bounded by the event-type count)."""
    from onionnet_spark.operators import timeseries

    return timeseries.daily_topk_types(_events(spark, sf_dir), k=3)


@register(
    "events_rolling_features",
    """WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
             CAST(floor(value * 1000000) AS BIGINT) AS vq
      FROM events)
    SELECT user_id, event_id, epoch,
           CAST(epoch - LAG(epoch) OVER (PARTITION BY user_id
                ORDER BY epoch, event_id) AS BIGINT) AS gap_s,
           CAST(COUNT(*) OVER w AS BIGINT) AS cnt_w,
           ROUND(SUM(vq) OVER w / 1000000.0, 6) AS sum_w
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)""",
)
def events_rolling_features(spark, sf_dir):
    """Per-event trailing-7-day rolling features (gap to previous
    event, count, integer-exact value sum) via RANGE-frame windows —
    one shuffle on the key, no self-join."""
    from onionnet_spark.operators import timeseries

    return timeseries.rolling_features(_events(spark, sf_dir))


@register(
    "events_session_paths",
    """WITH e AS (
      SELECT user_id AS key, event_id AS eid,
             CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
             event_type AS etype
      FROM events),
    g AS (
      SELECT *, CASE WHEN lag(epoch) OVER w IS NULL
                       OR epoch - lag(epoch) OVER w > 1800
                     THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY key ORDER BY epoch, eid)),
    s AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY key ORDER BY epoch, eid
                                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g),
    p AS (SELECT key, session_id,
                 string_agg(etype, '>' ORDER BY epoch, eid) AS path
          FROM s GROUP BY 1, 2),
    top AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
            FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS INT)
             AS rank,
           path, n_sessions
    FROM top""",
)
def events_session_paths(spark, sf_dir):
    """Top-20 session journey paths (gap sessionization + in-order
    type sequence + global top-k)."""
    from onionnet_spark.streaming.events import session_paths

    return session_paths(_events(spark, sf_dir))


@register(
    "events_active_users",
    """WITH ud AS (
      SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
      FROM events),
    span AS (SELECT DISTINCT d AS day FROM ud),
    fan AS (
      SELECT u, o.o AS off, CAST(d + o.o * INTERVAL 1 DAY AS TIMESTAMP) AS rd
      FROM ud CROSS JOIN range(0, 30) o(o)),
    per AS (
      SELECT rd AS day_d,
             COUNT(DISTINCT CASE WHEN off = 0 THEN u END) AS dau,
             COUNT(DISTINCT CASE WHEN off <= 6 THEN u END) AS wau,
             COUNT(DISTINCT u) AS mau
      FROM fan GROUP BY rd)
    SELECT span.day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau
    FROM span JOIN per ON per.day_d = span.day""",
)
def events_active_users(spark, sf_dir):
    """Exact DAU/WAU/MAU per day via the bounded day-offset fan-out
    (no event-level blow-up, no sliding COUNT DISTINCT window)."""
    from onionnet_spark.operators.timeseries import active_users_rolling

    return active_users_rolling(_events(spark, sf_dir))


@register(
    "events_cohort_ltv",
    # cohort lifetime-value curves: per (first-seen day, age) revenue
    # and the running cumulative per cohort; the cumulative window
    # runs over the bounded (cohort, age) cell table, never events.
    # Cell revenues are 6dp-rounded BEFORE the running sum so both
    # engines accumulate identical doubles in identical order.
    """WITH f AS (SELECT user_id,
                         MIN(CAST(date_trunc('day', ts) AS TIMESTAMP))
                           AS cohort_day
                  FROM events GROUP BY user_id),
    sz AS (SELECT cohort_day, COUNT(*) AS n_users FROM f GROUP BY 1),
    cells AS (
      SELECT f.cohort_day,
             CAST(date_diff('day', f.cohort_day,
                            CAST(date_trunc('day', e.ts) AS TIMESTAMP))
                  AS INT) AS age_days,
             ROUND(SUM(e.value), 6) AS revenue
      FROM events e JOIN f USING (user_id)
      GROUP BY 1, 2)
    SELECT c.cohort_day, c.age_days, CAST(s.n_users AS BIGINT) AS n_users,
           c.revenue,
           ROUND(SUM(c.revenue) OVER (
             PARTITION BY c.cohort_day ORDER BY c.age_days
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS cum_revenue
    FROM cells c JOIN sz s USING (cohort_day)""",
)
def events_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves: revenue by (first-seen day, age in days)
    with the running cumulative per cohort — the growth-accounting
    readout next to events_retention. Two-phase like retention (per
    user first, then the bounded cell table); the cumulative window
    runs over |days|^2 cells only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    first = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    sz = first.groupBy("cohort_day").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    cells = (
        e.join(first, on="user_id")
        .groupBy(
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).cast("int").alias("age_days"),
        )
        .agg(F.round(F.sum("value"), 6).alias("revenue"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )  # bounded: |days|^2 cohort-age cells
    return (
        cells.join(F.broadcast(sz), on="cohort_day")
        .select(
            "cohort_day",
            "age_days",
            "n_users",
            "revenue",
            F.round(F.sum("revenue").over(w), 6).alias("cum_revenue"),
        )
    )


@register(
    "events_attribution",
    """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts, value
           FROM events WHERE event_type = 'purchase'),
    pre AS (SELECT p.pid, e.event_type, e.ts, e.event_id
            FROM p JOIN events e ON e.user_id = p.user_id
             AND (e.ts < p.pts OR (e.ts = p.pts AND e.event_id < p.pid))
             AND e.event_type <> 'purchase'),
    ft AS (SELECT pid, event_type AS ch FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ts, event_id)
          AS rn FROM pre) WHERE rn = 1),
    lt AS (SELECT pid, event_type AS ch FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY pid
          ORDER BY ts DESC, event_id DESC) AS rn FROM pre) WHERE rn = 1),
    both_m AS (
      SELECT 'first_touch' AS model, COALESCE(ft.ch, 'direct') AS channel,
             p.value FROM p LEFT JOIN ft ON ft.pid = p.pid
      UNION ALL
      SELECT 'last_touch', COALESCE(lt.ch, 'direct'), p.value
      FROM p LEFT JOIN lt ON lt.pid = p.pid)
    SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM both_m GROUP BY model, channel""",
)
def events_attribution(spark, sf_dir):
    """First-touch vs last-touch marketing attribution: each purchase
    credits its revenue to the user's earliest / latest preceding
    non-purchase event type ('direct' when none). Revenue is
    cent-quantized BEFORE summation so totals are BIGINT-exact.
    One pass, two windows partitioned by user — no per-purchase
    joins on the Spark side."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    ev_df = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonp = F.when(
        F.col("event_type") != "purchase",
        F.struct("ts", "event_id", "event_type"),
    )
    enriched = ev_df.select(
        "event_id",
        "event_type",
        "value",
        F.first(nonp, ignorenulls=True).over(w)["event_type"].alias("ft_ch"),
        F.last(nonp, ignorenulls=True).over(w)["event_type"].alias("lt_ch"),
    ).filter(F.col("event_type") == "purchase")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    stacked = enriched.select(
        F.lit("first_touch").alias("model"),
        F.coalesce("ft_ch", F.lit("direct")).alias("channel"),
        cents.alias("cents"),
    ).unionByName(
        enriched.select(
            F.lit("last_touch").alias("model"),
            F.coalesce("lt_ch", F.lit("direct")).alias("channel"),
            cents.alias("cents"),
        )
    )
    return stacked.groupBy("model", "channel").agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


@register(
    "events_user_features",
    """WITH g AS (SELECT CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP) AS gmax
                  FROM events)
    SELECT user_id,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_purchases,
      CAST(SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT)
        AS revenue_cents,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_errors,
      CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS active_days,
      CAST(MIN(ts) AS TIMESTAMP) AS first_seen,
      CAST(MAX(ts) AS TIMESTAMP) AS last_seen,
      CAST(date_diff('day', date_trunc('day', MAX(ts)),
                     (SELECT gmax FROM g)) AS INT) AS recency_days
    FROM events GROUP BY user_id""",
)
def events_user_features(spark, sf_dir):
    """Per-user feature table for churn/LTV modeling — frequency,
    monetary (cent-exact), error rate inputs, activity span and
    recency vs the corpus horizon, in ONE aggregation pass plus a
    broadcast scalar horizon. The feature-engineering step before
    any user-level model."""
    from pyspark.sql import functions as F

    ev_df = _events(spark, sf_dir)
    gmax = ev_df.agg(
        F.date_trunc("day", F.max("ts")).alias("gmax")
    )
    feats = ev_df.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("long"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("revenue_cents"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
        F.countDistinct(F.date_trunc("day", F.col("ts")))
        .cast("bigint")
        .alias("active_days"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )
    return feats.crossJoin(F.broadcast(gmax)).select(
        "user_id",
        "n_events",
        "n_purchases",
        "revenue_cents",
        "n_errors",
        "active_days",
        "first_seen",
        "last_seen",
        F.datediff(F.col("gmax"), F.date_trunc("day", F.col("last_seen")))
        .cast("int")
        .alias("recency_days"),
    )


def _stationary_oracle(rounds: int = 6) -> str:
    """Unrolls the integer power iteration over the empirical
    transition matrix: mass in micro-units, per-(i,j) term
    (pi_i * n_ij) // n_i summed exactly — engine-identical
    iterates, one final share division."""
    ctes = [
        """seq AS (
      SELECT user_id, event_type AS f,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS t
      FROM events)""",
        """tm AS MATERIALIZED (
      SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n FROM seq
      WHERE t IS NOT NULL GROUP BY f, t)""",
        "fo AS MATERIALIZED (SELECT f, SUM(n) AS nf FROM tm GROUP BY f)",
        "st AS MATERIALIZED (SELECT DISTINCT event_type AS s FROM events)",
        """p0 AS MATERIALIZED (
      SELECT s, CAST(1000000 // (SELECT COUNT(*) FROM st) AS BIGINT) AS m
      FROM st)""",
    ]
    prev = "p0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
      SELECT st.s, CAST(COALESCE(x.m, 0) AS BIGINT) AS m
      FROM st LEFT JOIN (
        SELECT tm.t AS s, SUM((p.m * tm.n) // fo.nf) AS m
        FROM {prev} p JOIN tm ON tm.f = p.s JOIN fo ON fo.f = p.s
        GROUP BY tm.t) x ON x.s = st.s)"""
        )
        prev = f"p{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT s AS state, CAST(m AS BIGINT) AS pi_micro,
           ROUND(m * 1.0 / (SELECT SUM(m) FROM {prev}), 6) AS pi
    FROM {prev}"""
    )


@register("events_markov_stationary", _stationary_oracle())
def events_markov_stationary(spark, sf_dir):
    """Stationary distribution of the per-user event Markov chain:
    integer power iteration (6 rounds, micro-unit mass, per-term
    floor division) over the empirical transition matrix — where the
    user journey settles. States with no outbound transitions shed
    mass (documented; the fixture chain is fully connected)."""
    from pyspark.sql import Window, functions as F

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("f"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    tm = seq.groupBy("f", "t").agg(F.count("*").alias("n")).localCheckpoint()
    fo = tm.groupBy("f").agg(F.sum("n").alias("nf"))
    states = e.select(F.col("event_type").alias("s")).distinct().localCheckpoint()
    n_states = states.count()
    pi = states.select(
        "s", F.lit(1_000_000 // n_states).cast("bigint").alias("m")
    )
    for _ in range(6):
        inbound = (
            pi.join(tm, on=pi["s"] == tm["f"])
            .join(fo, on="f")
            .select(
                F.col("t").alias("s2"),
                F.expr("CAST((m * n) div nf AS BIGINT)").alias("term"),
            )
            .groupBy("s2")
            .agg(F.sum("term").alias("m"))
        )
        pi = states.join(
            inbound, on=states["s"] == inbound["s2"], how="left"
        ).select("s", F.coalesce("m", F.lit(0)).cast("bigint").alias("m"))
    total = pi.agg(F.sum("m").alias("tot"))
    return pi.crossJoin(F.broadcast(total)).select(
        F.col("s").alias("state"),
        F.col("m").cast("bigint").alias("pi_micro"),
        F.round(F.col("m") / F.col("tot"), 6).alias("pi"),
    )


@register(
    "events_funnel_windowed",
    # TIME-BOUNDED funnel: a view converts iff a purchase by the same
    # user lands within 24h AFTER it (events_funnel's staged MINs
    # ignore the bound). Deltas sum as exact whole seconds.
    """WITH v AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    conv AS (
      SELECT v.event_id, v.user_id, v.ts,
             MIN(p.ts) AS first_purchase_ts
      FROM v JOIN p ON p.user_id = v.user_id
        AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 24 HOUR
      GROUP BY 1, 2, 3)
    SELECT CAST(v.ts AS DATE) AS view_date,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(COUNT(c.first_purchase_ts) AS BIGINT) AS n_converted,
           ROUND(COUNT(c.first_purchase_ts) * 1.0 / COUNT(*), 6)
             AS conversion_rate,
           CAST(COALESCE(SUM(CAST(date_diff('second', c.ts,
                     c.first_purchase_ts) AS BIGINT)), 0) AS BIGINT)
             AS total_latency_sec
    FROM v LEFT JOIN conv c ON c.event_id = v.event_id
    GROUP BY 1""",
)
def events_funnel_windowed_q(spark, sf_dir):
    """Time-bounded conversion funnel: per view day, how many views
    led to a purchase by the same user within 24 HOURS (the staged-
    MIN funnel has no deadline). One equi-join on user_id with the
    time band as a join-side filter — per-user event counts are
    bounded, so the join never fans out beyond a user's own
    purchases; latency sums as exact whole seconds (BIGINT)."""
    from pyspark.sql import functions as F

    ev_df = _events(spark, sf_dir)
    v = ev_df.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    # explicit rename on the purchase side: a v["user_id"] ==
    # p["user_id"] condition on two frames derived from the SAME
    # source resolves to a trivially-true self-equality (Spark warns
    # and the join degenerates) — never join a self-derived frame on
    # same-named raw columns
    p = ev_df.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("pts")
    )
    conv = (
        v.join(
            p,
            on=(
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("pts") > F.col("ts"))
                & (F.col("pts") <= F.col("ts") + F.expr("INTERVAL 24 HOURS"))
            ),
        )
        .groupBy("event_id")
        .agg(F.min("pts").alias("first_purchase_ts"))
    )
    joined = v.join(conv, on="event_id", how="left")
    return joined.groupBy(F.to_date("ts").alias("view_date")).agg(
        F.count("*").cast("bigint").alias("n_views"),
        F.count("first_purchase_ts").cast("bigint").alias("n_converted"),
        F.round(
            F.count("first_purchase_ts") / F.count("*"), 6
        ).alias("conversion_rate"),
        F.coalesce(
            F.sum(
                (
                    F.unix_timestamp("first_purchase_ts")
                    - F.unix_timestamp("ts")
                ).cast("bigint")
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("total_latency_sec"),
    )


@register(
    "events_stl_decompose",
    # STL-lite: trend = centered 7-day MA over the dense daily count
    # series (integer sums / 7.0); seasonal = per-weekday mean of the
    # 1e-6-quantized detrended values (integer sums again); residual
    # = detrended - seasonal. Edge days (incomplete MA window) carry
    # NULL trend and drop from the seasonal fit, like statsmodels'
    # two-sided default.
    """WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    tr AS (
      SELECT d, n,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN SUM(n) OVER w / 7.0 END AS trend
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT d, n, trend,
             CAST(floor((n - trend) * 1000000 + 0.5) AS BIGINT) AS detq,
             CAST(EXTRACT(isodow FROM d) AS INT) AS dow
      FROM tr),
    seas AS (
      SELECT dow, SUM(detq) / COUNT(*) / 1000000.0 AS s
      FROM det WHERE detq IS NOT NULL GROUP BY dow)
    SELECT det.d AS day, det.n AS n_events,
           ROUND(det.trend, 6) AS trend,
           ROUND(seas.s, 6) AS seasonal,
           ROUND(det.detq / 1000000.0 - seas.s, 6) AS residual
    FROM det JOIN seas USING (dow)
    WHERE det.detq IS NOT NULL""",
)
def events_stl_decompose_q(spark, sf_dir):
    """STL-lite seasonal decomposition of the daily event-count
    series: centered 7-day moving-average trend, per-weekday
    seasonal means over the detrended series, residual — the
    decomposition behind seasality-aware anomaly alerts. Counts are
    exact integers; detrended values quantize to 1e-6 BIGINTs before
    the seasonal mean so every component is engine-exact. The daily
    series is one groupBy; the MA window is 7 rows per partition-free
    series of ~365 rows/year — a BOUNDED frame, not corpus-sized."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    daily = (
        _events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.withColumn(
        "trend",
        F.when(F.count("*").over(w) == 7, F.sum("n_events").over(w) / 7.0),
    )
    det = tr.select(
        "day",
        "n_events",
        "trend",
        F.floor((F.col("n_events") - F.col("trend")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("detq"),
        F.dayofweek(F.date_sub("day", 1)).cast("int").alias("dow"),
    ).filter(F.col("detq").isNotNull())
    seas = det.groupBy("dow").agg(
        (F.sum("detq") / F.count("*") / 1e6).alias("s")
    )
    return det.join(F.broadcast(seas), on="dow").select(
        "day",
        "n_events",
        F.round("trend", 6).alias("trend"),
        F.round("s", 6).alias("seasonal"),
        F.round(F.col("detq") / 1e6 - F.col("s"), 6).alias("residual"),
    )


@register(
    "events_debounce",
    # debounce/throttle: an event is SUPPRESSED when the same
    # (user, type) fired within the preceding 5 minutes — the
    # client-retry / double-click cleaner every event pipeline runs
    """WITH lagged AS (
      SELECT event_type, ts,
             LAG(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                      OR date_diff('second', prev_ts, ts) > 300
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN prev_ts IS NOT NULL
                       AND date_diff('second', prev_ts, ts) <= 300
                     THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS suppressed_rate
    FROM lagged GROUP BY event_type""",
)
def events_debounce_q(spark, sf_dir):
    """Debounce audit: per event type, how many events survive a
    5-minute same-(user,type) throttle — one lag window PARTITIONED
    by (user, type) (per-user data, never a global sort), exact
    whole-second deltas."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagged = _events(spark, sf_dir).withColumn("prev_ts", F.lag("ts").over(w))
    gap = F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
    kept = F.when(F.col("prev_ts").isNull() | (gap > 300), 1).otherwise(0)
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.round(F.sum(1 - kept) / F.count("*"), 6).alias("suppressed_rate"),
    )


@register(
    "events_attribution_ushape",
    # position-based (U-shaped / 40-20-40) attribution with an exact
    # integer split in micro-cents: n=1 -> all; n=2 -> floor-half /
    # remainder; n>=3 -> floor(2/5) ends, middles share the rest
    # equally, division remainder goes to the FIRST touch. Totals are
    # conserved by construction.
    """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts,
           CAST(ROUND(value * 100, 0) AS BIGINT) * 10000 AS base
           FROM events WHERE event_type = 'purchase'),
    pre AS (SELECT p.pid, p.base, e.event_type AS ch, e.ts, e.event_id
            FROM p JOIN events e ON e.user_id = p.user_id
             AND (e.ts < p.pts OR (e.ts = p.pts AND e.event_id < p.pid))
             AND e.event_type <> 'purchase'),
    pos AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY pid
              ORDER BY ts, event_id) AS rn,
              COUNT(*) OVER (PARTITION BY pid) AS n
            FROM pre),
    credit AS (
      SELECT ch,
        CASE
          WHEN n = 1 THEN base
          WHEN n = 2 AND rn = 1 THEN base // 2
          WHEN n = 2 AND rn = 2 THEN base - base // 2
          WHEN rn = 1 THEN (base * 2) // 5
            + (base - 2 * ((base * 2) // 5))
            - ((base - 2 * ((base * 2) // 5)) // (n - 2)) * (n - 2)
          WHEN rn = n THEN (base * 2) // 5
          ELSE (base - 2 * ((base * 2) // 5)) // (n - 2)
        END AS mc
      FROM pos),
    direct AS (
      SELECT 'direct' AS ch, base AS mc FROM p
      WHERE pid NOT IN (SELECT DISTINCT pid FROM pre)),
    allc AS (SELECT * FROM credit UNION ALL SELECT * FROM direct)
    SELECT ch AS channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(mc) AS BIGINT) AS credit_microcents
    FROM allc GROUP BY ch""",
)
def events_attribution_ushape_q(spark, sf_dir):
    """Position-based (U-shaped) attribution: 40% of a purchase's
    revenue to the user's first preceding touch, 40% to the last,
    20% shared by the middles — the martech model between the
    first/last-touch extremes. The split is EXACT integer
    arithmetic in micro-cents (floor shares, remainder to the first
    touch), so channel totals conserve revenue to the unit. Join on
    user_id (per-user fanout bounded), windows partitioned by
    purchase."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev_df = _events(spark, sf_dir)
    p = ev_df.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("pts"),
        (F.round(F.col("value") * 100, 0).cast("bigint") * 10000).alias(
            "base"
        ),
    )
    pre = p.join(
        ev_df.filter(F.col("event_type") != "purchase").select(
            "user_id", F.col("event_type").alias("ch"), "ts", "event_id"
        ),
        on=(
            (F.col("user_id") == F.col("p_user_id"))
            & (
                (F.col("ts") < F.col("pts"))
                | ((F.col("ts") == F.col("pts")) & (F.col("event_id") < F.col("pid")))
            )
        ),
    ).select("pid", "base", "ch", "ts", "event_id")
    w = Window.partitionBy("pid").orderBy("ts", "event_id")
    wn = Window.partitionBy("pid")
    pos = pre.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    base, n, rn = F.col("base"), F.col("n"), F.col("rn")
    end40 = F.floor(base * 2 / 5).cast("bigint")
    midpot = base - 2 * end40
    mid_each = F.floor(midpot / (n - 2)).cast("bigint")
    credit = (
        F.when(n == 1, base)
        .when((n == 2) & (rn == 1), F.floor(base / 2).cast("bigint"))
        .when((n == 2) & (rn == 2), base - F.floor(base / 2).cast("bigint"))
        .when(rn == 1, end40 + midpot - mid_each * (n - 2))
        .when(rn == n, end40)
        .otherwise(mid_each)
    )
    credited = pos.select("ch", credit.alias("mc"))
    direct = p.join(
        pre.select("pid").distinct(), on="pid", how="left_anti"
    ).select(F.lit("direct").alias("ch"), F.col("base").alias("mc"))
    return (
        credited.unionByName(direct)
        .groupBy(F.col("ch").alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_credits"),
            F.sum("mc").cast("bigint").alias("credit_microcents"),
        )
    )


@register(
    "events_user_lorenz",
    # user-concentration Lorenz deciles over event counts (the "top
    # 20% of users generate X%" curve); integer counts throughout
    """WITH ue AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    rk AS (SELECT user_id, x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS rn,
                  COUNT(*) OVER () AS n FROM ue),
    dec AS (
      SELECT CAST(ceil(rn * 10.0 / n) AS INT) AS decile,
             CAST(SUM(x) AS BIGINT) AS dx,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM rk GROUP BY 1)
    SELECT decile, n_users, dx AS n_events,
           ROUND(CAST(SUM(dx) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST((SELECT SUM(x) FROM ue) AS DOUBLE), 6)
             AS cum_share
    FROM dec""",
)
def events_user_lorenz_q(spark, sf_dir):
    """User-activity Lorenz deciles: users ranked by event count via
    the distributed global_rank, cumulative share per decile from
    exact integer sums — the engagement-concentration curve growth
    teams track. The cumulative window runs over the 10-row decile
    table, never the data."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from onionnet_spark.functions.corpus import global_rank

    ue = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    n = ue.count()
    ranked = global_rank(ue, "x", "user_id", rank_col="rn")
    dec = ranked.groupBy(
        F.ceil(F.col("rn") * 10.0 / n).cast("int").alias("decile")
    ).agg(
        F.sum("x").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_users"),
    )
    total = ue.agg(F.sum("x").alias("t"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dec.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_users",
            "n_events",
            F.round(
                F.sum("n_events").over(w).cast("double") / F.col("t").cast("double"),
                6,
            ).alias("cum_share"),
        )
    )


@register(
    "events_ab_test",
    # two-proportion A/B readout: deterministic variant assignment
    # (user_id parity — the hash-bucket assignment every experiment
    # platform uses, reduced to its SQL-replayable core), conversion
    # = user ever purchased, pooled z-score on the rate gap
    """WITH u AS (
      SELECT user_id,
             CAST(user_id % 2 AS INT) AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1),
    s AS (SELECT
      SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
      SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS c_a,
      SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
      SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS c_b
    FROM u)
    SELECT CAST(n_a AS BIGINT) AS n_users_a,
           CAST(c_a AS BIGINT) AS n_conv_a,
           ROUND(c_a * 1.0 / n_a, 6) AS rate_a,
           CAST(n_b AS BIGINT) AS n_users_b,
           CAST(c_b AS BIGINT) AS n_conv_b,
           ROUND(c_b * 1.0 / n_b, 6) AS rate_b,
           CASE WHEN c_a + c_b = 0 OR c_a + c_b = n_a + n_b THEN NULL
                ELSE ROUND((c_a * 1.0 / n_a - c_b * 1.0 / n_b)
                     / sqrt(((c_a + c_b) * 1.0 / (n_a + n_b))
                            * (1.0 - (c_a + c_b) * 1.0 / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_score
    FROM s""",
)
def events_ab_test(spark, sf_dir):
    """A/B experiment readout: deterministic variant split (user_id
    parity), per-user conversion flag (ever purchased), and the
    pooled two-proportion z-score — the growth-analytics primitive
    behind every experimentation dashboard. One per-user aggregation
    (shuffle keyed on user_id) folding into a single conditional-sum
    row; the z arithmetic runs on that 1-row frame. IEEE-exact
    across engines: every input to the float math is an integer and
    the expression tree is written identically on both sides."""
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 150.0),
                1,
            ).otherwise(0)
        ).alias("conv")
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    s = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).alias("c_b"),
    )
    p_pool = (F.col("c_a") + F.col("c_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    z = (
        (F.col("c_a") * 1.0 / F.col("n_a") - F.col("c_b") * 1.0 / F.col("n_b"))
        / F.sqrt(
            p_pool * (F.lit(1.0) - p_pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        )
    )
    return s.select(
        F.col("n_a").cast("bigint").alias("n_users_a"),
        F.col("c_a").cast("bigint").alias("n_conv_a"),
        F.round(F.col("c_a") * 1.0 / F.col("n_a"), 6).alias("rate_a"),
        F.col("n_b").cast("bigint").alias("n_users_b"),
        F.col("c_b").cast("bigint").alias("n_conv_b"),
        F.round(F.col("c_b") * 1.0 / F.col("n_b"), 6).alias("rate_b"),
        # degenerate experiments (0% or 100% pooled conversion) have
        # zero pooled variance: z is NULL, never a divide-by-zero
        F.when(
            (F.col("c_a") + F.col("c_b") == 0)
            | (F.col("c_a") + F.col("c_b") == F.col("n_a") + F.col("n_b")),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(z, 6))
        .alias("z_score"),
    )


@register(
    "events_weekly_growth",
    # growth dashboard: week-over-week event-count growth per event
    # type — lag window PARTITIONED BY type over the tiny weekly
    # aggregate (never over raw events); first week per type has no
    # prior and is excluded on both sides
    """WITH w AS (
      SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type, week, n_events,
             LAG(n_events) OVER (
               PARTITION BY event_type ORDER BY week) AS prev
      FROM w)
    SELECT event_type, week, n_events,
           CAST(prev AS BIGINT) AS prev_events,
           ROUND((n_events - prev) * 1.0 / prev, 6) AS wow_growth
    FROM g WHERE prev IS NOT NULL""",
)
def events_weekly_growth(spark, sf_dir):
    """Week-over-week growth per event type: one aggregation of the
    event stream to (type, week) counts, then a lag window over that
    TINY table partitioned by type — the growth-dashboard companion
    to orders_revenue_mom on the events side. The window never sees
    raw events; integer counts, one final division."""
    from pyspark.sql import Window, functions as F

    e = _events(spark, sf_dir)
    w = e.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("week")
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    win = Window.partitionBy("event_type").orderBy("week")
    g = w.withColumn("prev", F.lag("n_events").over(win)).filter(
        F.col("prev").isNotNull()
    )
    return g.select(
        "event_type",
        "week",
        "n_events",
        F.col("prev").cast("bigint").alias("prev_events"),
        F.round((F.col("n_events") - F.col("prev")) * 1.0 / F.col("prev"), 6)
        .alias("wow_growth"),
    )


@register(
    "events_autocorr",
    # lag-1..7 autocorrelation of the daily event-count series.
    # Exact-integer algebra: with S=sum(x), SS=sum(x^2), T=n_days,
    # P_k=sum(x_t*x_{t-k}), Q_k=sum over pairs of (x_t+x_{t-k}),
    # acf_k = (P_k*T^2 - S*Q_k*T + (T-k)*S^2) / (SS*T^2 - S^2*T)
    # — every term is a BIGINT, so the sum order can't drift; ONE
    # float division at the end. Pairs come from a date-offset
    # self-join of the tiny daily aggregate (never raw events).
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    tot AS (
      SELECT COUNT(*) AS t, SUM(x) AS s, SUM(x * x) AS ss FROM daily),
    lags AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) l(k)),
    pairs AS (
      SELECT l.k,
             COUNT(*) AS n_pairs,
             SUM(a.x * b.x) AS p,
             SUM(a.x + b.x) AS q
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day - l.k * INTERVAL 1 DAY
      GROUP BY 1)
    SELECT p.k AS lag, CAST(p.n_pairs AS BIGINT) AS n_pairs,
           ROUND((p.p * t.t * t.t - t.s * p.q * t.t + p.n_pairs * t.s * t.s)
                 * 1.0 / (t.ss * t.t * t.t - t.s * t.s * t.t), 6) AS acf
    FROM pairs p CROSS JOIN tot t""",
)
def events_autocorr(spark, sf_dir):
    """Autocorrelation function of daily event volume at lags 1-7 —
    the seasonality detector behind forecast-model selection. Raw
    events collapse once to the bounded (day, count) series; lagged
    pairs are a broadcast date-offset self-join of that series, and
    all moments accumulate as exact BIGINTs (see oracle comment), so
    the only float is the final ratio. Nothing here scales with raw
    event count except the first aggregation."""
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))
    tot = daily.agg(
        F.count("*").alias("t"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(
            b,
            F.col("b.day") == F.expr("date_add(a.day, -k)"),
        )
        .groupBy("k")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("a.x") * F.col("b.x")).alias("p"),
            F.sum(F.col("a.x") + F.col("b.x")).alias("q"),
        )
    )
    t, s, ss = F.col("t"), F.col("s"), F.col("ss")
    p, q, np_ = F.col("p"), F.col("q"), F.col("n_pairs")
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("k").alias("lag"),
        np_.cast("bigint").alias("n_pairs"),
        F.round(
            (p * t * t - s * q * t + np_ * s * s)
            * 1.0
            / (ss * t * t - s * s * t),
            6,
        ).alias("acf"),
    )


@register(
    "events_cusum_drift",
    # CUSUM drift scan per event type: cumulative deviation of the
    # daily count from the type's own mean, kept exact by scaling
    # through T (D_t*T = T*cum_t - t*S, all BIGINT); the peak day is
    # the earliest day attaining the scaled max (integer equality,
    # no float argmax). Windows run over the bounded per-type daily
    # series, never over raw events.
    """WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT event_type, day, x,
             SUM(x) OVER (PARTITION BY event_type ORDER BY day) AS cum,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
             SUM(x) OVER (PARTITION BY event_type) AS s,
             COUNT(*) OVER (PARTITION BY event_type) AS t
      FROM daily),
    d AS (
      SELECT event_type, day, t, s,
             t * cum - i * s AS dev_scaled
      FROM c),
    m AS (
      SELECT event_type, t, s,
             MAX(dev_scaled) AS max_dev, MIN(dev_scaled) AS min_dev
      FROM d GROUP BY 1, 2, 3)
    SELECT m.event_type, CAST(m.t AS BIGINT) AS n_days,
           ROUND(m.max_dev * 1.0 / m.t, 6) AS max_cusum,
           ROUND(m.min_dev * 1.0 / m.t, 6) AS min_cusum,
           MIN(d.day) AS peak_day
    FROM m JOIN d ON d.event_type = m.event_type
                 AND d.dev_scaled = m.max_dev
    GROUP BY 1, 2, 3, 4""",
)
def events_cusum_drift(spark, sf_dir):
    """CUSUM change surface per event type: the running sum of
    (daily count - type mean) peaks where the rate regime shifts —
    max/min excursion plus the earliest peak day. Raw events fold
    once to (type, day); every window is partitioned by type over
    that bounded series; the deviation is integer-scaled by T so
    the extremes and the argmax-day equality are exact, with one
    unscaling division per output row."""
    from pyspark.sql import Window, functions as F

    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))
    wt = Window.partitionBy("event_type")
    wcum = wt.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = daily.select(
        "event_type",
        "day",
        F.sum("x").over(wcum).alias("cum"),
        F.row_number().over(wt.orderBy("day")).alias("i"),
        F.sum("x").over(wt).alias("s"),
        F.count("*").over(wt).alias("t"),
    )
    d = c.select(
        "event_type",
        "day",
        "t",
        (F.col("t") * F.col("cum") - F.col("i") * F.col("s")).alias(
            "dev_scaled"
        ),
    )
    m = d.groupBy("event_type").agg(
        F.max("dev_scaled").alias("max_dev"),
        F.min("dev_scaled").alias("min_dev"),
    )
    return (
        d.join(F.broadcast(m), "event_type")
        .filter(F.col("dev_scaled") == F.col("max_dev"))
        .groupBy(
            "event_type",
            F.col("t").cast("bigint").alias("n_days"),
            F.round(F.col("max_dev") * 1.0 / F.col("t"), 6).alias("max_cusum"),
            F.round(F.col("min_dev") * 1.0 / F.col("t"), 6).alias("min_cusum"),
        )
        .agg(F.min("day").alias("peak_day"))
    )


@register(
    "events_user_type_entropy",
    # behavioral diversity feature: per-user Shannon entropy of the
    # event-type mix, H = ln(n) - sum(c*ln(c))/n from integer counts
    # only — the same H = -sum(p ln p) rewritten so every input to
    # the float expression is a BIGINT aggregate (identical tree on
    # both engines). One shuffle keyed by user.
    """WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    u AS (
      SELECT user_id, SUM(c) AS n, COUNT(*) AS n_types,
             SUM(c * ln(c)) AS clnc
      FROM c GROUP BY 1)
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           ROUND(ln(n) - clnc / n, 6) AS type_entropy
    FROM u""",
)
def events_user_type_entropy(spark, sf_dir):
    """Per-user event-type entropy — the engagement-diversity
    feature (0 = single-type bot-like, ln(K) = uniform across K
    types) used for user segmentation and bot filtering. Two
    aggregations keyed by user; entropy is computed from integer
    counts via H = ln(n) - sum(c ln c)/n so both engines evaluate
    the identical float tree."""
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    u = c.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clnc"),
    )
    return u.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("n_types").cast("bigint").alias("n_types"),
        F.round(F.log(F.col("n")) - F.col("clnc") / F.col("n"), 6).alias(
            "type_entropy"
        ),
    )


@register(
    "events_seasonal_naive_eval",
    # forecast-baseline scorecard: seasonal-naive (x_hat_t = x_{t-7})
    # on daily per-type counts. MAE is an integer |diff| sum over an
    # integer count; sMAPE quantizes each bounded per-day term to
    # integer ppm BEFORE summing (the sum_d2_ppm pattern) so the
    # aggregate is partition-order-proof on both engines.
    """WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    j AS (
      SELECT a.event_type, a.x AS actual, b.x AS fc
      FROM daily a
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day - 7 * INTERVAL 1 DAY)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(SUM(ABS(actual - fc)) * 1.0 / COUNT(*), 6) AS mae,
           ROUND(SUM(CAST(ROUND(2000000.0 * ABS(actual - fc)
                                / (actual + fc)) AS BIGINT))
                 / 1000000.0 / COUNT(*), 6) AS smape
    FROM j GROUP BY 1""",
)
def events_seasonal_naive_eval(spark, sf_dir):
    """Seasonal-naive forecast baseline (last week's same weekday)
    scored per event type with MAE and sMAPE — the sanity floor any
    real traffic forecaster must beat. One fold of raw events to
    (type, day), a self-join at -7 days on that bounded series, and
    exact-integer error sums (ppm-quantized sMAPE terms), so the
    scorecard hashes identically on both engines."""
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    j = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.day") == F.expr("date_add(a.day, -7)")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.x").alias("actual"),
        F.col("b.x").alias("fc"),
    )
    err = F.abs(F.col("actual") - F.col("fc"))
    return j.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.sum(err) * 1.0 / F.count("*"), 6).alias("mae"),
        F.round(
            F.sum(
                F.round(2000000.0 * err / (F.col("actual") + F.col("fc")))
                .cast("bigint")
            )
            / 1000000.0
            / F.count("*"),
            6,
        ).alias("smape"),
    )


@register(
    "graph_dyad_census",
    # Holland-Leinhardt dyad census of the event-type transition
    # graph: directed edges = consecutive-event transitions whose
    # count clears 10% of the max cell (integer cross-multiplied,
    # the data-derived threshold pattern of graph_edge_embeddedness);
    # dyads then classify as mutual (both directions), asymmetric
    # (one), or null. |types|^2-bounded after one user-keyed pass.
    """WITH seq AS (
      SELECT event_type AS a,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS b
      FROM events),
    t AS (SELECT a, b, COUNT(*) AS n FROM seq
          WHERE b IS NOT NULL AND a <> b GROUP BY 1, 2),
    mx AS (SELECT MAX(n) AS m FROM t),
    e AS (SELECT a, b FROM t, mx WHERE 10 * n >= m),
    nodes AS (SELECT COUNT(DISTINCT event_type) AS nn FROM events),
    d AS (
      SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v, COUNT(*) AS deg
      FROM e GROUP BY 1, 2)
    SELECT CAST(nodes.nn AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN deg = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS mutual,
           CAST(SUM(CASE WHEN deg = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS asymmetric,
           CAST(nodes.nn * (nodes.nn - 1) / 2 - COUNT(*) AS BIGINT)
             AS null_dyads
    FROM d CROSS JOIN nodes
    GROUP BY nodes.nn""",
)
def graph_dyad_census(spark, sf_dir):
    """Dyad census (mutual / asymmetric / null) of the event-type
    transition graph — the reciprocity fingerprint of user journeys
    (do flows run both ways between states, or one-way?). One
    user-partitioned lead pass builds transitions; a data-derived
    10%-of-max count threshold keeps real flows; census arithmetic
    is |types|^2-bounded. The directed sibling of
    events_transitions' probability matrix."""
    from pyspark.sql import Window, functions as F

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    )
    # pin the |types|^2 transition table: four downstream consumers
    # (mx, edges, ne, d) would otherwise each replay the event-level
    # lead window (10.7s -> 2.5s at sf0.1, r8 sweep)
    t = (
        seq.filter(F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    mx = t.agg(F.max("n").alias("m"))
    edges = t.crossJoin(F.broadcast(mx)).filter(
        10 * F.col("n") >= F.col("m")
    ).select("a", "b")
    nn = e.agg(F.countDistinct("event_type").alias("nn"))
    ne = edges.agg(F.count("*").alias("n_edges"))
    d = edges.groupBy(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).agg(F.count("*").alias("deg"))
    return (
        d.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ne))
        .groupBy("nn", "n_edges")
        .agg(
            F.sum(F.when(F.col("deg") == 2, 1).otherwise(0)).alias("mutual"),
            F.sum(F.when(F.col("deg") == 1, 1).otherwise(0)).alias("asym"),
            F.count("*").alias("present"),
        )
        .select(
            F.col("nn").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("mutual").cast("bigint").alias("mutual"),
            F.col("asym").cast("bigint").alias("asymmetric"),
            (F.col("nn") * (F.col("nn") - 1) / 2 - F.col("present"))
            .cast("bigint")
            .alias("null_dyads"),
        )
    )


@register(
    "events_stage_latency",
    # funnel TIMING: seconds between a user's first view -> first
    # subsequent click -> first subsequent purchase (exactly
    # events_funnel's stage definition), per stage-pair exact
    # integer-second percentiles (quantile_cont == Spark percentile
    # on integers, the grouped_percentiles convention) and an
    # integer-sum mean.
    """WITH v AS (SELECT user_id, MIN(ts) AS t_view
                 FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, v.t_view, MIN(e.ts) AS t_click
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY 1, 2),
    p AS (SELECT e.user_id, c.t_click, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY 1, 2),
    lat AS (
      SELECT 'view_to_click' AS stage,
             CAST(date_diff('second', t_view, t_click) AS BIGINT) AS s
      FROM c
      UNION ALL
      SELECT 'click_to_purchase' AS stage,
             CAST(date_diff('second', t_click, t_purchase) AS BIGINT) AS s
      FROM p)
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(quantile_cont(s, 0.5), 6) AS p50_sec,
           ROUND(quantile_cont(s, 0.9), 6) AS p90_sec,
           ROUND(SUM(s) * 1.0 / COUNT(*), 6) AS mean_sec,
           CAST(MAX(s) AS BIGINT) AS max_sec
    FROM lat GROUP BY 1""",
)
def events_stage_latency(spark, sf_dir):
    """How long conversion takes, not just whether it happens:
    whole-second latency from first view to first subsequent click
    and on to first purchase (events_funnel's stage semantics),
    with exact integer-second p50/p90/mean/max per stage. Three
    user-keyed MIN aggregations chained on the prior stage, a tiny
    2-group rollup at the end — the timing companion the SLA page
    needs next to the conversion counts."""
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    sec = lambda a, b: (  # noqa: E731
        F.col(b).cast("long") - F.col(a).cast("long")
    ).cast("bigint")
    lat = c.select(
        F.lit("view_to_click").alias("stage"), sec("t_view", "t_click").alias("s")
    ).unionByName(
        p.select(
            F.lit("click_to_purchase").alias("stage"),
            sec("t_click", "t_purchase").alias("s"),
        )
    )
    return lat.groupBy("stage").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.expr("percentile(s, 0.5)"), 6).alias("p50_sec"),
        F.round(F.expr("percentile(s, 0.9)"), 6).alias("p90_sec"),
        F.round(F.sum("s") * 1.0 / F.count("*"), 6).alias("mean_sec"),
        F.max("s").cast("bigint").alias("max_sec"),
    )


@register(
    "events_poisson_dispersion",
    # is daily traffic Poisson? dispersion (variance-to-mean) index
    # of per-type daily counts: population VMR = (T*SS - S*S)/(T*S)
    # on exact BIGINT moments over the observed-day series, with the
    # overdispersion verdict decided by the INTEGER inequality
    # T*SS - S*S > T*S (no float compare anywhere in the flag).
    """WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, COUNT(*) AS t, SUM(x) AS s, SUM(x * x) AS ss
      FROM daily GROUP BY 1)
    SELECT event_type, CAST(t AS BIGINT) AS n_days,
           ROUND(s * 1.0 / t, 6) AS mean_daily,
           ROUND((t * ss - s * s) * 1.0 / (t * s), 6) AS dispersion,
           t * ss - s * s > t * s AS overdispersed
    FROM m""",
)
def events_poisson_dispersion(spark, sf_dir):
    """Poisson sanity check per event type: the dispersion index
    (daily-count variance over mean) — ~1 under a Poisson arrival
    model, >1 signals bursty/correlated traffic that invalidates
    naive rate alarms (the modeling assumption behind events_anomaly
    thresholds). One fold to the daily series, BIGINT moments, one
    division; the boolean verdict is a pure integer inequality."""
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("t"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    t, s, ss = F.col("t"), F.col("s"), F.col("ss")
    return m.select(
        "event_type",
        t.cast("bigint").alias("n_days"),
        F.round(s * 1.0 / t, 6).alias("mean_daily"),
        F.round((t * ss - s * s) * 1.0 / (t * s), 6).alias("dispersion"),
        (t * ss - s * s > t * s).alias("overdispersed"),
    )


@register(
    "events_dow_anova",
    # does day-of-week explain daily volume? one-way ANOVA of per-
    # type daily counts across the 7 weekday groups: F = (SSB/(k-1))
    # / (SSW/(n-k)) and eta² = SSB/SST, built like fisher_ratio —
    # BIGINT moments per (type, dow), per-group scatter terms
    # rounded to integer units before the 7-bounded cross-group sum.
    """WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type, dayofweek(day) AS dow, COUNT(*) AS n_g,
             SUM(x) AS s_g, SUM(x * x) AS ss_g
      FROM daily GROUP BY 1, 2),
    t AS (SELECT event_type, SUM(n_g) AS n, SUM(s_g) AS s,
                 SUM(ss_g) AS ss, COUNT(*) AS k
          FROM g GROUP BY 1),
    terms AS (
      SELECT g.event_type, t.n, t.k, t.s, t.ss,
             CAST(ROUND(g.ss_g - g.s_g * g.s_g * 1.0 / g.n_g) AS BIGINT)
               AS w_term,
             CAST(ROUND(g.n_g * (g.s_g * 1.0 / g.n_g - t.s * 1.0 / t.n)
                        * (g.s_g * 1.0 / g.n_g - t.s * 1.0 / t.n))
                  AS BIGINT) AS b_term
      FROM g JOIN t ON t.event_type = g.event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           ROUND((SUM(b_term) * 1.0 / (k - 1))
                 / (SUM(w_term) * 1.0 / (n - k)), 6) AS f_ratio,
           ROUND(SUM(b_term) * 1.0 / (SUM(b_term) + SUM(w_term)), 6)
             AS eta_sq
    FROM terms GROUP BY event_type, n, k""",
)
def events_dow_anova(spark, sf_dir):
    """One-way ANOVA of daily event volume across weekdays, per
    type: the F ratio and eta² say whether weekly seasonality is
    real before anyone trusts events_dow_profile's means — the
    time-series sibling of embedding_fisher_ratio, built on the same
    integer-moment scatter decomposition. Two bounded aggregations
    after the one fold of raw events to (type, day)."""
    from pyspark.sql import functions as F

    e = _events(spark, sf_dir)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))
    g = daily.groupBy(
        "event_type", F.dayofweek("day").alias("dow")
    ).agg(
        F.count("*").alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).alias("ss_g"),
    )
    t = g.groupBy("event_type").agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.count("*").alias("k"),
    )
    n_g, s_g, ss_g = F.col("n_g"), F.col("s_g"), F.col("ss_g")
    n, s, k = F.col("n"), F.col("s"), F.col("k")
    w_term = F.round(ss_g - s_g * s_g * 1.0 / n_g).cast("bigint")
    md = s_g * 1.0 / n_g - s * 1.0 / n
    b_term = F.round(n_g * md * md).cast("bigint")
    terms = g.join(F.broadcast(t), "event_type").select(
        "event_type", "n", "k", w_term.alias("w_term"), b_term.alias("b_term")
    )
    return terms.groupBy("event_type", "n", "k").agg(
        F.sum("w_term").alias("w"), F.sum("b_term").alias("b")
    ).select(
        "event_type",
        n.cast("bigint").alias("n_days"),
        F.round(
            (F.col("b") * 1.0 / (k - 1)) / (F.col("w") * 1.0 / (n - k)), 6
        ).alias("f_ratio"),
        F.round(F.col("b") * 1.0 / (F.col("b") + F.col("w")), 6).alias(
            "eta_sq"
        ),
    )


@register(
    "events_transition_entropy",
    # predictability of user journeys: per from-state the Shannon
    # entropy of the next-state distribution, H(next|from) = ln(c_a)
    # - sum(c_ab ln c_ab)/c_a from integer transition counts (the
    # events_user_type_entropy identity applied to the Markov rows),
    # plus each state's share of all transitions — the weighted sum
    # is the chain's conditional entropy rate.
    """WITH seq AS (
      SELECT user_id, event_type AS a,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS b
      FROM events),
    t AS (SELECT a, b, COUNT(*) AS c FROM seq
          WHERE b IS NOT NULL GROUP BY 1, 2),
    m AS (SELECT a, SUM(c) AS ca, SUM(c * ln(c)) AS clnc,
                 COUNT(*) AS n_next
          FROM t GROUP BY 1),
    n AS (SELECT SUM(ca) AS total FROM m)
    SELECT a AS from_state, CAST(ca AS BIGINT) AS n_transitions,
           CAST(n_next AS BIGINT) AS n_next_states,
           ROUND(ln(ca) - clnc / ca, 6) AS next_state_entropy,
           ROUND(ca * 1.0 / n.total, 6) AS weight
    FROM m CROSS JOIN n""",
)
def events_transition_entropy(spark, sf_dir):
    """Journey predictability: entropy of the next-event distribution
    per from-state (0 = deterministic flow, ln(K) = anything goes),
    with the state's transition share as the weight — the
    information-theoretic readout on top of events_transitions'
    probability matrix, and the input to an entropy-rate dashboard.
    One user-keyed lead pass, then |states|^2-bounded integer
    aggregation; ln sees only integer counts."""
    from pyspark.sql import Window, functions as F

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    )
    t = (
        seq.filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    m = t.groupBy("a").agg(
        F.sum("c").alias("ca"),
        F.sum(F.col("c") * F.log("c")).alias("clnc"),
        F.count("*").alias("n_next"),
    )
    n = m.agg(F.sum("ca").alias("total"))
    return m.crossJoin(F.broadcast(n)).select(
        F.col("a").alias("from_state"),
        F.col("ca").cast("bigint").alias("n_transitions"),
        F.col("n_next").cast("bigint").alias("n_next_states"),
        F.round(F.log("ca") - F.col("clnc") / F.col("ca"), 6).alias(
            "next_state_entropy"
        ),
        F.round(F.col("ca") * 1.0 / F.col("total"), 6).alias("weight"),
    )


@register(
    "events_burst_periods",
    # burst detection as gaps-and-islands: a day is bursting when its
    # count is >= 1.15x the type's mean daily rate over OBSERVED days
    # — the threshold compares exact integers (cnt * n_days * 100 >=
    # 115 * total, no division; 1.15 sits inside the fixture's
    # peak-to-mean band of 1.20-1.29 so both branches fire); maximal runs of calendar-consecutive burst
    # days group on the day - row_number anchor (type-partitioned
    # windows over the bounded daily series).
    """WITH daily AS (
      SELECT event_type, date_trunc('day', ts)::DATE AS day,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2),
    st AS (SELECT event_type, COUNT(*) AS n_days, SUM(cnt) AS total
           FROM daily GROUP BY 1),
    b AS (
      SELECT d.event_type, d.day, d.cnt
      FROM daily d JOIN st ON st.event_type = d.event_type
      WHERE d.cnt * st.n_days * 100 >= 115 * st.total),
    runs AS (
      SELECT event_type, day, cnt,
             day - CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY day) AS INT) AS anchor
      FROM b)
    SELECT event_type, MIN(day) AS start_day, MAX(day) AS end_day,
           CAST(COUNT(*) AS INT) AS n_days,
           CAST(MAX(cnt) AS BIGINT) AS peak_daily,
           CAST(SUM(cnt) AS BIGINT) AS total_events
    FROM runs GROUP BY event_type, anchor""",
)
def events_burst_periods(spark, sf_dir):
    """Traffic-burst periods per event type: maximal runs of
    calendar-consecutive days whose count clears 1.15x the
    type's mean daily rate (1.15x here) — the alerting primitive between a
    point anomaly scan (events_anomaly) and a full changepoint
    segmentation (events_changepoints). Threshold is an exact
    integer cross-multiplication; runs come from the classic
    day-minus-row_number anchor with type-partitioned windows over
    the bounded daily grid."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    st = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"), F.sum("cnt").alias("total")
    )
    b = daily.join(F.broadcast(st), "event_type").filter(
        F.col("cnt") * F.col("n_days") * 100 >= 115 * F.col("total")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    runs = b.select(
        "event_type",
        "day",
        "cnt",
        F.date_sub(
            F.col("day"), F.row_number().over(w)
        ).alias("anchor"),
    )
    return runs.groupBy("event_type", "anchor").agg(
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
        F.count("*").cast("int").alias("n_days"),
        F.max("cnt").cast("bigint").alias("peak_daily"),
        F.sum("cnt").cast("bigint").alias("total_events"),
    ).drop("anchor")


@register(
    "events_runs_test",
    # Wald-Wolfowitz runs test (above/below the mean) on the daily
    # event-count series: randomness QA between the point scans
    # (events_anomaly) and the dependence scans (events_autocorr) —
    # too FEW runs = clustering/trend, too MANY = oscillation. The
    # above-mean sign is an exact integer cross-multiply (x*T > S,
    # ties count below by definition here), the run count is a lag
    # fold of the bounded daily grid, and z is assembled from exact
    # BIGINT counts with the identical float expression both engines
    # (NULL when a side is empty or the variance degenerates).
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    tot AS (SELECT COUNT(*) AS t, SUM(x) AS s FROM daily),
    sgn AS (
      SELECT day, CASE WHEN x * tot.t > tot.s THEN 1 ELSE 0 END AS sg
      FROM daily, tot),
    ord AS (SELECT sg, LAG(sg) OVER (ORDER BY day) AS pg FROM sgn),
    agg AS (
      SELECT COUNT(*) AS t, SUM(sg) AS n1, COUNT(*) - SUM(sg) AS n2,
             1 + SUM(CASE WHEN pg IS NOT NULL AND pg <> sg
                          THEN 1 ELSE 0 END) AS r
      FROM ord)
    SELECT CAST(t AS BIGINT) AS n_days,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS n_runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND t > 1
                     AND 2 * n1 * n2 > t
           THEN ROUND((r - (2.0 * n1 * n2 / t + 1))
                      / sqrt(2.0 * n1 * n2 * (2 * n1 * n2 - t)
                             / (t * t * (t - 1.0))), 6)
           END AS z
    FROM agg""",
)
def events_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on daily event volume: counts
    maximal runs of above/below-mean days and the normal-approx z
    statistic — the is-this-series-random gate a forecasting
    pipeline runs before trusting residuals. Raw events collapse
    once to the bounded daily grid; the sign fold, run count, and z
    are all exact-integer until one final float expression shared
    verbatim with the oracle (r10)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    tot = daily.agg(
        F.count("*").alias("t"), F.sum("x").alias("s")
    )
    sgn = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        F.when(F.col("x") * F.col("t") > F.col("s"), 1).otherwise(0).alias("sg"),
    )
    # bounded: the daily value grid (|days| rows, calendar-bounded),
    # never |events| — same class as lineitem_ks_test's whitelisted
    # cumulative window
    w = Window.orderBy("day")
    ordd = sgn.select("sg", F.lag("sg").over(w).alias("pg"))
    agg = ordd.agg(
        F.count("*").alias("t"),
        F.sum("sg").alias("n1"),
        (F.count("*") - F.sum("sg")).alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("pg").isNotNull() & (F.col("pg") != F.col("sg")), 1
                ).otherwise(0)
            )
        ).alias("r"),
    )
    t, n1, n2, r = F.col("t"), F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / t + 1
    varg = (
        2.0 * n1 * n2 * (2 * n1 * n2 - t) / (t * t * (t - 1.0))
    )
    return agg.select(
        t.cast("bigint").alias("n_days"),
        n1.cast("bigint").alias("n_above"),
        n2.cast("bigint").alias("n_below"),
        r.cast("bigint").alias("n_runs"),
        F.when(
            (n1 > 0) & (n2 > 0) & (t > 1) & (2 * n1 * n2 > t),
            F.round((r - mu) / F.sqrt(varg), 6),
        ).alias("z"),
    )


@register(
    "events_mann_kendall",
    # Mann-Kendall trend test on the daily event-count series: the
    # non-parametric is-volume-trending gate (no distribution or
    # linearity assumption) that complements events_runs_test
    # (randomness) and events_autocorr (dependence). S folds the
    # sign of every forward pair of the BOUNDED daily aggregate
    # (|days|^2 pairs, calendar-bounded — never raw events); the
    # tie-corrected variance is exact-integer (var18 = 18*Var), and
    # z uses the standard continuity correction with one float
    # expression shared verbatim with the oracle.
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    pairs AS (
      SELECT SUM(CASE WHEN b.x > a.x THEN 1
                      WHEN b.x < a.x THEN -1 ELSE 0 END) AS s
      FROM daily a JOIN daily b ON b.day > a.day),
    ties AS (
      SELECT SUM(c * (c - 1) * (2 * c + 5)) AS tie_term
      FROM (SELECT COUNT(*) AS c FROM daily GROUP BY x)),
    tot AS (SELECT COUNT(*) AS n FROM daily)
    SELECT CAST(tot.n AS BIGINT) AS n_days,
           CAST(pairs.s AS BIGINT) AS s_stat,
           CAST(tot.n * (tot.n - 1) * (2 * tot.n + 5)
                - COALESCE(ties.tie_term, 0) AS BIGINT) AS var18,
           CASE WHEN tot.n * (tot.n - 1) * (2 * tot.n + 5)
                     - COALESCE(ties.tie_term, 0) > 0
           THEN ROUND((pairs.s - CASE WHEN pairs.s > 0 THEN 1
                                      WHEN pairs.s < 0 THEN -1
                                      ELSE 0 END)
                      / sqrt((tot.n * (tot.n - 1) * (2 * tot.n + 5)
                              - COALESCE(ties.tie_term, 0)) / 18.0), 6)
           END AS z
    FROM pairs, ties, tot""",
)
def events_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test on daily event volume: S sums the
    sign over all forward day pairs, variance carries the exact
    tie correction, z applies the continuity correction — the
    standard monotone-trend detector run before fitting any
    forecast. Raw events collapse once to the bounded daily grid;
    the pair fold is a broadcast self-join of that grid (|days|^2,
    calendar-bounded), all moments exact BIGINT until one final
    float expression shared with the oracle (r10)."""
    from pyspark.sql import functions as F

    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    ties = (
        daily.groupBy("x")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(
                F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
            ).alias("tie_term")
        )
    )
    tot = daily.agg(F.count("*").alias("n"))
    j = pairs.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(tot))
    n, s = F.col("n"), F.col("s")
    var18 = n * (n - 1) * (2 * n + 5) - F.coalesce(
        F.col("tie_term"), F.lit(0)
    )
    cont = F.when(s > 0, 1).when(s < 0, -1).otherwise(0)
    return j.select(
        n.cast("bigint").alias("n_days"),
        s.cast("bigint").alias("s_stat"),
        var18.cast("bigint").alias("var18"),
        F.when(
            var18 > 0, F.round((s - cont) / F.sqrt(var18 / 18.0), 6)
        ).alias("z"),
    )


@register(
    "events_ljung_box",
    # Ljung-Box portmanteau test over the calendar-lag ACF of daily
    # event counts: "is there ANY autocorrelation up to lag m" — the
    # whiteness gate a forecaster runs on residuals, complementing
    # events_autocorr (which reports the per-lag values this test
    # pools). rho_k reuses the exact-integer ACF algebra
    # (P*T^2 - S*Q*T + n_pairs*S^2 over SS*T^2 - S^2*T); each
    # rho_k^2/n_pairs term is pico-quantized (floor(1e12*...)) so the
    # cross-lag SUM is order-free in both engines, and Q_m scales the
    # exact term sum once. Lags are calendar lags on the bounded
    # daily grid (n_pairs counts the actual pairs present).
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    tot AS (
      SELECT COUNT(*) AS t, SUM(x) AS s, SUM(x * x) AS ss FROM daily),
    lags AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),
                                   (8),(9),(10),(11),(12),(13),(14)) l(k)),
    pairs AS (
      SELECT l.k, COUNT(*) AS n_pairs,
             SUM(a.x * b.x) AS p, SUM(a.x + b.x) AS q
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day - l.k * INTERVAL 1 DAY
      GROUP BY 1),
    terms AS (
      SELECT p.k, p.n_pairs,
             CAST(floor(1e12
               * ((p.p * t.t * t.t - t.s * p.q * t.t + p.n_pairs * t.s * t.s)
                  * 1.0 / (t.ss * t.t * t.t - t.s * t.s * t.t))
               * ((p.p * t.t * t.t - t.s * p.q * t.t + p.n_pairs * t.s * t.s)
                  * 1.0 / (t.ss * t.t * t.t - t.s * t.s * t.t))
               / p.n_pairs) AS BIGINT) AS term
      FROM pairs p CROSS JOIN tot t
      WHERE p.n_pairs > 0),
    ms AS (SELECT * FROM (VALUES (3),(7),(14)) m(m))
    SELECT ms.m AS max_lag,
           CAST(t.t AS BIGINT) AS n_days,
           CAST(SUM(terms.term) AS BIGINT) AS term_sum_pico,
           ROUND(t.t * (t.t + 2) * SUM(terms.term) / 1e12, 6) AS q_stat
    FROM ms JOIN terms ON terms.k <= ms.m CROSS JOIN tot t
    GROUP BY ms.m, t.t""",
)
def events_ljung_box(spark, sf_dir):
    """Ljung-Box Q statistic at max lags 3/7/14 over the daily
    event-count series — the pooled whiteness test behind
    model-residual QA. One collapse of raw events to the bounded
    daily grid, a broadcast calendar-offset self-join for the lag
    pairs, exact-BIGINT ACF cumulants, pico-quantized per-lag terms
    (so the cross-lag sum has no float order), one final scale
    shared with the oracle (r10)."""
    from pyspark.sql import functions as F

    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    tot = daily.agg(
        F.count("*").alias("t"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    lags = spark.range(1, 15).select(F.col("id").cast("int").alias("k"))
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = (
        lags.crossJoin(a)
        .join(
            F.broadcast(b),
            F.col("db") == F.date_sub(F.col("da"), F.col("k")),
        )
        .groupBy("k")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("xa") * F.col("xb")).alias("p"),
            F.sum(F.col("xa") + F.col("xb")).alias("q"),
        )
    )
    t, s, ss = F.col("t"), F.col("s"), F.col("ss")
    num = F.col("p") * t * t - s * F.col("q") * t + F.col("n_pairs") * s * s
    den = ss * t * t - s * s * t
    rho = num * F.lit(1.0) / den
    terms = (
        pairs.crossJoin(F.broadcast(tot))
        .filter(F.col("n_pairs") > 0)
        .select(
            "k",
            F.floor(F.lit(1e12) * rho * rho / F.col("n_pairs"))
            .cast("bigint")
            .alias("term"),
        )
    )
    ms = literal_frame(spark, [(3,), (7,), (14,)], "m int")
    return (
        F.broadcast(ms)
        .join(terms, F.col("k") <= F.col("m"))
        .crossJoin(F.broadcast(tot))
        .groupBy("m", "t")
        .agg(F.sum("term").alias("term_sum"))
        .select(
            F.col("m").alias("max_lag"),
            t.cast("bigint").alias("n_days"),
            F.col("term_sum").cast("bigint").alias("term_sum_pico"),
            F.round(t * (t + 2) * F.col("term_sum") / 1e12, 6).alias(
                "q_stat"
            ),
        )
    )


@register(
    "events_kpss_test",
    # KPSS level-stationarity test on the daily event-count series —
    # the null-reversed complement that completes the stationarity
    # battery: Mann-Kendall/runs REJECT toward trend, KPSS's null IS
    # stationarity (large eta = the level wanders). eta =
    # sum(S_t^2) * (l+1) / (n * lrv_scaled) with S_t the cumulative
    # n-scaled residuals and lrv the Bartlett long-run variance at
    # l = 4 lags (fixed, documented — the adaptive 4*(n/100)^0.25
    # rule also gives 4 on a ~quarter horizon) — every cumulant an
    # exact BIGINT over the calendar-bounded daily grid, one float
    # division shared with the oracle.
    """WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM daily),
    e AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS t,
             CAST(x * tot.n - tot.s AS BIGINT) AS e
      FROM daily, tot),
    cum AS (
      SELECT t, e,
             SUM(e) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
      FROM e),
    num AS (SELECT SUM(st * st) AS num FROM cum),
    gam AS (
      SELECT l.j, SUM(a.e * b.e) AS g
      FROM (SELECT * FROM (VALUES (0),(1),(2),(3),(4)) l(j)) l
      JOIN e a ON TRUE
      JOIN e b ON b.t = a.t - l.j
      GROUP BY 1),
    lrv AS (
      SELECT SUM(CASE WHEN j = 0 THEN 5 * g ELSE 2 * (5 - j) * g END)
               AS lrv5
      FROM gam)
    SELECT CAST(tot.n AS BIGINT) AS n_days,
           CAST(num.num AS BIGINT) AS cumsum_sq,
           CAST(lrv.lrv5 AS BIGINT) AS lrv_scaled5,
           CASE WHEN lrv.lrv5 > 0
           THEN ROUND(num.num * 5.0 / (tot.n * lrv.lrv5), 6)
           END AS kpss_eta
    FROM tot, num, lrv""",
)
def events_kpss_test(spark, sf_dir):
    """KPSS level-stationarity statistic over daily event volume:
    cumulative centered sums squared over the Bartlett long-run
    variance (l=4). The null-reversed bookend of the stationarity
    battery (Mann-Kendall, runs, Ljung-Box). Raw events collapse
    once to the bounded daily grid; residuals are n-scaled so every
    cumulant — including the Bartlett-weighted autocovariances,
    integer-weighted by (l+1)-scaling — stays an exact BIGINT; one
    final float division shared with the oracle (r10)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    tot = daily.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    # bounded: both windows run over the calendar daily grid (|days|
    # rows), the same whitelisted class as events_runs_test's fold
    w_t = Window.orderBy("day")
    e = daily.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(w_t).alias("t"),
        (F.col("x") * F.col("n") - F.col("s")).cast("bigint").alias("e"),
    )
    # bounded: cumulative sum over the same |days|-row grid
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = e.select("t", "e", F.sum("e").over(w_cum).alias("st"))
    num = cum.agg(F.sum(F.col("st") * F.col("st")).alias("num"))
    lags = spark.range(0, 5).select(F.col("id").cast("int").alias("j"))
    a = e.select(F.col("t").alias("ta"), F.col("e").alias("ea"))
    b = e.select(F.col("t").alias("tb"), F.col("e").alias("eb"))
    gam = (
        lags.crossJoin(a)
        .join(F.broadcast(b), F.col("tb") == F.col("ta") - F.col("j"))
        .groupBy("j")
        .agg(F.sum(F.col("ea") * F.col("eb")).alias("g"))
    )
    lrv = gam.agg(
        F.sum(
            F.when(F.col("j") == 0, 5 * F.col("g")).otherwise(
                2 * (5 - F.col("j")) * F.col("g")
            )
        ).alias("lrv5")
    )
    j = (
        tot.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(lrv))
    )
    n = F.col("n")
    return j.select(
        n.cast("bigint").alias("n_days"),
        F.col("num").cast("bigint").alias("cumsum_sq"),
        F.col("lrv5").cast("bigint").alias("lrv_scaled5"),
        F.when(
            F.col("lrv5") > 0,
            F.round(F.col("num") * 5.0 / (n * F.col("lrv5")), 6),
        ).alias("kpss_eta"),
    )
