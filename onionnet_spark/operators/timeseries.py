"""Time-series operators over timestamped fact tables (hypertable
class: gap-filling, last-observation-carried-forward, anomaly days).

These give parity with the hypertable-style surface (time-bucket
rollups live in streaming/events.py; this module covers
time_bucket_gapfill + locf and statistical outlier detection).

Scale notes: the heavy input is reduced FIRST by a (bucket, key)
aggregation — one shuffle with map-side partials; everything after
operates on the bucket-level series, whose size is bounded by
days x keys (calendar-sized, broadcastable). The generated calendar
never materializes more than |keys| x |days| rows, so the gap-fill
join is a broadcast at any fact-table scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gapfill_daily_locf(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Gap-filled daily series per key: every (key, day) in the
    global [min_day, max_day] span appears exactly once; days with
    no events get n_events=0, is_gap=1, and sum_value carried
    forward from the most recent observed day (NULL before the
    first observation) — TimescaleDB's
    ``time_bucket_gapfill + locf`` semantics.

    Plan: one shuffle aggregates facts to (day, key); the dense
    calendar is built from a 1-row global min/max aggregate
    cross-joined (broadcast) with the distinct key list and an
    exploded day sequence, then left-joins the daily aggregate.
    LOCF is ``last(value, ignorenulls=True)`` over an unbounded
    preceding window per key — series length is calendar-bounded,
    so the window partition can never be data-scale.
    """
    daily = events.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.col(key_col).alias("key"),
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(value_col), 6).alias("sum_value"),
    )
    span = events.agg(
        F.date_trunc("day", F.min(ts_col)).alias("d0"),
        F.date_trunc("day", F.max(ts_col)).alias("d1"),
    )
    keys = events.select(F.col(key_col).alias("key")).distinct()
    calendar = (
        keys.crossJoin(F.broadcast(span))
        .select(
            "key",
            F.explode(
                F.sequence("d0", "d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        calendar.join(daily, on=["day", "key"], how="left")
        .select(
            "day",
            F.col("key").alias("event_type"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.when(F.col("n_events").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_gap"),
            F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
        )
    )


def anomaly_days(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    z_threshold: float = 1.5,
) -> DataFrame:
    """Days whose event count is a z-score outlier within its key's
    daily series: |count - mean| >= z_threshold * stddev_samp.

    The mean/variance are computed from exact integer sums
    (sum, sum of squares, n) rather than a streaming stddev
    aggregate, so the double-precision result is a deterministic
    function of the counts — identical in any engine and any
    summation order, which keeps the 6-dp rounded z-score
    hash-stable. The daily reduction is the only data-scale
    shuffle; the per-key series the window runs over is
    calendar-sized.
    """
    daily = events.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.col(key_col).alias("key"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("key")
    stats = (
        daily.withColumn("s1", F.sum("n").over(w))
        .withColumn("s2", F.sum(F.col("n") * F.col("n")).over(w))
        .withColumn("cnt", F.count("*").over(w))
    )
    mean = F.col("s1").cast("double") / F.col("cnt")
    var = (F.col("s2").cast("double") - F.col("cnt") * mean * mean) / (
        F.col("cnt") - 1
    )
    # zero-variance series have no outliers by definition; guarding
    # keeps the ANSI divide-by-zero error out of the plan
    z = F.when(var > 0, F.round((F.col("n").cast("double") - mean) / F.sqrt(var), 6))
    return (
        stats.filter(F.col("cnt") > 1)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= z_threshold)
        .select(
            "day",
            F.col("key").alias("event_type"),
            F.col("n").cast("bigint").alias("n_events"),
            "z",
        )
    )


def scd2_intervals(
    updates: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    attr_cols: tuple[str, ...] = ("event_type", "value"),
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from an update
    stream: every update opens a version row whose validity closes
    at the key's next update — the lakehouse MERGE pattern for
    dimension maintenance, as one window pass.

    valid_from = the update's timestamp; valid_to = lead(ts) within
    the key (NULL = current version, is_current = 1). `seq_col`
    breaks equal-timestamp ties deterministically. One shuffle on
    the key; version chains are per-key-bounded so the window never
    sees data-scale partitions.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(seq_col))
    return updates.select(
        key_col,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        F.when(F.lead(ts_col).over(w).isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_current"),
    )


def ema_daily(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    alpha: float = 0.3,
) -> DataFrame:
    """Exponential moving average of daily event counts per key:
    ema_1 = x_1; ema_t = alpha*x_t + (1-alpha)*ema_{t-1}.

    The recurrence is de-recursed into a closed form so it runs as
    ONE ordered cumulative-sum window instead of an iterative loop:
      y_1 = x_1/(1-a);  y_j = a*x_j/(1-a)^j   (j >= 2)
      ema_t = (1-a)^t * sum_{j<=t} y_j
    The cumulative sum folds in day order (identical order in any
    engine's ordered-window implementation), so the rounded result
    is engine-stable. The (1-a)^-j rescaling grows exponentially —
    fine for calendar-length series (30 days at a=0.3 is ~4e4), and
    the series a window sees is calendar-bounded by construction.
    """
    daily = events.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.col(key_col).alias("key"),
    ).agg(F.count("*").alias("n"))
    wk = Window.partitionBy("key").orderBy("day")
    one_m = 1.0 - alpha
    with_rk = daily.withColumn("rk", F.row_number().over(wk))
    y = F.when(
        F.col("rk") == 1, F.col("n") / F.lit(one_m)
    ).otherwise(
        F.lit(alpha) * F.col("n") / F.pow(F.lit(one_m), F.col("rk"))
    )
    cum = Window.partitionBy("key").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        with_rk.withColumn("y", y)
        .withColumn(
            "ema",
            F.round(F.pow(F.lit(one_m), F.col("rk")) * F.sum("y").over(cum), 6),
        )
        .select(
            "day",
            F.col("key").alias("event_type"),
            F.col("n").cast("bigint").alias("n_events"),
            "ema",
        )
    )


def changepoint_days(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_days: int = 3,
    threshold: float = 3.0,
) -> DataFrame:
    """Change-point candidates in the daily count series: the
    two-window edge score  |mean(next k days) - mean(prev k days)|
    at each day, flagged when >= threshold. The sliding two-sample
    statistic is the window-expressible cousin of CUSUM (whose
    max-reset recursion doesn't map to a prefix sum); scores are
    ratios of exact integer window sums, so 6dp-rounded values are
    engine-stable. Only days with FULL windows on both sides score
    (edges of the series are unscoreable by construction).
    """
    daily = events.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.col(key_col).alias("key"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("key").orderBy("day")
    prev_w = w.rowsBetween(-window_days, -1)
    next_w = w.rowsBetween(1, window_days)
    scored = (
        daily.withColumn("s_prev", F.sum("n").over(prev_w))
        .withColumn("c_prev", F.count("n").over(prev_w))
        .withColumn("s_next", F.sum("n").over(next_w))
        .withColumn("c_next", F.count("n").over(next_w))
        .filter(
            (F.col("c_prev") == window_days) & (F.col("c_next") == window_days)
        )
        .withColumn(
            "shift",
            F.round(
                F.abs(
                    F.col("s_next").cast("double") / window_days
                    - F.col("s_prev").cast("double") / window_days
                ),
                6,
            ),
        )
    )
    return scored.filter(F.col("shift") >= threshold).select(
        "day",
        F.col("key").alias("event_type"),
        F.col("n").cast("bigint").alias("n_events"),
        "shift",
    )


def day_of_week_profile(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Weekly seasonality profile: per (key, day-of-week — Spark
    `dayofweek` numbering, Sunday=1..Saturday=7, NOT ISO), the mean
    daily event count and its share of the key's weekly total —
    the decomposition baseline for seasonal-adjusted monitoring.
    Means are ratios of exact integer sums (events / days observed),
    so the rounded profile is engine-stable. Two bounded
    aggregations: daily reduction, then the 7-row-per-key profile.
    """
    daily = events.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.col(key_col).alias("key"),
    ).agg(F.count("*").alias("n"))
    prof = daily.groupBy(
        "key", F.dayofweek("day").alias("dow")
    ).agg(
        F.sum("n").alias("total"), F.count("*").alias("n_days")
    )
    w = Window.partitionBy("key")
    return prof.select(
        F.col("key").alias("event_type"),
        F.col("dow").cast("int").alias("dow"),
        F.round(F.col("total").cast("double") / F.col("n_days"), 6).alias(
            "mean_daily"
        ),
        F.round(
            F.col("total").cast("double") / F.sum("total").over(w), 6
        ).alias("share"),
    )


def interarrival_stats(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key event inter-arrival profile: number of events, mean
    and max gap in seconds between consecutive events — the cadence
    fingerprint behind rate limiting, bot detection, and session
    tuning.

    Gaps come from a lag window PARTITIONED by the key (each key's
    events sort locally; no global funnel) on integer epoch
    MICROseconds, so the sums are exact whole numbers in any engine;
    only the final mean division touches floating point. Keys with a
    single event report 0 gaps and NULL stats. Returns
    (user_id, n_events, n_gaps, mean_gap_s, max_gap_s), 6dp.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    gaps = events.select(
        F.col(key_col),
        (
            F.unix_micros(F.col(ts_col))
            - F.lag(F.unix_micros(F.col(ts_col))).over(w)
        ).alias("gap_us"),
    )
    return gaps.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.round(F.sum("gap_us") / 1e6 / F.count("gap_us"), 6).alias("mean_gap_s"),
        F.round(F.max("gap_us") / 1e6, 6).alias("max_gap_s"),
    )


def daily_topk_types(
    events: DataFrame,
    k: int = 3,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Top-`k` event types per day by count — the 'what's trending'
    rollup every event dashboard leads with. One aggregation, then a
    rank windowed PER DAY (each day's partition holds at most
    |event types| rows — never a global funnel). Returns
    (day, event_type, n_events, rank)."""
    counts = events.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.col(key_col).alias("event_type"),
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    w = Window.partitionBy("day").orderBy(F.desc("n_events"), "event_type")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def rolling_features(
    events: DataFrame,
    window_s: int = 7 * 86400,
    ts_col: str = "ts",
    key_col: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-event rolling feature vector — the feature-engineering
    primitive of behavioral training data: for every event, the gap
    to the key's previous event and the count / value-sum of the
    key's events in the trailing ``window_s`` seconds (inclusive of
    peers at the same timestamp, per RANGE-frame semantics).

    Both windows partition by the key, so the single shuffle is the
    per-key repartition and every frame is evaluated in one sorted
    pass per key — no self-join, no explode-by-day. Value sums
    accumulate as floor(value*1e6) BIGINTs (order-independent and
    engine-exact, unlike float window sums). The lag orders by
    (epoch, event_id) so same-second events resolve
    deterministically. Returns (key, event_id, epoch, gap_s NULL on
    the key's first event, cnt_w, sum_w 6dp).
    """
    e = events.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("eid"),
        F.col(ts_col).cast("timestamp").cast("long").alias("epoch"),
        F.floor(F.col(value_col).cast("double") * 1_000_000)
        .cast("bigint")
        .alias("vq"),
    )
    w_lag = Window.partitionBy("key").orderBy("epoch", "eid")
    w_rng = (
        Window.partitionBy("key")
        .orderBy("epoch")
        .rangeBetween(-window_s, 0)
    )
    return e.select(
        F.col("key").alias(key_col),
        F.col("eid").alias(id_col),
        "epoch",
        (F.col("epoch") - F.lag("epoch").over(w_lag)).cast("bigint").alias("gap_s"),
        F.count("*").over(w_rng).cast("bigint").alias("cnt_w"),
        F.round(F.sum("vq").over(w_rng) / 1_000_000.0, 6).alias("sum_w"),
    )


def active_users_rolling(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """DAU / WAU / MAU per calendar day — the growth-dashboard
    staple, computed EXACTLY: distinct (user, day) pairs first (the
    only corpus-scale aggregation), then each activity day fans out
    to the <= 30 report days it contributes to (a bounded
    day-offset explode, not an event-level one), and distinct users
    per (report day, horizon) aggregate on day-level rows whose
    volume is users x days x 30 at most — decoupled from the event
    count. No sliding COUNT DISTINCT window (which neither engine
    does exactly) and no 30x event blow-up. Returns
    (day, dau, wau, mau).
    """
    ud = events.select(
        F.col(user_col).alias("u"),
        F.date_trunc("day", F.col(ts_col)).alias("d"),
    ).distinct()
    span = ud.select(F.col("d").alias("day")).distinct()
    fan = ud.select(
        "u", F.explode(F.sequence(F.lit(0), F.lit(29))).alias("off"), "d"
    ).select("u", "off", F.date_add(F.col("d").cast("date"), F.col("off")).alias("rd"))
    per = (
        fan.groupBy(F.col("rd").alias("day_d"))
        .agg(
            F.count_distinct(F.when(F.col("off") == 0, F.col("u"))).alias("dau"),
            F.count_distinct(F.when(F.col("off") <= 6, F.col("u"))).alias("wau"),
            F.count_distinct("u").alias("mau"),
        )
    )
    # keep only days that actually occur (the fan-out also lands on
    # up to 29 days past the last activity day)
    return (
        span.join(per, span["day"] == F.col("day_d").cast("timestamp"))
        .select(
            "day",
            F.col("dau").cast("bigint"),
            F.col("wau").cast("bigint"),
            F.col("mau").cast("bigint"),
        )
    )

def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Change-data-capture apply — the lakehouse MERGE INTO /
    CDC-compaction primitive: fold a changelog of I(nsert)/U(psert)/
    D(elete) rows (ordered per key by `seq_col`) onto a base
    snapshot and return the final state.

    One plan: base rows enter the fold at sequence -infinity (NULL
    sorts first), the per-key LAST change wins via one max_by
    aggregation (map-side partial, no window over the union), and
    keys whose last change is a delete drop out. Change rows carry
    the full record (upsert semantics); at 100 TB this is exactly
    the dataflow a Delta/Iceberg MERGE INTO compiles to, minus the
    file-level pruning.
    """
    cols = [c for c in base.columns]
    b = base.select(
        *cols,
        F.lit(None).cast("long").alias("_seq"),
        F.lit("I").alias("_op"),
    )
    c = changes.select(
        *cols,
        F.col(seq_col).cast("long").alias("_seq"),
        F.col(op_col).alias("_op"),
    )
    folded = (
        b.unionByName(c)
        .groupBy(key_col)
        .agg(
            F.max_by(
                F.struct(*[F.col(x) for x in cols], "_op"),
                # NULL _seq (the base snapshot) sorts before any change
                F.struct(F.coalesce("_seq", F.lit(-(1 << 62))).alias("s")),
            ).alias("m")
        )
    )
    return (
        folded.filter(F.col("m._op") != "D")
        .select(*[F.col(f"m.{x}").alias(x) for x in cols])
    )
