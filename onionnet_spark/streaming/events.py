"""Streaming analytics over the events stream.

Each operator is written as a pure DataFrame transform so the SAME
function applies to a batch DataFrame (correctness gate vs DuckDB)
and a streaming DataFrame from readStream (exercised in tests with
watermarks). That transform-sharing is the Structured Streaming
model: a streaming query IS a batch query planned incrementally.

Scale notes: windowed aggregations shuffle on (window, key) with
map-side partial aggregation; watermarks bound state; session
windows use native session_window (state-store backed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame, window_len: str = "1 hour") -> DataFrame:
    """Per (tumbling window, event_type): count + sum(value)."""
    return (
        events.groupBy(
            F.window("ts", window_len).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, window_len: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Per (sliding window, event_type): count."""
    return (
        events.groupBy(F.window("ts", window_len, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def daily_distinct_users(events: DataFrame) -> DataFrame:
    """Per day: exact distinct users + event count + value sum.

    COUNT(DISTINCT) plans as two-phase aggregation: partial dedup of
    (day, user_id) map-side, then a single shuffle on day. Exact is
    the correctness baseline; at 100 TB the drop-in scale path is
    ``F.approx_count_distinct`` (HLL++ sketch — mergeable, fixed
    memory per group, no second dedup pass).
    """
    return (
        events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def daily_distinct_users_approx(events: DataFrame, rsd: float = 0.05) -> DataFrame:
    """The 100 TB drop-in for daily_distinct_users: HLL++
    ``approx_count_distinct`` replaces the exact two-phase distinct.

    Why it wins at scale: the exact plan shuffles every distinct
    (day, user_id) pair; the sketch is fixed-size per group (~kilobytes
    at rsd=0.05), merges associatively map-side, and turns the
    aggregation into a single standard shuffle of tiny sketch states.
    Accuracy is within rsd (relative standard deviation) — pytest
    asserts the bound against the exact twin.
    """
    return (
        events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("n_users_approx"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessions per user (batch formulation).

    A new session starts when the time since the previous event of
    the same user exceeds gap_seconds. Output per session:
    (user_id, session_start, session_end, n_events).

    The streaming-native equivalent is
    ``groupBy(session_window("ts", gap), user_id)``; the batch form
    below is its exact deterministic counterpart used by the
    correctness oracle.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    with_gap = events.select(
        "user_id",
        "ts",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
            > gap_seconds * 1_000_000
        )
        .cast("int")
        .alias("is_new"),
    ).fillna({"is_new": 1})
    with_session = with_gap.withColumn(
        "session_id", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    ).select("user_id", "session_start", "session_end", "n_events")


def json_props_agg(events: DataFrame) -> DataFrame:
    """Extract props JSON field k, aggregate per event_type.

    JSON extraction runs JVM-side (get_json_object) — no UDF.
    """
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


def time_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: day → hour →
    event_type with ROLLUP, so one pass produces daily totals,
    hourly totals, and hourly-per-type cells (grouping level
    disambiguated by grouping_id). Catalyst expands ROLLUP into a
    single Expand + one aggregation — no per-level re-scan.
    """
    day = F.date_trunc("day", F.col("ts"))
    hour = F.date_trunc("hour", F.col("ts"))
    return (
        events.select(day.alias("day"), hour.alias("hour"), "event_type", "value")
        .rollup("day", "hour", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def session_paths(
    events: DataFrame,
    gap_s: int = 1800,
    k: int = 20,
    ts_col: str = "ts",
    key_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Top-k session journey paths: events sessionize on the
    ``gap_s`` inactivity rule (same recurrence as ``sessionize``),
    each session becomes the '>'-joined sequence of its event types
    ordered by (epoch, event_id) — deterministic under same-second
    ties — and the k most frequent journeys are ranked. The
    funnel-mining staple ("what do users actually do?").

    Two key-partitioned windows (lag + running sum) share one
    exchange; the in-order path build is
    array_sort(collect_list(struct)) with no extra window; the
    global top-k is orderBy+limit (TakeOrdered), then a rank window
    bounded by k rows. Returns (rank, path, n_sessions).
    """
    from pyspark.sql import Window

    e = events.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("eid"),
        F.col(ts_col).cast("timestamp").cast("long").alias("epoch"),
        F.col(type_col).alias("etype"),
    )
    w = Window.partitionBy("key").orderBy("epoch", "eid")
    marked = e.withColumn(
        "is_new",
        F.when(
            F.lag("epoch").over(w).isNull()
            | (F.col("epoch") - F.lag("epoch").over(w) > gap_s),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = marked.groupBy("key", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("epoch", "eid", "etype"))
                ),
                lambda s: s.getField("etype"),
            ),
            ">",
        ).alias("path")
    )
    top = (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(k)
    )
    # bounded window: <= k rows survive the limit above
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return top.select(
        F.row_number().over(wr).cast("int").alias("rank"), "path", "n_sessions"
    )
