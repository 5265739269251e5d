"""The events transforms (`streaming.events`), run as batch and as
real streams.

Each transform is a pure DataFrame function, so the same function
applies to a batch frame and to a `readStream` frame. The stream
tests replay a table as a parquet file stream (one file per
micro-batch via maxFilesPerTrigger) and check the completed result
equals the batch run of the same transform.
"""

import pytest

from onionnet_spark.sources.tpch_graph import load_tables
from onionnet_spark.streaming import events as ev


@pytest.fixture(scope="module")
def events_df(spark, sf_dir):
    return load_tables(spark, sf_dir)["events"].persist()


def test_streaming_tumbling_matches_batch(spark, events_df, tmp_path):
    d = str(tmp_path / "events")
    events_df.repartition(4).write.parquet(d)
    stream = (
        spark.readStream.schema(events_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = ev.tumbling_counts(stream.withWatermark("ts", "1 hour"))
    q = (
        agg.writeStream.format("memory")
        .queryName("t_tumbling")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM t_tumbling")
    want = ev.tumbling_counts(events_df)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_approx_distinct_within_rsd(spark, events_df):
    # the HLL scale path must stay within its advertised error bound
    # of the exact twin (3 sigma at rsd=0.05 -> 15%)
    exact = {
        r["day"]: r["n_users"]
        for r in ev.daily_distinct_users(events_df).collect()
    }
    approx = {
        r["day"]: r["n_users_approx"]
        for r in ev.daily_distinct_users_approx(events_df, rsd=0.05).collect()
    }
    assert exact.keys() == approx.keys()
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(3, 0.15 * n), (day, n, approx[day])


def test_watermark_append_mode_semantics(spark, tmp_path):
    # append-mode tumbling agg with a 10-minute watermark over a
    # 2-batch file replay. Documents the REAL watermark contract
    # (verified on Spark 4.1): windows emit exactly once when the
    # watermark passes their end; unclosed windows never emit; and
    # the lateness guarantee is ONE-DIRECTIONAL — a beyond-watermark
    # straggler "may or may not be dropped" (SS guide): state
    # cleanup is guaranteed, strict drop is not (here the hour-9 row
    # arrives after the watermark passed its window yet still
    # aggregates, because no prior state existed to have been
    # evicted).
    import datetime
    import time

    d = str(tmp_path / "files")

    def write_batch(rows):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)  # distinct mod-times => deterministic order

    t = lambda h, m: datetime.datetime(2024, 3, 1, h, m)  # noqa: E731
    write_batch([(i, t(10, 15), 1, "view", 1.0, "{}") for i in range(3)]
                + [(9, t(12, 0), 1, "view", 1.0, "{}")])
    write_batch([(100, t(9, 30), 1, "view", 1.0, "{}"),   # late: dropped
                 (101, t(12, 30), 1, "view", 1.0, "{}")])
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).option("maxFilesPerTrigger", 1).parquet(d)
    agg = ev.tumbling_counts(stream.withWatermark("ts", "10 minutes"))
    q = (
        agg.writeStream.format("memory")
        .queryName("t_wm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["window_start"].hour: r["n_events"]
        for r in spark.sql("SELECT * FROM t_wm").collect()
    }
    assert rows.get(10) == 3      # closed by the watermark, emitted once
    assert 12 not in rows         # never closed: never emitted
    # the straggler may aggregate (fresh state) — both outcomes
    # conform; what is GUARANTEED is it can never double-emit
    assert rows.get(9) in (None, 1)
