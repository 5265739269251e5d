"""Round-9 additions: ann_pq_topk's memoized served-index codebook
(memo parity — ADVICE r8 item 2: the residual variant had this gate,
the pq-only one didn't)."""

import pytest
from pyspark.sql import functions as F

from onionnet_spark.functions import similarity


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _result_set(df):
    return {tuple(r) for r in df.collect()}


def test_pqonly_codebooks_persist_and_reload(spark, embs, monkeypatch):
    """A cache_key ann_pq_topk call returns exactly the cache_key=None
    result, and a repeat call is served the codebook from the session
    memo without retraining it."""
    key = "test-r9-pq-persist-v1"
    fresh = _result_set(similarity.ann_pq_topk(embs, k=3, cache_key=None))
    trained = _result_set(similarity.ann_pq_topk(embs, k=3, cache_key=key))

    def retrain(*args, **kwargs):
        raise AssertionError("memoized codebook was retrained")

    monkeypatch.setattr(similarity, "pq_codebooks", retrain)
    reloaded = _result_set(similarity.ann_pq_topk(embs, k=3, cache_key=key))
    assert trained == reloaded == fresh


def test_bbit_minhash_estimates_track_exact_jaccard(spark):
    """On near-identical long docs the 1-bit estimate must land near
    the exact Jaccard, and on disjoint docs it must clamp to ~0 —
    the Li & Koenig E[A] = (1+J)/2 relation at num_perm=16
    resolution (one bit flip = 0.125 in the estimate)."""
    from onionnet_spark.functions.dedup import (
        bbit_minhash_pairs,
        ngram_jaccard_pairs,
    )

    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " tokX"
    other = " ".join(f"zzz{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, other)],
        "doc_id long, text string",
    )
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in bbit_minhash_pairs(df).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert (1, 2) in est and (3, 4) in est
    # identical docs: every bit matches -> estimate exactly 1
    assert est[(3, 4)] == 1.0
    # near-dup: within 4 bit flips (0.5) of the exact value
    assert abs(est[(1, 2)] - exact[(1, 2)]) <= 0.5
    # estimates are clamped
    assert all(0.0 <= v <= 1.0 for v in est.values())


def test_events_burst_periods_merges_consecutive_days(spark, tmp_path):
    """Toy fixture: two calendar-consecutive burst days merge into ONE
    period; a separated burst day forms its own; quiet types emit
    nothing."""
    import datetime as dt

    from onionnet_spark.queries.streaming_queries import events_burst_periods

    rows = []
    # type 'a': 10 baseline days at 2 events, days 3-4 at 10, day 8 at 10
    for d in range(10):
        day = dt.datetime(2024, 1, 1 + d, 12, 0, 0)
        n = 10 if d in (3, 4, 8) else 2
        rows += [("a", day, i) for i in range(n)]
    # type 'b': flat -> no bursts
    for d in range(10):
        rows += [("b", dt.datetime(2024, 1, 1 + d, 12, 0, 0), 0)]
    df = spark.createDataFrame(
        [(t, ts, float(v)) for (t, ts, v) in rows],
        "event_type string, ts timestamp, value double",
    )
    p = str(tmp_path / "ev.parquet")
    df.withColumn("user_id", F.lit(1).cast("long")).withColumn(
        "event_id", F.lit(1).cast("long")
    ).withColumn("props", F.lit("{}")).write.parquet(p)
    import os

    sf_dir = str(tmp_path)
    os.rename(p, os.path.join(sf_dir, "events.parquet"))
    # load_tables eagerly reads every table's footer: satisfy the
    # other nine with symlinks to the sf0.001 fixtures
    for tbl in ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "documents", "embeddings"):
        os.symlink(
            f"/root/testdata/sf0.001/{tbl}.parquet",
            os.path.join(sf_dir, f"{tbl}.parquet"),
        )
    got = {
        (r["event_type"], str(r["start_day"]), str(r["end_day"])): (
            r["n_days"],
            r["peak_daily"],
            r["total_events"],
        )
        for r in events_burst_periods(spark, sf_dir).collect()
    }
    assert got == {
        ("a", "2024-01-04", "2024-01-05"): (2, 10, 20),
        ("a", "2024-01-09", "2024-01-09"): (1, 10, 10),
    }
