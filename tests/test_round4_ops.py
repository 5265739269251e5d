"""Round-4 operator tests: edge cases the sf fixtures can't reach
(NULLs, empty inputs, boundary buckets, degenerate graphs) plus
partitioning-invariance checks for the ops that promise it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from onionnet_spark.core import OnionGraph


def _toy_graph(spark):
    nodes = spark.createDataFrame(
        [
            ("L", "a", 10.0),
            ("L", "b", 20.0),
            ("L", "c", None),
            ("R", "x", 5.0),
            ("R", "y", 7.5),
        ],
        "layer string, node_id string, val double",
    )
    edges = spark.createDataFrame(
        [
            ("L", "a", "R", "x"),
            ("L", "b", "R", "x"),
            ("L", "b", "R", "y"),
            ("L", "c", "R", "y"),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    return OnionGraph(nodes, edges)


# ---------------------------------------------------------------- graph ops


def test_neighbor_agg_directions_and_nulls(spark):
    from onionnet_spark.operators.analytics import neighbor_agg

    g = _toy_graph(spark)
    down = {r["node_id"]: r for r in neighbor_agg(g, "val").collect()}
    # a -> x only: sum 5.0; isolated receivers report 0 neighbors
    assert down["a"]["n_nbrs"] == 1 and down["a"]["sum_val"] == 5.0
    assert down["b"]["n_nbrs"] == 2 and down["b"]["sum_val"] == 12.5
    assert down["x"]["n_nbrs"] == 0 and down["x"]["sum_val"] is None
    up = {r["node_id"]: r for r in neighbor_agg(g, "val", "upstream").collect()}
    # y's upstream neighbors are b (20.0) and c (NULL): NULL skipped
    # by sum/mean but counted in n_nbrs
    assert up["y"]["n_nbrs"] == 2
    assert up["y"]["sum_val"] == 20.0 and up["y"]["mean_val"] == 20.0
    sym = {r["node_id"]: r for r in neighbor_agg(g, "val", "sym").collect()}
    assert sym["x"]["n_nbrs"] == 2 and sym["x"]["sum_val"] == 30.0
    with pytest.raises(ValueError):
        neighbor_agg(g, "val", "sideways")


def test_neighbor_agg_quantized_matches_raw_on_2dp_values(spark):
    from onionnet_spark.operators.analytics import neighbor_agg

    g = _toy_graph(spark)
    raw = {
        (r["layer"], r["node_id"]): (r["sum_val"], r["mean_val"])
        for r in neighbor_agg(g, "val").collect()
    }
    quant = {
        (r["layer"], r["node_id"]): (r["sum_val"], r["mean_val"])
        for r in neighbor_agg(g, "val", quantize_scale=100).collect()
    }
    assert raw == quant


def test_link_prediction_counts_and_aa(spark):
    from math import floor, log

    from onionnet_spark.operators.analytics import link_prediction

    # suppliers u,v share parts p1,p2 (df 2 each); w shares only p1
    edges = spark.createDataFrame(
        [
            ("S", "u", "P", "p1"),
            ("S", "u", "P", "p2"),
            ("S", "v", "P", "p1"),
            ("S", "v", "P", "p2"),
            ("S", "w", "P", "p1"),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = edges.selectExpr(
        "src_layer as layer", "src_id as node_id"
    ).union(edges.selectExpr("dst_layer", "dst_id")).distinct()
    g = OnionGraph(nodes, edges)
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in link_prediction(g, "S", min_common=1).collect()
    }
    uv = rows[("u", "v")]
    assert uv["common"] == 2 and uv["jaccard"] == 1.0
    # p1 has df 3 (u, v, w), p2 has df 2
    expect_aa = round(
        (floor(1e6 / log(3.0)) + floor(1e6 / log(2.0))) / 1e6, 6
    )
    assert uv["adamic_adar"] == expect_aa
    assert rows[("u", "w")]["common"] == 1
    # min_common=2 drops the single-shared pairs
    pairs2 = {
        (r["id_a"], r["id_b"])
        for r in link_prediction(g, "S", min_common=2).collect()
    }
    assert pairs2 == {("u", "v")}


def test_degree_distribution_counts_isolated(spark):
    from onionnet_spark.operators.analytics import degree_distribution

    nodes = spark.createDataFrame(
        [("L", "a"), ("L", "b"), ("L", "lonely")],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    hist = {
        r["degree"]: r["n_nodes"]
        for r in degree_distribution(OnionGraph(nodes, edges)).collect()
    }
    assert hist == {0: 1, 1: 2}


def test_powerlaw_alpha_closed_form(spark):
    from math import floor, log

    from onionnet_spark.operators.analytics import powerlaw_alpha

    # star: hub degree 4, leaves degree 1 -> tail (d>=2) = {4}
    edges = spark.createDataFrame(
        [("L", "h", "L", f"l{i}") for i in range(4)],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = edges.selectExpr("src_layer as layer", "src_id as node_id").union(
        edges.selectExpr("dst_layer", "dst_id")
    ).distinct()
    row = powerlaw_alpha(OnionGraph(nodes, edges), d_min=2).collect()[0]
    assert row["n_tail"] == 1
    assert row["alpha"] == round(1.0 + 1 / (floor(log(4 / 1.5) * 1e6) / 1e6), 6)


def test_rich_club_dense_core(spark):
    from onionnet_spark.operators.analytics import rich_club

    # triangle core {a,b,c} (degrees 3,3,2) + pendant d on a, e on b
    edges = spark.createDataFrame(
        [
            ("L", "a", "L", "b"),
            ("L", "b", "L", "c"),
            ("L", "a", "L", "c"),
            ("L", "a", "L", "d"),
            ("L", "b", "L", "e"),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = edges.selectExpr("src_layer as layer", "src_id as node_id").union(
        edges.selectExpr("dst_layer", "dst_id")
    ).distinct()
    rows = {r["k"]: r for r in rich_club(OnionGraph(nodes, edges), [1, 2, 9]).collect()}
    # k=2: nodes with degree > 2 = {a, b}; the a-b edge survives -> phi = 1
    assert rows[2]["n_nodes"] == 2 and rows[2]["n_edges"] == 1
    assert rows[2]["phi"] == 1.0
    # k=9: empty club -> zero counts, NULL phi
    assert rows[9]["n_nodes"] == 0 and rows[9]["phi"] is None


def test_bipartite_layout_barycenter_order(spark):
    from onionnet_spark.operators.properties import bipartite_ordered_layout

    g = _toy_graph(spark)
    pos = {r["node_id"]: r for r in bipartite_ordered_layout(g, "L", "R").collect()}
    # left ranked by node_id: a=0, b=1, c=2
    assert [pos[n]["y"] for n in "abc"] == [0.0, 30.0, 60.0]
    assert all(pos[n]["x"] == 0.0 for n in "abc")
    # x: avg rank of {a, b} = 0.5; y: avg of {b, c} = 1.5 -> x before y
    assert pos["x"]["y"] == 0.0 and pos["y"]["y"] == 30.0
    assert pos["x"]["x"] == 1.0 and pos["y"]["x"] == 1.0


def test_style_columns_power_and_transform(spark):
    from onionnet_spark.operators.properties import style_columns

    nodes = spark.createDataFrame(
        [("L", "a", -4.0), ("L", "b", 0.0), ("L", "c", 2.0)],
        "layer string, node_id string, val double",
    )
    g = OnionGraph(nodes, nodes.limit(0).selectExpr(
        "layer as src_layer", "node_id as src_id",
        "layer as dst_layer", "node_id as dst_id"))
    out = {
        r["node_id"]: r["size"]
        for r in style_columns(
            g, "val", "layer", power=2, transform="abs"
        ).collect()
    }
    # |val| in {4, 0, 2}; norm {1, 0, 0.5}; squared {1, 0, 0.25}
    assert out["a"] == 10.0 and out["b"] == 1.0 and out["c"] == 3.25
    with pytest.raises(ValueError):
        style_columns(g, "val", "layer", transform="cube")


# ------------------------------------------------------------ pipeline ops


def test_line_dedup_null_and_boilerplate(spark):
    from onionnet_spark.functions.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "header\nunique one\n\n  header  "),
            (2, "header\nunique two"),
            (3, None),
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # doc 1: 'header' (kept), 'unique one' (kept), trimmed dup 'header'
    assert rows[1]["n_lines"] == 3 and rows[1]["n_dup_lines"] == 1
    assert rows[2]["n_lines"] == 2 and rows[2]["n_dup_lines"] == 1
    assert rows[2]["n_kept_chars"] == len("unique two")
    # null/empty docs emit no rows at all
    assert 3 not in rows and 4 not in rows


def test_tokenize_to_ids_roundtrip(spark):
    from onionnet_spark.functions.text import tokenize_to_ids

    docs = spark.createDataFrame(
        [(1, "b a a"), (2, "a c")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in tokenize_to_ids(docs).collect()}
    # counts: a=3, b=1, c=1 -> ids a=0, b=1, c=2 (freq desc, tok asc)
    assert out[1]["ids"] == [1, 0, 0]
    assert out[2]["ids"] == [0, 2]
    assert out[1]["n_tokens"] == 3


def test_oov_and_dsir_agree_on_structure(spark, sf_dir):
    from onionnet_spark.functions.text import dsir_logratio, oov_rate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    oov = oov_rate(docs, vocab_size=10)
    assert oov.filter(
        (F.col("oov_rate") < 0) | (F.col("oov_rate") > 1)
    ).count() == 0
    dsir = dsir_logratio(docs, target=F.col("lang") == "en")
    # English docs must score higher toward the English target on avg
    means = {
        r["is_en"]: r["m"]
        for r in dsir.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("logratio").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_cosine_histogram_boundary_bucket(spark):
    from onionnet_spark.functions.similarity import cosine_histogram

    # identical vectors -> cosine exactly 1.0 must land in the LAST
    # bucket (the least() clamp), never a phantom bucket 20
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    rows = cosine_histogram(df, sample_frac=1.0, n_bins=20).collect()
    assert len(rows) == 1
    assert rows[0]["bucket"] == 19 and rows[0]["bucket_hi"] == 1.0
    assert rows[0]["n_pairs"] == 8 * 7 // 2


def test_quantize_int8_range_and_dead_dim(spark):
    from onionnet_spark.functions.similarity import quantize_embeddings_int8

    df = spark.createDataFrame(
        [(1, [0.5, 0.0, -2.0]), (2, [-0.5, 0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    rows = {(r["vec_id"], r["pos"]): r for r in quantize_embeddings_int8(df).collect()}
    assert rows[(1, 0)]["code"] == 127 and rows[(2, 0)]["code"] == -127
    # dead dimension: scale 0, code 0 (no division by zero)
    assert rows[(1, 1)]["code"] == 0 and rows[(1, 1)]["scale"] == 0.0
    assert rows[(1, 2)]["code"] == -127 and rows[(2, 2)]["code"] == 64
    codes = [r["code"] for r in rows.values()]
    assert all(-127 <= c <= 127 for c in codes)


def test_random_projection_partitioning_invariant(spark):
    from onionnet_spark.functions.similarity import random_projection

    df = spark.createDataFrame(
        [(i, [float(i % 5) / 7, float(i % 3) - 1.0]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    a = sorted(map(tuple, random_projection(df, out_dim=4).collect()))
    b = sorted(
        map(tuple, random_projection(df.repartition(13), out_dim=4).collect())
    )
    assert a == b  # integer sums: partition merge order cannot matter


def test_asof_tolerance_nulls_stale_matches(spark):
    from onionnet_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "k", 100.0), (2, "k", 500.0)], "id bigint, k string, ts double"
    )
    right = spark.createDataFrame(
        [("k", 90.0, "fresh"), ("k", 10.0, "stale")],
        "k string, ts double, tag string",
    )
    out = {
        r["id"]: r
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts",
            right_value_cols=["tag"], tolerance=50.0,
        ).collect()
    }
    # id 1: match at 90 (gap 10 <= 50) kept; id 2: match at 90
    # (gap 410 > 50) nulled — including the matched ts column
    assert out[1]["tag_asof"] == "fresh" and out[1]["ts_asof"] == 90.0
    assert out[2]["tag_asof"] is None and out[2]["ts_asof"] is None


def test_interarrival_gap_identity(spark, sf_dir):
    from onionnet_spark.operators.timeseries import interarrival_stats
    from onionnet_spark.sources.tpch_graph import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    out = interarrival_stats(ev)
    # identity: n_gaps == n_events - 1 for every key; mean <= max
    bad = out.filter(
        (F.col("n_gaps") != F.col("n_events") - 1)
        | (F.col("mean_gap_s") > F.col("max_gap_s"))
    )
    assert bad.count() == 0


def test_source_overlap_containment_bounds(spark, sf_dir):
    from onionnet_spark.functions.dedup import source_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = source_overlap(docs, n=3)
    assert out.filter(
        (F.col("containment") <= 0) | (F.col("containment") > 1)
    ).count() == 0
    # symmetry of the canonical form: every pair appears once, a < b
    assert out.filter(F.col("src_a") >= F.col("src_b")).count() == 0


def test_topological_levels_dag_and_cycle_guard(spark):
    from onionnet_spark.operators.traversal import topological_levels

    # diamond: a -> b -> d, a -> c -> d, plus long arm a -> e -> b
    edges = spark.createDataFrame(
        [
            ("L", "a", "L", "b"),
            ("L", "b", "L", "d"),
            ("L", "a", "L", "c"),
            ("L", "c", "L", "d"),
            ("L", "a", "L", "e"),
            ("L", "e", "L", "b"),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = edges.selectExpr("src_layer as layer", "src_id as node_id").union(
        edges.selectExpr("dst_layer", "dst_id")
    ).distinct()
    lv = {
        r["node_id"]: r["level"]
        for r in topological_levels(OnionGraph(nodes, edges)).collect()
    }
    # LONGEST path: b sits at 2 (via e), d at 3
    assert lv == {"a": 0, "e": 1, "b": 2, "c": 1, "d": 3}

    cyc = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "b", "L", "a")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    cnodes = cyc.selectExpr("src_layer as layer", "src_id as node_id").union(
        cyc.selectExpr("dst_layer", "dst_id")
    ).distinct()
    with pytest.raises(RuntimeError, match="cycle"):
        topological_levels(OnionGraph(cnodes, cyc), max_iterations=5)


def test_knn_accuracy_separable_labels(spark):
    from onionnet_spark.functions.similarity import knn_label_accuracy

    # two well-separated label clusters -> LOO 3-NN is perfect
    rows = [(i, [1.0, 0.01 * i], 0) for i in range(6)] + [
        (10 + i, [-1.0, 0.01 * i], 1) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    out = knn_label_accuracy(df, k=3).collect()[0]
    assert out["n_vectors"] == 12 and out["accuracy"] == 1.0


def test_char_entropy_closed_forms(spark):
    from math import floor, log

    from onionnet_spark.functions.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, None), (4, "")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert out[1]["entropy"] == 0.0  # single symbol: zero entropy
    # two symbols, equal counts: ln(4) - 2*floor(2*ln2*1e6)/1e6/4
    expect = round(log(4.0) - 2 * floor(2 * log(2.0) * 1e6) / 1e6 / 4, 6)
    assert out[2]["entropy"] == expect
    assert 3 not in out and 4 not in out  # null/empty emit nothing


def test_daily_topk_rank_bounds(spark, sf_dir):
    from onionnet_spark.operators.timeseries import daily_topk_types
    from onionnet_spark.sources.tpch_graph import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    out = daily_topk_types(ev, k=3)
    assert out.filter((F.col("rank") < 1) | (F.col("rank") > 3)).count() == 0
    per_day = out.groupBy("day").count()
    assert per_day.filter(F.col("count") > 3).count() == 0


# ---------------------------------------------------------------------------
# round-4 continuation: ngram_topk / nearest-centroid / LSH stats /
# split leakage / channel stats / rolling features
# ---------------------------------------------------------------------------


def test_ngram_topk_short_and_null_docs_emit_nothing(spark):
    from onionnet_spark.functions.text import ngram_topk

    docs = spark.createDataFrame(
        [
            (1, "only two"),          # < n tokens -> no trigram
            (2, None),                # NULL text -> no trigram
            (3, "a b c a b c"),       # 4 trigrams, "a b c" twice
        ],
        "doc_id long, text string",
    )
    rows = {r["ngram"]: (r["rank"], r["n_occurrences"]) for r in ngram_topk(docs).collect()}
    assert rows["a b c"] == (1, 2)
    assert len(rows) == 3  # "a b c" x2, "b c a", "c a b"
    assert sum(c for _, c in rows.values()) == 4
    assert all(" " in g for g in rows)


def test_nearest_centroid_tie_breaks_to_smaller_label(spark):
    from onionnet_spark.functions.similarity import nearest_centroid_confusion

    # labels 1 and 2 have IDENTICAL centroids; every vector is
    # equidistant -> predicted label must be the smaller (1).
    embs = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1),
            (2, [-1.0, 0.0], 1),
            (3, [0.0, 1.0], 2),
            (4, [0.0, -1.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {(r["label"], r["pred_label"]): r["n"] for r in nearest_centroid_confusion(embs).collect()}
    assert out == {(1, 1): 2, (2, 1): 2}


def test_nearest_centroid_separated_labels_are_diagonal(spark):
    from onionnet_spark.functions.similarity import nearest_centroid_confusion

    embs = spark.createDataFrame(
        [(i, [10.0 + i, 0.1 * i], 7) for i in range(3)]
        + [(10 + i, [-10.0 - i, 0.1 * i], 8) for i in range(3)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {(r["label"], r["pred_label"]): r["n"] for r in nearest_centroid_confusion(embs).collect()}
    assert out == {(7, 7): 3, (8, 8): 3}


def test_lsh_bucket_stats_identical_docs_share_one_bucket(spark):
    from onionnet_spark.functions.dedup import lsh_bucket_stats

    same = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, same) for i in range(4)] + [(9, "a completely different sentence with its own shingle set here")],
        "doc_id long, text string",
    )
    out = lsh_bucket_stats(docs).collect()
    assert len(out) == 4  # one row per band
    for r in out:
        assert r["n_docs"] == 5
        assert r["max_bucket"] == 4          # the 4 clones collide
        assert r["n_candidate_pairs"] == 6   # C(4,2)
        assert r["n_singletons"] == 1
        assert r["n_buckets"] == 2


def test_split_leakage_audit_counts_cross_split_pairs(spark):
    from onionnet_spark.functions.dedup import split_leakage_audit

    # md5-split: ids 2 and 9 land in val, 0/1/3 in train (verified in
    # the fixture-finding script). Doc 2 (val) duplicates doc 1
    # (train) -> exactly one leaky pair; docs 3 and 4... keep ids to
    # {0,1,2,3}: 0,1,3 train; 2 val.
    t = "the quick brown fox jumps over the lazy dog again and again"
    u = "an entirely unrelated document with distinct vocabulary throughout body"
    docs = spark.createDataFrame(
        [(0, u), (1, t), (2, t), (3, t)],
        "doc_id long, text string",
    )
    row = split_leakage_audit(docs).collect()[0]
    assert (row["n_train"], row["n_val"]) == (3, 1)
    # pairs among {1,2,3}: (1,2) cross, (1,3) train-train, (2,3) cross
    assert row["n_dup_pairs"] == 3
    assert row["n_leaky_pairs"] == 2
    assert row["leak_rate"] == 1.0  # the single val doc leaks


def test_channel_stats_grey_vs_rgb_shapes(spark):
    from onionnet_spark.functions import multimodal

    ids = spark.createDataFrame([(0,), (1,)], "doc_id long")
    out = multimodal.decode_channel_stats(multimodal.synth_png_payload(ids))
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[0]) == 1 and len(by_doc[1]) == 3  # grey / RGB
    for r in rows:
        assert 0 <= r["px_min"] <= r["px_max"] <= 255
        w, h = 4 + r["doc_id"] % 5, 3 + r["doc_id"] % 4
        assert r["n_px"] == w * h


def test_rolling_features_range_frame_includes_peers(spark):
    from onionnet_spark.operators.timeseries import rolling_features

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, 1.0),
            (2, "2024-01-01 00:00:00", 7, 2.0),   # same-second peer
            (3, "2024-01-05 00:00:00", 7, 4.0),
            (4, "2024-01-20 00:00:00", 7, 8.0),   # outside 7d of 1-3
            (5, "2024-01-02 00:00:00", 8, None),  # NULL value, other key
        ],
        "event_id long, ts string, user_id long, value double",
    )
    out = {r["event_id"]: r for r in rolling_features(events).collect()}
    # peers at the same epoch see each other (RANGE semantics)
    assert out[1]["cnt_w"] == 2 and out[2]["cnt_w"] == 2
    assert out[1]["sum_w"] == 3.0 and out[2]["sum_w"] == 3.0
    # lag is still deterministic within the tie (ordered by event_id)
    assert out[1]["gap_s"] is None and out[2]["gap_s"] == 0
    assert out[3]["cnt_w"] == 3 and out[3]["sum_w"] == 7.0
    assert out[4]["cnt_w"] == 1 and out[4]["sum_w"] == 8.0
    assert out[4]["gap_s"] == 15 * 86400
    # NULL value: counted in cnt_w, skipped by the sum
    assert out[5]["cnt_w"] == 1 and out[5]["sum_w"] is None


def test_c4_line_filter_drops_boilerplate_keeps_order(spark):
    import hashlib

    from onionnet_spark.functions.text import c4_line_filter

    docs = spark.createDataFrame(
        [
            (1, "First real sentence here.\nMenu\nSecond sentence stays too!\nOK"),
            (2, "Login\nSignup\nCart"),  # nothing survives
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_line_filter(docs).collect()}
    kept = "First real sentence here.\nSecond sentence stays too!"
    assert out[1]["n_kept"] == 2 and out[1]["n_dropped"] == 2
    assert out[1]["clean_len"] == len(kept)
    assert out[1]["clean_md5"] == hashlib.md5(kept.encode()).hexdigest()
    # all-dropped doc still reports, with the empty-string fingerprint
    assert out[2]["n_kept"] == 0 and out[2]["n_dropped"] == 3
    assert out[2]["clean_md5"] == hashlib.md5(b"").hexdigest()


def test_pii_counts_by_group_aggregates(spark):
    from onionnet_spark.functions.text import pii_counts_by_group

    docs = spark.createDataFrame(
        [
            (1, "a", "mail me at bob@x.com or alice@y.org"),
            (2, "a", "clean text with no identifiers at all"),
            (3, "b", "server 192.168.0.1 phone 555-123-4567"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in pii_counts_by_group(docs).collect()}
    assert out["a"]["n_docs"] == 2 and out["a"]["n_docs_with_pii"] == 1
    assert out["a"]["n_emails"] == 2 and out["a"]["n_phones"] == 0
    assert out["b"]["n_ipv4"] == 1 and out["b"]["n_phones"] == 1


def test_minhash_signature_export_matches_wide(spark):
    from onionnet_spark.functions.dedup import (
        minhash_signature_export,
        minhash_signatures,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog number %d" % i)
         for i in range(5)],
        "doc_id long, text string",
    )
    long = minhash_signature_export(docs)
    assert long.count() == 5 * 16
    wide = {r["id"]: r for r in minhash_signatures(word_shingles(docs)).collect()}
    for r in long.collect():
        assert r["sig"] == wide[r["doc_id"]][f"s{r['perm']}"]


def test_community_conductance_cliques_and_isolate(spark):
    from onionnet_spark.operators.components import community_conductance

    # two triangles bridged by one edge + an isolated node
    tri = lambda p: [
        ("L", f"{p}1", "L", f"{p}2"),
        ("L", f"{p}2", "L", f"{p}3"),
        ("L", f"{p}1", "L", f"{p}3"),
    ]
    edges = spark.createDataFrame(
        tri("a") + tri("b") + [("L", "a1", "L", "b1")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = edges.selectExpr("src_layer as layer", "src_id as node_id").union(
        edges.selectExpr("dst_layer", "dst_id")
    ).distinct().union(
        spark.createDataFrame([("L", "zz")], "layer string, node_id string")
    )
    out = community_conductance(OnionGraph(nodes, edges), n_rounds=5).collect()
    by_comm = {r["community"]: r for r in out}
    assert sum(r["n_nodes"] for r in out) == 7
    # the isolated node forms its own zero-volume community
    iso = [r for r in out if r["volume"] == 0]
    assert len(iso) == 1 and iso[0]["conductance"] is None
    # every real community's conductance is in (0, 1]
    for r in out:
        if r["volume"] > 0:
            assert r["conductance"] is None or 0 <= r["conductance"] <= 1


def test_revenue_mom_first_month_null(spark, sf_dir):
    import __spark_entry__ as e

    out = e.queries()["orders_revenue_mom"](spark, sf_dir).orderBy("month").collect()
    assert out[0]["mom_pct"] is None
    assert all(r["mom_pct"] is not None for r in out[1:])
    assert all(r["revenue"] > 0 for r in out)


def test_simhash_near_pairs_recall_and_threshold(spark):
    from onionnet_spark.functions.dedup import simhash, simhash_near_pairs

    base = "the quick brown fox jumps over the lazy dog while counting stars"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                       # identical -> hamming 0
            (3, base + " tonight"),          # near
            (4, "completely different text about database query planning"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs).collect()
    }
    assert pairs[(1, 2)] == 0
    # the banded candidates must achieve FULL recall at <= bands-1:
    # every pair within the threshold by brute force must be found
    import itertools

    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    for a, b in itertools.combinations(sorted(sh), 2):
        hd = bin(sh[a] ^ sh[b]).count("1")
        if hd <= 3:
            assert (a, b) in pairs and pairs[(a, b)] == hd
        else:
            assert (a, b) not in pairs


def test_pca_top_component_finds_dominant_axis(spark):
    from onionnet_spark.functions.similarity import pca_top_component

    # variance concentrated on dim 2; small noise on dim 0
    rows = [
        (i, [0.001 * (i % 3), 0.0, float(i - 10), 0.0]) for i in range(21)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["pos"]: r["loading"] for r in pca_top_component(df).collect()}
    assert abs(out[2]) == 1.0          # max-abs normalized dominant axis
    assert all(abs(out[p]) < 0.01 for p in (1, 3))


def test_pca_top_component_degenerate_zero_variance(spark):
    from onionnet_spark.functions.similarity import pca_top_component

    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    out = pca_top_component(df).collect()
    assert all(r["loading"] == 0.0 for r in out)


def test_tfidf_topk_rare_term_wins(spark):
    from onionnet_spark.functions.ranking import tfidf_doc_topk_terms

    docs = spark.createDataFrame(
        [
            (1, "common common common zebra"),
            (2, "common words here"),
            (3, "common words again"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): r
        for r in tfidf_doc_topk_terms(docs, k=2).collect()
    }
    # 'zebra' (df 1) outranks 'common' (df 3) despite tf 3 vs 1
    assert out[(1, 1)]["term"] == "zebra"
    assert out[(1, 2)]["term"] == "common"
    assert out[(1, 1)]["tfidf"] > out[(1, 2)]["tfidf"]


def test_session_paths_gap_splits_and_order(spark):
    from onionnet_spark.streaming.events import session_paths

    rows = [
        # user 7: view > click, then a >30min gap, then purchase alone
        (1, "2024-01-01 10:00:00", 7, "view"),
        (2, "2024-01-01 10:10:00", 7, "click"),
        (3, "2024-01-01 11:00:01", 7, "purchase"),
        # user 8: same-second tie ordered by event_id
        (5, "2024-01-02 09:00:00", 8, "b_second"),
        (4, "2024-01-02 09:00:00", 8, "a_first"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
             "user_id", "event_type")
    out = {r["path"]: r for r in session_paths(df, gap_s=1800, k=10).collect()}
    assert set(out) == {"view>click", "purchase", "a_first>b_second"}
    assert all(r["n_sessions"] == 1 for r in out.values())


def test_project_out_kills_dominant_axis(spark):
    from onionnet_spark.functions.similarity import project_out_component

    rows = [(i, [float(i - 10), 0.5, 0.0]) for i in range(21)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = project_out_component(df).collect()
    by_pos = {}
    for r in res:
        by_pos.setdefault(r["pos"], []).append(r["res_q"])
    # dominant axis (pos 0) residuals collapse to ~0; the constant
    # orthogonal dim survives untouched
    assert max(abs(v) for v in by_pos[0]) <= 1
    assert all(v == 500_000 for v in by_pos[1])
    assert all(v == 0 for v in by_pos[2])


def test_containment_catches_doc_inside_doc(spark):
    from onionnet_spark.functions.dedup import containment_pairs, minhash_lsh_pairs

    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    big = small + (
        " lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"
        " omega one two three four five six seven eight nine ten eleven"
        " twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "unrelated text with entirely different words here")],
        "doc_id long, text string",
    )
    got = {
        (r["id_small"], r["id_big"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    # the small doc is fully inside the big one...
    assert got[(1, 2)] == 1.0
    # ...but NOT the reverse, and symmetric Jaccard misses the pair
    assert (2, 1) not in got
    jac = minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert not any(r["id_a"] == 1 and r["id_b"] == 2 for r in jac)


def test_vocab_growth_monotone_and_totals(spark, sf_dir):
    from onionnet_spark.functions.text import (
        tokens_col,
        vocab_growth_curve,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = vocab_growth_curve(docs, n_buckets=10).orderBy("bucket").collect()
    assert len(out) <= 10
    for a, b in zip(out, out[1:]):
        assert b["n_tokens_cum"] >= a["n_tokens_cum"]
        assert b["vocab_cum"] >= a["vocab_cum"]
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("t")).filter(
        F.length("t") > 0
    )
    assert out[-1]["n_tokens_cum"] == toks.count()
    assert out[-1]["vocab_cum"] == toks.distinct().count()


def test_node2vec_walk_structure_and_bias(spark):
    from onionnet_spark.operators.walks import node2vec_walks

    # triangle a-b-c plus pendant d on a (symmetrized)
    und = [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")]
    edges = spark.createDataFrame(
        [("L", u, "L", v) for u, v in und] + [("L", v, "L", u) for u, v in und],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = edges.selectExpr("src_layer as layer", "src_id as node_id").union(
        edges.selectExpr("dst_layer", "dst_id")
    ).distinct()
    g = OnionGraph(nodes, edges)
    rows = node2vec_walks(g, walk_len=5, p=4.0, q=0.25).collect()
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r["start"], {})[r["step"]] = r["node"]
    # every node starts one walk; exactly one node per step; each
    # step moves along an edge
    adj = {}
    for u, v in und:
        adj.setdefault("L:" + u, set()).add("L:" + v)
        adj.setdefault("L:" + v, set()).add("L:" + u)
    assert set(by_walk) == set(adj)
    for start, path in by_walk.items():
        assert sorted(path) == list(range(6))  # steps 0..5, one each
        for s in range(5):
            assert path[s + 1] in adj[path[s]]
    # determinism: a second run replays identically
    again = sorted(map(tuple, node2vec_walks(g, walk_len=5, p=4.0, q=0.25).collect()))
    assert again == sorted(map(tuple, rows))


def test_image_dhash_near_pairs_recall(spark):
    import itertools

    from onionnet_spark.functions import multimodal

    # synth payloads: ids with equal (w, h, channels) AND equal
    # pixel-pattern mod-256 offsets produce correlated dhashes; just
    # verify the band path achieves full recall vs brute force
    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    payload = multimodal.synth_png_payload(ids)
    dh_frame = multimodal.image_dhash(payload).localCheckpoint()
    dh = {r["doc_id"]: r["dhash"] for r in dh_frame.collect()}
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.image_dhash_near_pairs(
            payload, dhash_df=dh_frame
        ).collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(dh), 2):
        hd = sum(x != y for x, y in zip(dh[a], dh[b]))
        if hd <= 7:
            want[(a, b)] = hd
    assert got == want
    assert want, "fixture must contain dhash near-dup pairs"


def test_active_users_rolling_windows(spark):
    from onionnet_spark.operators.timeseries import active_users_rolling

    rows = [
        (1, "2024-01-01 10:00:00", 1),
        (2, "2024-01-01 11:00:00", 2),
        (3, "2024-01-05 10:00:00", 1),   # within 7d of Jan 1
        (4, "2024-01-20 10:00:00", 3),   # within 30d, outside 7d
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    out = {str(r["day"])[:10]: r for r in active_users_rolling(df).collect()}
    assert set(out) == {"2024-01-01", "2024-01-05", "2024-01-20"}
    assert (out["2024-01-01"]["dau"], out["2024-01-01"]["wau"], out["2024-01-01"]["mau"]) == (2, 2, 2)
    # Jan 5: dau=1 (u1); wau includes Jan1 actives {1,2}; mau same
    assert (out["2024-01-05"]["dau"], out["2024-01-05"]["wau"], out["2024-01-05"]["mau"]) == (1, 2, 2)
    # Jan 20: only u3 in the 7d window; all three in the 30d window
    assert (out["2024-01-20"]["dau"], out["2024-01-20"]["wau"], out["2024-01-20"]["mau"]) == (1, 1, 3)


def test_abc_classes_shares_partition(spark, sf_dir):
    import __spark_entry__ as e

    out = {r["abc_class"]: r for r in e.queries()["parts_abc_classes"](spark, sf_dir).collect()}
    assert set(out) == {"A", "B", "C"}
    assert abs(sum(r["revenue_share"] for r in out.values()) - 1.0) < 1e-5
    # exact construction invariants: cumulative-share thresholds cap
    # A at 0.80 and A+B at 0.95 (boundary-straddling parts fall to
    # the NEXT class, so C can exceed 0.05 but A/B never overshoot)
    assert 0.7 < out["A"]["revenue_share"] <= 0.8
    assert out["A"]["revenue_share"] + out["B"]["revenue_share"] <= 0.95
    assert out["C"]["revenue_share"] >= 0.05
    # average revenue per part must still decrease A -> B -> C
    avg = {k: r["revenue"] / r["n_parts"] for k, r in out.items()}
    assert avg["A"] > avg["B"] > avg["C"]


def test_norm_outliers_flags_planted_vectors(spark):
    from onionnet_spark.functions.similarity import embedding_norm_outliers

    rows = [(i, [1.0] * 8) for i in range(30)] + [
        (100, [30.0] * 8),   # exploded
        (101, [0.0] * 8),    # truncated/zero
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in embedding_norm_outliers(df, 2.0).collect()}
    assert 100 in out and out[100]["z"] > 2
    assert out[100]["norm"] == round((8 * 30.0**2) ** 0.5, 6)
    # the 30 identical vectors are never flagged
    assert all(k in (100, 101) for k in out)


def test_norm_outliers_degenerate_zero_variance(spark):
    from onionnet_spark.functions.similarity import embedding_norm_outliers

    df = spark.createDataFrame(
        [(i, [2.0, 2.0]) for i in range(5)], "vec_id long, embedding array<float>"
    )
    assert embedding_norm_outliers(df).count() == 0


def test_orders_open_per_day_toy_concurrency(spark):
    import __spark_entry__  # noqa: F401 — ensures registry import side effects

    from onionnet_spark.queries.relational import orders_open_per_day  # noqa: F401

    # direct engine check on a toy frame via the same delta sweep
    from pyspark.sql import Window

    iv = spark.createDataFrame(
        [
            (1, "2024-01-01", "2024-01-03"),
            (2, "2024-01-02", "2024-01-02"),
            (3, "2024-01-05", "2024-01-05"),
        ],
        "k long, d0 string, d1 string",
    ).select("k", F.col("d0").cast("timestamp").alias("d0"),
             F.col("d1").cast("timestamp").alias("d1"))
    deltas = iv.select(F.col("d0").alias("day"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.date_add(F.col("d1").cast("date"), 1).cast("timestamp").alias("day"),
                  F.lit(-1).alias("delta")))
    byday = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    got = {str(r["day"])[:10]: r["n"] for r in
           byday.select("day", F.sum("net").over(w).alias("n")).collect()}
    assert got["2024-01-01"] == 1   # order 1 open
    assert got["2024-01-02"] == 2   # orders 1+2
    assert got["2024-01-03"] == 1   # order 2 closed
    assert got["2024-01-04"] == 0   # all closed
    assert got["2024-01-05"] == 1   # order 3


def test_readability_closed_form(spark):
    from math import floor

    from onionnet_spark.functions.text import readability_scores

    docs = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "   "), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in readability_scores(docs).collect()}
    assert set(out) == {1}  # blank/NULL docs drop
    r = out[1]
    assert (r["n_words"], r["n_sentences"]) == (6, 2)
    # vowel groups: the-e? "the cat sat. the dog ran!": e,a,a,e,o,a -> 6
    assert r["n_syllables"] == 6
    expect = floor((0.39 * (6 / 2) + 11.8 * (6 / 6) - 15.59) * 1e6) / 1e6
    assert r["fk_grade"] == expect


def test_centralization_star_is_one(spark):
    from onionnet_spark.queries.graph_queries import graph_centralization_q  # noqa: F401

    # star on 5 nodes: Freeman degree centralization = 1 by definition
    edges = spark.createDataFrame(
        [("L", "h", "L", f"x{i}") for i in range(4)],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = edges.selectExpr("src_layer as layer", "src_id as node_id").union(
        edges.selectExpr("dst_layer", "dst_id")
    ).distinct()
    g = OnionGraph(nodes, edges)
    sym = g.cached_symmetrized().select(
        F.concat_ws(":", "src_layer", "src_id").alias("u")
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    alln = g.nodes.select(F.concat_ws(":", "layer", "node_id").alias("key"))
    degs = alln.join(deg, alln["key"] == deg["u"], "left").select(
        F.coalesce("d", F.lit(0)).alias("d")
    )
    st = degs.agg(F.count("*").alias("n"), F.max("d").alias("dmax"),
                  F.sum("d").alias("dsum")).collect()[0]
    c = (st["n"] * st["dmax"] - st["dsum"]) / ((st["n"] - 1) * (st["n"] - 2))
    assert c == 1.0


def test_boilerplate_topk_counts_docs_and_occurrences(spark):
    import __spark_entry__ as e

    out = e.queries()["boilerplate_lines_topk"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert r["n_occurrences"] >= r["n_docs"] >= 1
    ranks = [r["rank"] for r in rows]
    assert ranks == list(range(1, len(rows) + 1))


def test_semantic_dedup_cluster_local_and_first_wins(spark):
    from onionnet_spark.functions.similarity import semantic_dedup

    # ids 1,2,3 share label-0's region (near-identical directions ->
    # cosine ~1); id 4 is orthogonal; ids 5,6 are near-identical but
    # land in label-1's cluster — dedup must stay cluster-local.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0, 0.0], 0),
        (3, [0.998, 0.02, 0.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0, 0.0], 0),
        (5, [0.0, 1.0, 0.0, 0.0], 1),
        (6, [0.01, 0.999, 0.0, 0.0], 1),
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in semantic_dedup(embs).collect()}
    assert out[1]["is_kept"] == 1 and out[1]["dup_of"] is None
    # first-occurrence-wins: 2 and 3 both point at 1, not a chain
    assert out[2]["dup_of"] == 1 and out[3]["dup_of"] == 1
    assert out[4]["is_kept"] == 1  # orthogonal: no dup despite same cluster
    assert out[5]["is_kept"] == 1 and out[6]["dup_of"] == 5
    # clusters follow the nearest label centroid
    assert out[1]["cluster"] == out[4]["cluster"] == 0
    assert out[5]["cluster"] == 1


def test_semantic_dedup_threshold_is_exact_integer_test(spark):
    from onionnet_spark.functions.similarity import semantic_dedup

    # cos(a, b) = 0.6 > 0.35 -> dup; cos(a, c) = 0 -> kept;
    # negative-cosine twin must NOT count as a duplicate
    rows = [
        (1, [3.0, 4.0], 0),
        (2, [4.0, 3.0], 0),     # cos = 24/25 = 0.96 with id 1
        (3, [-3.0, -4.0], 0),   # cos = -1 with id 1: dot < 0 guard
        (4, [4.0, -3.0], 0),    # cos = 0 with id 1
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: (r["is_kept"], r["dup_of"]) for r in semantic_dedup(embs).collect()}
    assert out[2] == (0, 1)
    assert out[3] == (1, None)
    assert out[4] == (1, None)


def test_gopher_rules_each_rule_can_fail(spark):
    from onionnet_spark.functions.text import gopher_rules

    good = (
        "the quick brown foxes jumped over some lazy hounds and it was "
        "good for everyone that sunny day " * 6
    ).strip()
    docs = spark.createDataFrame(
        [
            (1, good),                                   # passes everything
            (2, "the of and is"),                        # too few words
            (3, ("aa " * 60).strip()),                   # mean len ok but no stopwords
            (4, good + " " + "#" * 40 + " ####### ## #"),  # symbol ratio
            (5, "\n".join("- " + good[:20] for _ in range(10))),  # bullets
            (6, "\n".join(good[:20] + "..." for _ in range(10))),  # ellipsis ends
            (7, good + " " + " ".join(["12345"] * 200)),  # alpha fraction
            (8, ("supercalifragilistic " * 60 + "the of is and it ").strip()),  # mean word len > 10
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(docs).collect()}
    assert out[1]["passes"] == 1
    assert out[2]["r_word_count"] == 0 and out[2]["passes"] == 0
    assert out[3]["r_stopwords"] == 0
    assert out[4]["r_symbol_ratio"] == 0
    assert out[5]["r_bullet_lines"] == 0
    assert out[6]["r_ellipsis_lines"] == 0
    assert out[7]["r_alpha_words"] == 0
    assert out[8]["r_mean_word_len"] == 0
