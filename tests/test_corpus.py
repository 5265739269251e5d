"""Corpus composition (cap/sample/packing) and the ANF sketch."""

import pyspark.sql.functions as F
import pytest

from onionnet_spark.core import OnionGraph
from onionnet_spark.functions import corpus
from onionnet_spark.operators.analytics import neighborhood_function_sketch


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, " ".join(f"w{j}" for j in range(5 + i % 7)), f"s{i % 3}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, source string")


def test_cap_per_source_binds_and_is_deterministic(docs):
    capped = corpus.cap_per_source(docs, cap=7)
    per_src = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per_src == {"s0": 7, "s1": 7, "s2": 7}
    # seedless: two runs pick the identical winners
    a = {(r["doc_id"], r["sel_rank"]) for r in capped.collect()}
    b = {(r["doc_id"], r["sel_rank"]) for r in corpus.cap_per_source(docs, cap=7).collect()}
    assert a == b
    assert all(1 <= rk <= 7 for (_, rk) in a)


def test_hash_sample_deterministic_and_nested(docs):
    s25 = {r["doc_id"] for r in corpus.hash_sample(docs, 0.25).collect()}
    s50 = {r["doc_id"] for r in corpus.hash_sample(docs, 0.50).collect()}
    # same threshold family: smaller fraction is a SUBSET of larger
    assert s25 <= s50
    assert s25 == {r["doc_id"] for r in corpus.hash_sample(docs, 0.25).collect()}
    assert 0 < len(s50) < 60
    with pytest.raises(ValueError):
        corpus.hash_sample(docs, 1.5)


def test_pack_sequences_matches_serial_prefix_sum(docs):
    packed = {r["doc_id"]: r for r in corpus.pack_sequences(docs, 16).collect()}
    # serial reference: cumsum in doc_id order
    ref = sorted(
        (r["doc_id"], len(r["text"].split()))
        for r in docs.select("doc_id", "text").collect()
    )
    offset = 0
    for doc_id, n in ref:
        row = packed[doc_id]
        assert row["n_tokens"] == n
        assert row["start_offset"] == offset, doc_id
        assert row["first_seq"] == offset // 16
        assert row["last_seq"] == (offset + n - 1) // 16
        offset += n
    # docs longer than a window straddle: some doc must span >1 seq
    assert any(r["last_seq"] > r["first_seq"] for r in packed.values())


def _toy_graph(spark):
    nodes = spark.createDataFrame(
        [("L", n) for n in "abcd"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "b", "L", "c"), ("L", "c", "L", "d")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    return OnionGraph(nodes, edges)


def test_anf_sketch_deterministic_and_monotone(spark):
    g = _toy_graph(spark)
    r2 = {r["node_id"]: r["est_ball"]
          for r in neighborhood_function_sketch(g, radius=2, k=8).collect()}
    r3 = {r["node_id"]: r["est_ball"]
          for r in neighborhood_function_sketch(g, radius=3, k=8).collect()}
    assert r2 == {r["node_id"]: r["est_ball"]
                  for r in neighborhood_function_sketch(g, radius=2, k=8).collect()}
    # balls only grow with radius -> k-mins only shrink -> estimate
    # is non-decreasing in radius, strictly larger for a (chain end)
    assert all(r3[n] >= r2[n] for n in "abcd")
    assert r3["a"] > r2["a"]
    # d is a sink: its ball is {d} at any radius
    assert r3["d"] == r2["d"]
    # same-set sketches agree exactly: ball(c, 3) == ball(c, 2) == {c, d}
    assert r3["c"] == r2["c"]
    with pytest.raises(ValueError):
        neighborhood_function_sketch(g, radius=1, direction="sideways")


def test_anf_estimate_tracks_true_ball_size(spark):
    # clique of 12: every node's radius-1 ball is all 12 nodes; the
    # k-mins MLE with k=64 should land within ~35% of the truth
    names = [f"n{i}" for i in range(12)]
    nodes = spark.createDataFrame([("L", n) for n in names], "layer string, node_id string")
    edges = spark.createDataFrame(
        [("L", a, "L", b) for a in names for b in names if a != b],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = OnionGraph(nodes, edges)
    est = [r["est_ball"] for r in neighborhood_function_sketch(g, radius=1, k=64).collect()]
    assert len(set(est)) == 1  # identical ball -> identical sketch
    assert 12 * 0.65 <= est[0] <= 12 * 1.35


def test_harmonic_closeness_hand_computed(spark):
    from onionnet_spark.operators.analytics import harmonic_closeness_sampled

    g = _toy_graph(spark)  # chain a -> b -> c -> d
    h = {r["node_id"]: r["harmonic"]
         for r in harmonic_closeness_sampled(
             g, [("L", "a"), ("L", "b")], max_depth=8, direction="downstream"
         ).collect()}
    # d(a,.): b=1 c=2 d=3; d(b,.): c=1 d=2
    assert h == {"a": 0.0, "b": 1.0, "c": 1.5, "d": round(1/3 + 1/2, 6)}


def test_multi_source_bfs_matches_single_source(spark, tpch_graph):
    from onionnet_spark.operators.traversal import bfs_distances, multi_source_bfs

    srcs = [("region", "0"), ("nation", "3")]
    batched = multi_source_bfs(tpch_graph, srcs, "upstream", max_dist=3)
    for (l, i) in srcs:
        single = {
            (r["layer"], r["node_id"]): r["dist"]
            for r in bfs_distances(tpch_graph, [(l, i)], "upstream", 3).collect()
        }
        part = {
            (r["layer"], r["node_id"]): r["dist"]
            for r in batched.filter(F.col("sid") == f"{l}:{i}").collect()
        }
        assert part == single


def test_annotate_nodes_pipeline(spark):
    from onionnet_spark.core import NODE_KEY
    from onionnet_spark.operators.analytics import degrees
    from onionnet_spark.operators.properties import annotate_nodes

    g = _toy_graph(spark)  # chain a -> b -> c -> d
    ann = annotate_nodes(
        g,
        {"deg": lambda gg: degrees(gg).select(*NODE_KEY, F.col("degree").alias("v"))},
    )
    got = {r["node_id"]: r["deg"] for r in ann.nodes.collect()}
    assert got == {"a": 1, "b": 2, "c": 2, "d": 1}
    assert ann.edges is g.edges  # edges untouched
    with pytest.raises(ValueError):
        annotate_nodes(g, {"bad": lambda gg: degrees(gg)})  # 3 value cols


def test_mixture_allocation_caps_and_proportionality(spark):
    from onionnet_spark.functions.corpus import mixture_allocation

    docs = spark.createDataFrame(
        [
            # source 'big': 3 fluent docs; 'small': 1 doc; 'tiny': 1 short doc
            (1, "the quick brown fox jumps over the lazy dog again and again", "big"),
            (2, "a plain sentence with the usual words and the common stops", "big"),
            (3, "more of the same fluent text with the typical word mix", "big"),
            (4, "short but fine text with the usual words", "small"),
            (5, "x", "tiny"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: r
        for r in mixture_allocation(
            docs, budget_tokens=100, alpha=1.0, cap_frac=0.4
        ).collect()
    }
    assert set(out) == {"big", "small", "tiny"}
    total_w = sum(r["weight"] for r in out.values())
    assert abs(total_w - 1.0) < 1e-4
    for r in out.values():
        # hard caps: never more than available, never more than cap_frac*budget
        assert r["alloc_tokens"] <= r["avail_tokens"]
        assert r["alloc_tokens"] <= 40
        assert 0.0 <= r["sample_frac"] <= 1.0
    # the big fluent source gets the largest share
    assert out["big"]["weight"] == max(r["weight"] for r in out.values())
    # alpha=0 ignores quality: weights become availability-proportional
    out0 = {
        r["source"]: r
        for r in mixture_allocation(
            docs, budget_tokens=100, alpha=0.0, cap_frac=1.0
        ).collect()
    }
    tot_avail = sum(r["avail_tokens"] for r in out0.values())
    for r in out0.values():
        assert abs(r["weight"] - r["avail_tokens"] / tot_avail) < 1e-4


def test_shuffle_shards_balanced_deterministic_and_seeded(docs):
    out = corpus.shuffle_shards(docs, n_shards=7, seed="a").collect()
    assert len(out) == 60
    # shards balanced within 1 and positions are 0..len(shard)-1 in each
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
    sizes = {len(v) for v in by_shard.values()}
    assert max(sizes) - min(sizes) <= 1
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # deterministic across calls; different seed permutes
    again = corpus.shuffle_shards(docs, n_shards=7, seed="a").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = corpus.shuffle_shards(docs, n_shards=7, seed="b").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))
    # matches the serial definition: rank of md5("a:"+id) hex prefix
    import hashlib

    def hv(i):
        return int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:12], 16)

    order = sorted(range(60), key=lambda i: (hv(i), i))
    expect = {
        did: (pos % 7, pos // 7) for pos, did in enumerate(order)
    }
    got = {r["doc_id"]: (r["shard"], r["pos_in_shard"]) for r in out}
    assert got == expect


def test_chunk_dedup_first_occurrence_wins(spark):
    from onionnet_spark.functions.dedup import chunk_dedup

    # doc 0: 2 chunks (a..e | f..h); doc 1 repeats doc 0's first
    # chunk then fresh words; doc 2 repeats doc 1 entirely.
    c1 = "a b c d e"
    d0 = c1 + " f g h"
    d1 = c1 + " x y z"
    rows = [(0, d0), (1, d1), (2, d1)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"], r["n_tokens_kept"])
        for r in chunk_dedup(df, chunk_words=5).collect()
    }
    # doc0 first: keeps both chunks (5 + 3 tokens)
    assert out[0] == (2, 0, 8)
    # doc1: first chunk is a dup of doc0's, second ('x y z') is novel
    assert out[1] == (2, 1, 3)
    # doc2: both chunks already seen
    assert out[2] == (2, 2, 0)


def test_weighted_sample_proportional_and_deterministic(spark):
    # weight 9 vs 1: across many disjoint seeds the heavy item should
    # win the n=1 slot roughly 90% of the time
    rows = [(0, 9.0), (1, 1.0)]
    df = spark.createDataFrame(rows, "doc_id bigint, weight double")
    wins = 0
    trials = 30
    for t in range(trials):
        got = corpus.weighted_sample(df, "weight", n=1, seed=f"s{t}").collect()
        wins += got[0]["doc_id"] == 0
    assert wins >= trials * 0.7  # E[wins]=0.9*30=27; 21 is ~4 sigma down
    # deterministic given the seed; zero/negative weights excluded
    a = corpus.weighted_sample(df, "weight", n=2, seed="x").collect()
    b = corpus.weighted_sample(df, "weight", n=2, seed="x").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    df0 = spark.createDataFrame(
        [(0, 5.0), (1, 0.0), (2, -1.0)], "doc_id bigint, weight double"
    )
    got = corpus.weighted_sample(df0, "weight", n=3).collect()
    assert [r["doc_id"] for r in got] == [0]


def test_bpe_merge_candidates_hand_computed(spark):
    from onionnet_spark.functions.text import bpe_merge_candidates

    df = spark.createDataFrame(
        [(0, "abab ab"), (1, "abc x")], "doc_id bigint, text string"
    )
    # pairs: 'abab' -> ab, ba, ab; 'ab' -> ab; 'abc' -> ab, bc; 'x' skipped
    got = [(r["pair"], r["n"], r["rank"]) for r in
           bpe_merge_candidates(df, top_n=3).collect()]
    assert got == [("ab", 4, 1), ("ba", 1, 2), ("bc", 1, 3)]
