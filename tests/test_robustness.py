"""Edge-case robustness: short documents, non-convergence guards,
duplicate-row semantics — the failure modes a 100 TB corpus hits on
day one (empty/short docs, deep graphs, repeated rows)."""

import threading
import time

import pytest
from pyspark.sql import functions as F

from onionnet_spark.builder import grow_onion
from onionnet_spark.functions import dedup, text
from onionnet_spark.operators.components import connected_components
from onionnet_spark.operators.joins import range_join_count
from onionnet_spark.operators.traversal import weighted_sssp

from tests.conftest import rows_to_set


@pytest.fixture(scope="module")
def short_docs(spark):
    # real corpora are full of sub-n-token documents; none of these
    # may crash the shingle path (ANSI element_at is unforgiving)
    return spark.createDataFrame(
        [
            (1, ""),
            (2, "one"),
            (3, "two words"),
            (4, "exactly three tokens"),
            (5, "the cat sat on the mat"),
            (6, "the cat sat on the mat"),
        ],
        "doc_id long, text string",
    )


def test_word_shingles_short_docs_no_crash(short_docs):
    got = dedup.word_shingles(short_docs).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["id"], set()).add(r["shingle"])
    # docs with < 3 tokens produce ZERO shingles (and no error)
    assert 1 not in by_id and 2 not in by_id and 3 not in by_id
    assert by_id[4] == {"exactly three tokens"}
    assert len(by_id[5]) == 4


def test_ngram_jaccard_short_docs(short_docs):
    pairs = dedup.ngram_jaccard_pairs(short_docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got == {(5, 6): 1.0}


def test_minhash_lsh_short_docs(short_docs):
    pairs = dedup.minhash_lsh_pairs(short_docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got == {(5, 6): 1.0}


def test_fingerprint_short_docs(spark):
    # winnowing guarantees >= 1 fingerprint per non-empty doc, even
    # when the doc has fewer k-grams than the window
    df = spark.createDataFrame(
        [(1, "ab"), (2, "abcdefgh"), (3, "x" * 50)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_fingerprints"] for r in text.fingerprint(df).collect()}
    assert got[1] == 1  # 1 truncated k-gram -> 1 fingerprint
    assert got[2] == 1
    assert got[3] >= 1


def test_fingerprint_full_windows_only(spark):
    # a doc with exactly window+1 = 5 k-grams has 2 full windows
    df = spark.createDataFrame([(1, "abcdefghijkl")], "doc_id long, text string")
    # len 12 -> 5 k-grams (k=8), window=4 -> positions 1..2 kept
    n = text.fingerprint(df).collect()[0]["n_fingerprints"]
    assert 1 <= n <= 2


def _chain_graph(spark, length: int):
    nodes = spark.createDataFrame(
        [("L", str(i)) for i in range(length + 1)], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", str(i), "L", str(i + 1)) for i in range(length)],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    return grow_onion(nodes, edges)


def test_weighted_sssp_rejects_negative_weights(spark):
    g = _chain_graph(spark, 3)
    g.edges.createOrReplaceTempView("_e")
    neg = g.edges.withColumn("weight", F.lit(-1.0))
    from onionnet_spark.core import OnionGraph

    bad = OnionGraph(g.nodes, neg)
    with pytest.raises(ValueError, match="non-negative"):
        weighted_sssp(bad, [("L", "0")])


def test_weighted_sssp_cap_exhaustion_raises(spark):
    g = _chain_graph(spark, 8)
    from onionnet_spark.core import OnionGraph

    weighted = OnionGraph(g.nodes, g.edges.withColumn("weight", F.lit(1.0)))
    with pytest.raises(RuntimeError, match="did not converge"):
        weighted_sssp(weighted, [("L", "0")], max_iterations=3)
    # and with enough iterations the same graph resolves exactly
    dist = {
        r["node_id"]: r["dist"]
        for r in weighted_sssp(weighted, [("L", "0")], max_iterations=20).collect()
    }
    assert dist["8"] == 8.0


def test_connected_components_cap_exhaustion_raises(spark, monkeypatch):
    from onionnet_spark import core

    # the star engine: a driver budget of 0 keeps the chain off the
    # driver snapshot, where no round budget applies
    monkeypatch.setattr(core, "DRIVER_FRONTIER_MAX", 0)
    g = _chain_graph(spark, 10)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(g, max_iterations=3)
    # with a budget past its O(log^2 n) rounds the same graph resolves
    labels = connected_components(g, max_iterations=30)
    assert labels.select("component").distinct().count() == 1


def test_range_join_count_duplicate_left_rows(spark):
    # two IDENTICAL left rows matching k right rows must each count k
    left = spark.createDataFrame(
        [("u1", "2024-01-01 00:10:00"), ("u1", "2024-01-01 00:10:00")],
        "k string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01 00:09:00"), ("u1", "2024-01-01 00:05:00")],
        "k string, rts string",
    ).withColumn("rts", F.to_timestamp("rts"))
    out = range_join_count(
        left, right, on=["k"], left_ts="ts", right_ts="rts", window_seconds=600
    ).collect()
    assert len(out) == 2
    assert [r["n_in_range"] for r in out] == [2, 2]


def test_grow_onion_fill_na_with(spark):
    # reference builder.py:138-141: drop_na=False + fill_na_with
    # fills missing KEY values instead of dropping the rows
    nodes = spark.createDataFrame(
        [("L", "a"), ("L", None), (None, "c")], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "unknown")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges, drop_na=False, fill_na_with="unknown")
    keys = {(r["layer"], r["node_id"]) for r in g.nodes.collect()}
    assert keys == {("L", "a"), ("L", "unknown"), ("unknown", "c")}
    # the edge to the filled node now validates
    assert g.edges.count() == 1
    # and with drop_na=True the NA rows (and the dangling edge) vanish
    g2 = grow_onion(nodes, edges, drop_na=True)
    assert {(r["layer"], r["node_id"]) for r in g2.nodes.collect()} == {("L", "a")}
    assert g2.edges.count() == 0


def test_grow_onion_property_types_and_string_override(spark):
    nodes = spark.createDataFrame(
        [("L", "a", "1.5", "7")], "layer string, node_id string, score string, n string"
    )
    edges = spark.createDataFrame(
        [], "src_layer string, src_id string, dst_layer string, dst_id string"
    )
    g = grow_onion(
        nodes, edges, node_prop_cols=["score", "n"],
        node_property_types={"score": "float", "n": "int"},
    )
    sch = dict(g.nodes.dtypes)
    assert sch["score"] == "double" and sch["n"] == "int"
    g2 = grow_onion(
        nodes, edges, node_prop_cols=["score", "n"], string_override=True,
        node_property_types={"score": "float"},
    )
    sch2 = dict(g2.nodes.dtypes)
    assert sch2["score"] == "string" and sch2["n"] == "string"


def test_range_join_count_zero_matches(spark):
    left = spark.createDataFrame(
        [("u2", "2024-01-01 00:10:00")], "k string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01 00:09:00")], "k string, rts string"
    ).withColumn("rts", F.to_timestamp("rts"))
    out = range_join_count(
        left, right, on=["k"], left_ts="ts", right_ts="rts", window_seconds=600
    ).collect()
    assert len(out) == 1 and out[0]["n_in_range"] == 0


def test_bigram_logprob_short_docs(spark):
    # 0/1-token docs yield no bigrams (no phantom positions, no
    # INVALID_ARRAY_INDEX); 2-token doc yields exactly one
    from onionnet_spark.functions.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two tokens"), (4, "a b a b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    assert set(out) == {3, 4}
    assert out[3]["n_bigrams"] == 1
    assert out[4]["n_bigrams"] == 3


def test_text_ops_tolerate_empty_and_null_docs(spark):
    # empty/NULL text must yield NULL ratios (DuckDB x/0 semantics),
    # never an ANSI DIVIDE_BY_ZERO — empty docs are ubiquitous in
    # real corpora and the shipped fixtures have none
    from onionnet_spark.functions import text

    df = spark.createDataFrame(
        [(1, "hello, world. foo"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    stats = {r["doc_id"]: r for r in text.text_stats(df).collect()}
    assert stats[1]["punct_ratio"] is not None
    assert stats[3]["punct_ratio"] is None and stats[3]["n_chars"] == 0
    assert stats[2]["punct_ratio"] is None
    q = {r["doc_id"]: r for r in text.quality_score(df).collect()}
    assert q[1]["quality"] is not None
    assert q[3]["quality"] is None
    assert q[2]["quality"] is None


def test_bloom_pruned_join_empty_dim(spark):
    # zero dim keys -> all-zero bitmap -> every fact row pruned ->
    # empty join (and no divide/overflow anywhere on the way)
    from pyspark.sql import functions as F

    from onionnet_spark.operators.joins import bloom_pruned_join

    fact = spark.range(100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    dim = spark.range(0).select(F.col("id").alias("k"))
    assert bloom_pruned_join(fact, dim, on="k").count() == 0


def test_ingest_delta_empty_sides(spark):
    from onionnet_spark.functions.dedup import ingest_delta

    docs = spark.createDataFrame(
        [(1, "some base document with words")], "doc_id long, text string"
    )
    empty = docs.limit(0)
    # empty delta -> empty classification
    assert ingest_delta(docs, empty).count() == 0
    # empty base -> everything is new
    out = ingest_delta(empty, docs).collect()
    assert [(r["doc_id"], r["status"]) for r in out] == [(1, "new")]


def test_chunk_dedup_empty_and_single_token_docs(spark):
    from onionnet_spark.functions.dedup import chunk_dedup

    df = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "word")], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"]) for r in
           chunk_dedup(df, chunk_words=3).collect()}
    # empty text normalizes to one empty token -> one chunk; doc 3's
    # single chunk duplicates doc 2's
    assert out[2] == (1, 0) and out[3] == (1, 1)
    assert out[1][0] == 1


def test_weighted_sample_n_larger_than_population(spark):
    from onionnet_spark.functions.corpus import weighted_sample

    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "doc_id long, weight double")
    assert weighted_sample(df, "weight", n=10).count() == 2


def test_cosupply_memo_builds_once_outside_the_memo_lock():
    """Two threads asking for one memo key (the co-supply pairs are one
    such key of the session memo) build it once, and while that slow
    build runs a `get` on another key is served: no build holds a lock
    shared across keys."""
    from onionnet_spark.memo import Memo

    memo, builds, other = Memo(), [], []

    def probe_other_key():
        other.append(memo.get(("cosupply", "sf", 30, False), lambda: "b"))
        # published only once its build has returned
        other.append(("cosupply", "sf", 60, False) in memo)

    def build():
        builds.append(60)
        t = threading.Thread(target=probe_other_key)
        t.start()
        t.join(timeout=5)
        time.sleep(0.3)  # the second caller arrives mid-build
        return object()

    got = []
    callers = [
        threading.Thread(
            target=lambda: got.append(
                memo.get(("cosupply", "sf", 60, False), build)
            )
        )
        for _ in range(2)
    ]
    for t in callers:
        t.start()
    for t in callers:
        t.join(timeout=30)
        assert not t.is_alive()
    assert builds == [60]
    assert other == ["b", False]
    assert len(got) == 2 and got[0] is got[1]
