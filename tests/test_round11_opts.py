"""Equivalence pins for round-11 optimizations: the restructured
operators must compute exactly what the old shapes computed."""

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from onionnet_spark.core import OnionGraph
from onionnet_spark.operators import filters
from onionnet_spark.operators.analytics import ego_stats
from onionnet_spark.operators.filters import project_bipartite

from tests.conftest import rows_to_set


@pytest.fixture(scope="module")
def multi_membership_graph(spark):
    """Bipartite member->group graph where m2/m3 share TWO groups, so
    the single-membership gate must NOT fire and n_shared must count
    both shared vias (the general fallback path)."""
    nodes = spark.createDataFrame(
        [
            ("member", "m1"), ("member", "m2"), ("member", "m3"),
            ("member", "m4"), ("group", "g1"), ("group", "g2"),
            ("group", "g3"),
        ],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [
            ("member", "m1", "group", "g1", 1.0),
            ("member", "m2", "group", "g1", 1.0),
            ("member", "m2", "group", "g2", 1.0),
            ("member", "m3", "group", "g2", 1.0),
            # reversed-direction incidence must also count (the union arm)
            ("group", "g3", "member", "m2", 1.0),
            ("group", "g3", "member", "m3", 1.0),
            ("member", "m4", "group", "g3", 1.0),
        ],
        "src_layer string, src_id string, dst_layer string, "
        "dst_id string, weight double",
    )
    return OnionGraph(nodes, edges)


@pytest.mark.parametrize("block", [4096, 2, 1])
def test_project_bipartite_multi_membership_counts(
    multi_membership_graph, monkeypatch, block
):
    # block 2 splits g3 = {m2, m3, m4} across two blocks; block 1 puts
    # every member in its own block, so every pair is a cross-block pair
    monkeypatch.setattr(filters, "BIPARTITE_BLOCK", block)
    got = rows_to_set(
        project_bipartite(multi_membership_graph, "member", "group")
    )
    # brute force over memberships {m1:{g1}, m2:{g1,g2,g3}, m3:{g2,g3},
    # m4:{g3}}: n_shared = |intersection|, pairs with empty overlap absent
    assert got == {
        ("m1", "m2", 1),
        ("m2", "m3", 2),  # shares g2 AND g3 — the gate must not collapse this
        ("m2", "m4", 1),
        ("m3", "m4", 1),
    }


@pytest.mark.parametrize("bcast_max", [7, 6])
def test_project_bipartite_cross_block_broadcast_is_gated(
    multi_membership_graph, monkeypatch, bcast_max
):
    """The cross-block arm broadcasts its block side only while the
    total membership count (7 here) is within the frontier budget."""
    monkeypatch.setattr(filters, "BIPARTITE_BLOCK", 1)
    monkeypatch.setattr(filters, "BROADCAST_MAX", bcast_max)
    df = project_bipartite(multi_membership_graph, "member", "group")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert ("strategy=broadcast" in plan) == (bcast_max >= 7)
    assert rows_to_set(df) == {
        ("m1", "m2", 1), ("m2", "m3", 2), ("m2", "m4", 1), ("m3", "m4", 1),
    }


def test_project_bipartite_members_are_released_with_the_graph(spark):
    """The persisted membership frame belongs to the graph's view
    memo: unpersisting the graph frees it, and the lazy result still
    computes from its lineage afterwards."""
    g = OnionGraph(
        spark.createDataFrame(
            [("member", m) for m in "xyz"] + [("group", "h")],
            "layer string, node_id string",
        ),
        spark.createDataFrame(
            [("member", m, "group", "h") for m in "xyz"],
            "src_layer string, src_id string, dst_layer string, dst_id string",
        ),
    )

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = pinned()
    df = project_bipartite(g, "member", "group")
    want = rows_to_set(df)
    assert pinned() - before
    g.unpersist()
    assert not pinned() - before
    assert rows_to_set(df) == want


def test_project_bipartite_single_membership_gate(spark):
    """Strict one-via-per-member graph: the gate fires (n_shared
    literal 1) and results still match the brute force."""
    nodes = spark.createDataFrame(
        [("member", m) for m in "abcd"] + [("group", "g1"), ("group", "g2")],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [
            ("member", "a", "group", "g1", 1.0),
            ("member", "b", "group", "g1", 1.0),
            ("member", "c", "group", "g1", 1.0),
            ("member", "d", "group", "g2", 1.0),
        ],
        "src_layer string, src_id string, dst_layer string, "
        "dst_id string, weight double",
    )
    got = rows_to_set(project_bipartite(OnionGraph(nodes, edges), "member", "group"))
    assert got == {("a", "b", 1), ("a", "c", 1), ("b", "c", 1)}


def test_project_bipartite_blocks_cover_all_cross_pairs(spark):
    """Force multi-block chunking (block=4096 > 5 members? no — the
    within/cross decomposition is exercised by patching block size
    via a via with > block members being impractical in a unit test;
    instead verify against the old join shape on a randomized small
    graph, which exercises ordering, dedup and the union arms)."""
    import random

    rng = random.Random(7)
    members = [f"m{i}" for i in range(40)]
    groups = [f"g{i}" for i in range(5)]
    inc = sorted(
        {(m, g) for m in members for g in groups if rng.random() < 0.3}
    )
    nodes = spark.createDataFrame(
        [("member", m) for m in members] + [("group", g) for g in groups],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [("member", m, "group", g, 1.0) for (m, g) in inc],
        "src_layer string, src_id string, dst_layer string, "
        "dst_id string, weight double",
    )
    got = rows_to_set(project_bipartite(OnionGraph(nodes, edges), "member", "group"))
    from collections import defaultdict

    mem = defaultdict(set)
    for m, g in inc:
        mem[m].add(g)
    want = set()
    for a, b in combinations(sorted(mem), 2):
        k = len(mem[a] & mem[b])
        if k:
            want.add((a, b, k))
    assert got == want


def test_basket_combination_exprs_match_itertools(spark):
    """_BASKET_PAIR_EXPR / _BASKET_TRIPLE_EXPR enumerate exactly the
    sorted 2-/3-combinations of the items array."""
    from onionnet_spark.queries.relational import (
        _BASKET_PAIR_EXPR,
        _BASKET_TRIPLE_EXPR,
    )

    for items in ([], [5], [1, 2], [3, 1, 2], [9, 4, 7, 1, 5, 2, 8]):
        arr = sorted(items)
        df = spark.createDataFrame([(arr,)], "items array<int>")
        pairs = {
            (r["p"]["pa"], r["p"]["pb"])
            for r in df.select(
                F.explode(F.expr(_BASKET_PAIR_EXPR)).alias("p")
            ).collect()
        }
        assert pairs == set(combinations(arr, 2)), arr
        triples = {
            (r["t"]["a"], r["t"]["b"], r["t"]["c"])
            for r in df.select(
                F.explode(F.expr(_BASKET_TRIPLE_EXPR)).alias("t")
            ).collect()
        }
        assert triples == set(combinations(arr, 3)), arr


def test_ego_stats_matches_bruteforce(multi_membership_graph):
    """The r11 neighbor-side aggregation (deg attached on the source
    key, grouped on the neighbor key) must equal the per-node ego
    summary computed by hand over the symmetrized graph."""
    rows = rows_to_set(ego_stats(multi_membership_graph))
    from collections import defaultdict

    sym = defaultdict(set)
    e = [
        ("member", "m1", "group", "g1"), ("member", "m2", "group", "g1"),
        ("member", "m2", "group", "g2"), ("member", "m3", "group", "g2"),
        ("group", "g3", "member", "m2"), ("group", "g3", "member", "m3"),
        ("member", "m4", "group", "g3"),
    ]
    for sl, si, dl, di in e:
        sym[(sl, si)].add((dl, di))
        sym[(dl, di)].add((sl, si))
    deg = {k: len(v) for k, v in sym.items()}
    want = set()
    for (l, i), nbrs in sym.items():
        mean_deg = round(sum(deg[n] for n in nbrs) / len(nbrs), 6)
        # rows_to_set orders columns by name: (layer,
        # mean_neighbor_degree, n_neighbor_layers, n_neighbors, node_id)
        want.add((l, mean_deg, len({nl for nl, _ in nbrs}), len(nbrs), i))
    assert rows == want
