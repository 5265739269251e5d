"""Traversal operators vs hand-computed answers + DuckDB recursive-CTE oracle."""

import pytest
from pyspark.sql import functions as F

from onionnet_spark.builder import grow_onion
from onionnet_spark.operators.traversal import (
    bfs_distances,
    k_hop,
    on_shortest_path,
    reachable,
)
from onionnet_spark.sources.tpch_graph import graph_ctes

from tests.conftest import duck_to_set, rows_to_set


@pytest.fixture(scope="module")
def tiny_graph(spark):
    # a -> b -> c -> d ; a -> c (shortcut) ; e isolated
    nodes = spark.createDataFrame(
        [("L", x) for x in "abcde"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "b", "L", "c"), ("L", "c", "L", "d"), ("L", "a", "L", "c")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    return grow_onion(nodes, edges)


def test_bfs_tiny_downstream(tiny_graph):
    got = rows_to_set(bfs_distances(tiny_graph, [("L", "a")], "downstream"))
    assert got == {(0, "L", "a"), (1, "L", "b"), (1, "L", "c"), (2, "L", "d")}


def test_bfs_tiny_upstream(tiny_graph):
    got = rows_to_set(bfs_distances(tiny_graph, [("L", "d")], "upstream"))
    assert got == {(0, "L", "d"), (1, "L", "c"), (2, "L", "a"), (2, "L", "b")}


def test_khop_bi_tiny(tiny_graph):
    got = rows_to_set(k_hop(tiny_graph, ("L", "c"), 1, "bi"))
    # downstream: d at 1; upstream: a, b at 1; c itself 0
    assert got == {(0, "L", "c"), (1, "L", "d"), (1, "L", "a"), (1, "L", "b")}


def test_khop_bi_children(spark):
    # p0 -> p1 -> p2 -> p3, plus p1 -> x. bi from p2 with max_dist=1:
    # down {p2, p3}, up {p2, p1}; upstream children adds x (p1's other
    # out-neighbor, dist 1+1=2) — the reference searcher.py:212-216
    # widening. Without the flag x is absent.
    nodes = spark.createDataFrame(
        [("L", n) for n in ["p0", "p1", "p2", "p3", "x"]],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [("L", "p0", "L", "p1"), ("L", "p1", "L", "p2"),
         ("L", "p2", "L", "p3"), ("L", "p1", "L", "x")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    plain = rows_to_set(k_hop(g, ("L", "p2"), 1, "bi"))
    widened = rows_to_set(k_hop(g, ("L", "p2"), 1, "bi",
                                include_upstream_children=True))
    assert plain == {(0, "L", "p2"), (1, "L", "p3"), (1, "L", "p1")}
    assert widened == plain | {(2, "L", "x")}


def test_khop_children_requires_bi(tiny_graph):
    with pytest.raises(ValueError, match="bi"):
        k_hop(tiny_graph, ("L", "a"), 1, "downstream",
              include_upstream_children=True)


def test_on_shortest_tiny(tiny_graph):
    got = rows_to_set(on_shortest_path(tiny_graph, ("L", "a"), [("L", "d")]))
    # shortest a->d is a-c-d (len 2); b has d_f=1, d_r=2 -> 3 not in {2}
    assert {(r[2], r[3]) for r in got} == {("L", "a"), ("L", "c"), ("L", "d")}


def test_bfs_stop_nodes_truncates_at_last_target(spark):
    # deep path p0 -> p1 -> ... -> p9; stopping at {p3} must halt the
    # expansion at depth 3 (the early-termination contract on_shortest
    # relies on), not run to the depth-9 fixpoint
    nodes = spark.createDataFrame(
        [("L", f"p{i}") for i in range(10)], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", f"p{i}", "L", f"p{i+1}") for i in range(9)],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    depths: list[int] = []
    got = rows_to_set(
        bfs_distances(
            g, [("L", "p0")], "downstream",
            stop_nodes=[("L", "p3")], found_depths=depths,
        )
    )
    assert got == {(i, "L", f"p{i}") for i in range(4)}
    assert depths == [3]


def test_deep_chain_distances_across_checkpoint_rebases(spark, monkeypatch):
    # path p0 -> p1 -> ... -> p24: 24 levels, so every entry point's
    # level loop crosses the IterCheckpointer parquet rebases at cuts
    # 10 and 20 and must still report node i at distance i
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.traversal import multi_source_bfs

    n = 25
    nodes = spark.createDataFrame(
        [("L", f"p{i}") for i in range(n)], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", f"p{i}", "L", f"p{i+1}") for i in range(n - 1)],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    want = {(i, "L", f"p{i}") for i in range(n)}
    # int keying
    assert rows_to_set(reachable(g, ("L", "p0"), "downstream")) == want
    # string keying, undirected last-two-levels dedup
    monkeypatch.setattr(OnionGraph, "cached_int_sym", lambda self: None)
    assert rows_to_set(bfs_distances(g, [("L", "p0")], direction="sym")) == want
    got = multi_source_bfs(g, [("L", "p0")], direction="sym")
    assert rows_to_set(got.select("dist", "layer", "node_id")) == want
    assert {r["sid"] for r in got.select("sid").collect()} == {"L:p0"}


def test_dangling_endpoint_takes_the_string_keying(spark, monkeypatch):
    # edge b -> c with c missing from the node table: int levels map
    # back through the node index, which has no row for c, so the int
    # keying once dropped c from `reachable` (k_hop kept it)
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.traversal import pseudo_diameter

    g = grow_onion(
        spark.createDataFrame([("L", "a"), ("L", "b")], "layer string, node_id string"),
        spark.createDataFrame(
            [("L", "a", "L", "b"), ("L", "b", "L", "c")],
            "src_layer string, src_id string, dst_layer string, dst_id string",
        ),
        validate_endpoints=False,
    )
    a = ("L", "a")
    assert g.cached_int_sym() is None and g.cached_int_endpoints() is None
    got = (rows_to_set(reachable(g, a)), rows_to_set(pseudo_diameter(g, a)))
    assert got[0] == {(0, "L", "a"), (1, "L", "b"), (2, "L", "c")}
    monkeypatch.setattr(OnionGraph, "cached_int_sym", lambda self: None)
    monkeypatch.setattr(
        OnionGraph, "cached_int_endpoints", lambda self, d="downstream": None
    )
    assert (rows_to_set(reachable(g, a)), rows_to_set(pseudo_diameter(g, a))) == got


def test_on_shortest_deep_tail_unaffected_by_early_stop(spark):
    # diamond a->{b,c}->d followed by a long tail d->t1->...->t6:
    # early termination must not change membership (a, b, c, d — both
    # b and c lie on a shortest a->d path of length 2)
    tail = [("L", "d", "L", "t1")] + [
        ("L", f"t{i}", "L", f"t{i+1}") for i in range(1, 6)
    ]
    nodes = spark.createDataFrame(
        [("L", x) for x in ["a", "b", "c", "d"] + [f"t{i}" for i in range(1, 7)]],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "a", "L", "c"),
         ("L", "b", "L", "d"), ("L", "c", "L", "d")] + tail,
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    got = rows_to_set(on_shortest_path(g, ("L", "a"), [("L", "d")]))
    assert {(r[2], r[3]) for r in got} == {
        ("L", "a"), ("L", "b"), ("L", "c"), ("L", "d")
    }


def test_khop_upstream_matches_duckdb(tpch_graph, sf_dir):
    got = rows_to_set(k_hop(tpch_graph, ("region", "0"), 2, "upstream"))
    sql = f"""
    WITH RECURSIVE {graph_ctes()},
    bfs AS (
      SELECT 'region' AS layer, '0' AS node_id, 0 AS dist
      UNION
      SELECT e.src_layer, e.src_id, b.dist + 1
      FROM bfs b JOIN edges_g e
        ON e.dst_layer = b.layer AND e.dst_id = b.node_id
      WHERE b.dist < 2
    )
    SELECT layer, node_id, CAST(MIN(dist) AS INT) AS dist
    FROM bfs GROUP BY layer, node_id
    """
    want = duck_to_set(sf_dir, sql)
    assert got == want


def test_reachable_downstream_matches_duckdb(tpch_graph, sf_dir):
    # full downstream fixpoint from customer 1: nation -> region chain
    got = rows_to_set(reachable(tpch_graph, ("customer", "1"), "downstream"))
    sql = f"""
    WITH RECURSIVE {graph_ctes()},
    bfs AS (
      SELECT 'customer' AS layer, '1' AS node_id, 0 AS dist
      UNION
      SELECT e.dst_layer, e.dst_id, b.dist + 1
      FROM bfs b JOIN edges_g e
        ON e.src_layer = b.layer AND e.src_id = b.node_id
    )
    SELECT layer, node_id, CAST(MIN(dist) AS INT) AS dist
    FROM bfs GROUP BY layer, node_id
    """
    want = duck_to_set(sf_dir, sql)
    assert got == want
    assert any(r[1] == "region" for r in got)


def test_weighted_sssp_prefers_cheap_long_path(spark):
    # a->b (w=10) vs a->c->b (w=1+2): weighted dist to b is 3 via c,
    # though the hop-count path is direct.
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.traversal import weighted_sssp

    nodes = spark.createDataFrame(
        [("L", x) for x in "abcd"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [
            ("L", "a", "L", "b", 10.0),
            ("L", "a", "L", "c", 1.0),
            ("L", "c", "L", "b", 2.0),
            ("L", "b", "L", "d", 1.0),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string, weight double",
    )
    g = OnionGraph(nodes, edges)
    got = {
        (r["node_id"], r["dist"])
        for r in weighted_sssp(g, [("L", "a")], "downstream").collect()
    }
    assert got == {("a", 0.0), ("c", 1.0), ("b", 3.0), ("d", 4.0)}

    up = {
        (r["node_id"], r["dist"])
        for r in weighted_sssp(g, [("L", "d")], "upstream").collect()
    }
    assert up == {("d", 0.0), ("b", 1.0), ("c", 3.0), ("a", 4.0)}


def test_temporal_earliest_arrival_respects_time(spark):
    import datetime

    from onionnet_spark.operators.traversal import temporal_earliest_arrival

    d = lambda n: datetime.datetime(2024, 1, n)  # noqa: E731
    # s -> a at day 5; a -> b at day 3 (BEFORE arrival at a: unusable)
    # and a -> b at day 9 (usable); s -> c at day 1, c -> b at day 2:
    # b's earliest arrival is day 2 via the longer-in-hops path
    edges = spark.createDataFrame(
        [
            ("s", "a", d(5)),
            ("a", "b", d(3)),
            ("a", "b", d(9)),
            ("s", "c", d(1)),
            ("c", "b", d(2)),
        ],
        "src string, dst string, ts timestamp",
    )
    seed = spark.createDataFrame([("s",)], "node string")
    got = {r["node"]: r["arrival"] for r in
           temporal_earliest_arrival(edges, seed, max_rounds=5).collect()}
    assert got["s"] is None           # source = -infinity
    assert got["a"] == d(5)
    assert got["c"] == d(1)
    assert got["b"] == d(2)           # time-respecting, not hop-shortest


def test_temporal_earliest_arrival_cap_raises(spark):
    import datetime

    from onionnet_spark.operators.traversal import temporal_earliest_arrival

    d = lambda n: datetime.datetime(2024, 1, n)  # noqa: E731
    # chain s->x1->x2->x3 needs 3 rounds; cap at 1 must raise
    edges = spark.createDataFrame(
        [("s", "x1", d(1)), ("x1", "x2", d(2)), ("x2", "x3", d(3))],
        "src string, dst string, ts timestamp",
    )
    seed = spark.createDataFrame([("s",)], "node string")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        temporal_earliest_arrival(edges, seed, max_rounds=1)


def test_temporal_earliest_arrival_multihop_rounds_same_fixpoint(spark):
    """hops_per_round expands the frontier inside a round (r10): the
    fixpoint must be identical to 1-hop rounds — intra-round hops
    relax from candidate arrivals that may still improve, which can
    only under-qualify edges, never admit an invalid path; and a
    depth-3 chain must converge within ONE outer round at
    hops_per_round=3 where the 1-hop cap of 1 raises."""
    import datetime

    from onionnet_spark.operators.traversal import temporal_earliest_arrival

    d = lambda n: datetime.datetime(2024, 1, n)  # noqa: E731
    edges = spark.createDataFrame(
        [
            ("s", "a", d(5)),
            ("a", "b", d(3)),
            ("a", "b", d(9)),
            ("s", "c", d(1)),
            ("c", "b", d(2)),
            ("b", "e", d(4)),   # reachable via b@2 only (4 >= 2)
            ("s", "x1", d(1)),
            ("x1", "x2", d(2)),
            ("x2", "x3", d(3)),
        ],
        "src string, dst string, ts timestamp",
    )
    seed = spark.createDataFrame([("s",)], "node string")
    want = {r["node"]: r["arrival"] for r in
            temporal_earliest_arrival(edges, seed, max_rounds=6).collect()}
    got = {r["node"]: r["arrival"] for r in
           temporal_earliest_arrival(
               edges, seed, max_rounds=2, hops_per_round=3
           ).collect()}
    assert got == want
    assert got["x3"] == d(3) and got["e"] == d(4) and got["b"] == d(2)


def test_repeated_seeds_return_the_rows_of_one_seed(spark):
    """A seed given twice counts once: weighted_sssp and
    on_shortest_path_weighted from driver lists, temporal arrival
    from a seed frame (each returned duplicate rows before the
    relaxation loop deduplicated its seed)."""
    import datetime

    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.traversal import (
        on_shortest_path_weighted,
        temporal_earliest_arrival,
        weighted_sssp,
    )

    pairs = ["ab", "bc", "cd", "ac"]
    g = OnionGraph(
        spark.createDataFrame([("L", x) for x in "abcd"], "layer string, node_id string"),
        spark.createDataFrame(
            [("L", u, "L", v, 1.0) for u, v in pairs],
            "src_layer string, src_id string, dst_layer string, dst_id string, "
            "weight double",
        ),
    )
    a, d = ("L", "a"), ("L", "d")

    def rows(df):
        out = sorted(map(tuple, df.collect()), key=str)
        assert len(out) == len(set(out))
        return out

    # the single-seed answers
    assert rows(weighted_sssp(g, [a, a])) == [
        ("L", "a", 0.0), ("L", "b", 1.0), ("L", "c", 1.0), ("L", "d", 2.0)
    ]
    assert rows(on_shortest_path_weighted(g, a, [d, d])) == [
        ("L", "a", 0.0, 2.0), ("L", "c", 1.0, 1.0), ("L", "d", 2.0, 0.0)
    ]
    # every call above read the graph's one weighted view, which the
    # graph's unpersist releases
    view = g.cached_weighted("weight")
    assert view.is_cached
    g.unpersist()
    assert not view.is_cached
    t = datetime.datetime(2024, 1, 1)
    edges = spark.createDataFrame(
        [(u, v, t) for u, v in pairs], "src string, dst string, ts timestamp"
    )
    two = spark.createDataFrame([("a",), ("a",)], "node string")
    assert rows(temporal_earliest_arrival(edges, two)) == [
        ("a", None), ("b", t), ("c", t), ("d", t)
    ]


def test_relaxation_family_job_counts(spark):
    """Spark jobs per call (op + collect) of the four operators built
    on traversal._relax, on a 7-node toy graph with two isolated
    nodes (a DAG for topological_levels). Each budget is the count
    measured before the operators shared the loop, so the loop adds
    no job."""
    import datetime

    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators import traversal as T
    from onionnet_spark.operators.components import strongly_connected_components

    cyc = ["ab", "bc", "ca", "ad", "de", "ec", "be"]
    dag = ["ab", "bc", "ad", "de", "ec", "be"]

    def graph(pairs):
        return OnionGraph(
            spark.createDataFrame(
                [("L", x) for x in "abcdefg"], "layer string, node_id string"
            ),
            spark.createDataFrame(
                [("L", u, "L", v, float(len(u + v) + ord(v) % 3)) for u, v in pairs],
                "src_layer string, src_id string, dst_layer string, dst_id string, "
                "weight double",
            ),
        )

    def temporal():
        edges = spark.createDataFrame(
            [
                (u, v, datetime.datetime(2024, 1, 1 + (ord(u) + ord(v)) % 5))
                for u, v in cyc
            ],
            "src string, dst string, ts timestamp",
        )
        seed = spark.createDataFrame([("a",)], "node string")
        return T.temporal_earliest_arrival(edges, seed, max_rounds=6)

    ops = {
        "weighted_sssp": (lambda: T.weighted_sssp(graph(cyc), [("L", "a")]), 24),
        "topological_levels": (lambda: T.topological_levels(graph(dag)), 32),
        "temporal_earliest_arrival": (temporal, 26),
        "strongly_connected_components": (
            lambda: strongly_connected_components(graph(cyc)), 105
        ),
    }
    sc = spark.sparkContext
    got = {}
    for name, (op, _) in ops.items():
        group = f"relaxation_jobs_{name}"
        sc.setJobGroup(group, name)
        try:
            op().collect()
        finally:
            sc._jsc.clearJobGroup()
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    over = {n: (got[n], budget) for n, (_, budget) in ops.items() if got[n] > budget}
    assert not over, over


def test_keys_with_quotes_backslashes_colons_and_non_ascii(spark):
    """Driver levels filter the edges by literal keys: layers and ids
    holding quotes, backslashes, colons and non-ASCII text match
    exactly, whatever the parser's string-literal setting, in both
    keyings, and with a driver budget of 1 (hand-off to Spark rounds
    wherever a level has more than one edge row)."""
    from onionnet_spark.core import OnionGraph, literal_frame
    from onionnet_spark.operators import traversal
    from onionnet_spark.operators.traversal import _in_keys, multi_source_bfs

    n = [("l'1", "a\\'b"), ("l'1", "c:d"), ("ü:2", "日本\\n"), ("ü:2", "'"), ("l'1", "")]
    g = OnionGraph(
        spark.createDataFrame(n, "layer string, node_id string"),
        spark.createDataFrame(
            [(*n[u], *n[v]) for u, v in [(0, 1), (1, 2), (2, 3), (3, 4), (0, 2)]],
            "src_layer string, src_id string, dst_layer string, dst_id string",
        ),
    )
    want = {(0, *n[0]), (1, *n[1]), (1, *n[2]), (2, *n[3])}
    cases = {
        "k_hop": (lambda: k_hop(g, n[0], 2), want),
        "reachable": (lambda: reachable(g, n[0]), want | {(3, *n[4])}),
        "on_shortest_path": (
            lambda: on_shortest_path(g, n[0], [n[3]]).drop("d_r"),
            {(0, *n[0]), (1, *n[2]), (2, *n[3])},
        ),
        "multi_source_bfs": (
            lambda: multi_source_bfs(g, [n[3]], max_dist=1).drop("sid"),
            {(0, *n[3]), (1, *n[4])},
        ),
    }
    conf = "spark.sql.parser.escapedStringLiterals"
    try:
        for escaped in ("false", "true"):
            spark.conf.set(conf, escaped)
            for budget in (traversal.DRIVER_FRONTIER_MAX, 1):
                with pytest.MonkeyPatch.context() as mp:
                    mp.setattr(traversal, "DRIVER_FRONTIER_MAX", budget)
                    got = {c: rows_to_set(op()) for c, (op, _) in cases.items()}
                assert got == {c: w for c, (_, w) in cases.items()}, (escaped, budget)
    finally:
        spark.conf.unset(conf)
    # the int keying's keys are arbitrary longs, the extremes included
    ends = [(-(2**63),), (2**63 - 1,)]
    longs = literal_frame(spark, ends + [(0,)], "x bigint")
    assert sorted(map(tuple, longs.filter(_in_keys(["x"], ends)).collect())) == ends


def test_ego_search_job_counts(spark):
    """Spark jobs per call (op + collect) of the ego searches, in this
    order, on a fresh 7-node toy graph: every level is a driver level,
    one bounded job. The budgets are this loop's counts; the level
    loop that ran every level as Spark rounds used 13, 10, 18 and 34."""
    from onionnet_spark.core import OnionGraph

    pairs = ["ab", "bc", "cd", "ac", "de", "ea"]
    g = OnionGraph(
        spark.createDataFrame([("L", x) for x in "abcdefg"], "layer string, node_id string"),
        spark.createDataFrame(
            [("L", u, "L", v) for u, v in pairs],
            "src_layer string, src_id string, dst_layer string, dst_id string",
        ),
    ).persist()
    g.counts()
    a, d = ("L", "a"), ("L", "d")
    ops = {
        "k_hop_downstream": (lambda: k_hop(g, a, 3, "downstream"), 4),
        "k_hop_upstream": (lambda: k_hop(g, d, 2, "upstream"), 4),
        "k_hop_bi": (lambda: k_hop(g, ("L", "c"), 2, "bi"), 5),
        "on_shortest_path": (lambda: on_shortest_path(g, a, [d, ("L", "e")]), 8),
    }
    sc = spark.sparkContext
    got = {}
    try:
        for name, (op, _) in ops.items():
            group = f"ego_search_jobs_{name}"
            sc.setJobGroup(group, name)
            try:
                op().collect()
            finally:
                sc._jsc.clearJobGroup()
            got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        g.unpersist()
    over = {n: (got[n], budget) for n, (_, budget) in ops.items() if got[n] > budget}
    assert not over, over


def test_counts_and_int_node_index_job_counts(spark):
    """OnionGraph.counts() runs one job per table and leaves both
    persisted tables built; the int node index's collision and
    dangling-endpoint checks run in 7 jobs on a toy graph (9 when the
    dangling check was a `take(1)`, 6 for `counts()` with
    `DataFrame.count()`)."""
    from onionnet_spark.core import OnionGraph

    g = OnionGraph(
        spark.createDataFrame([("L", x) for x in "abcdefg"], "layer string, node_id string"),
        spark.createDataFrame(
            [("L", u, "L", v) for u, v in ["ab", "bc", "cd", "ac", "de", "ea"]],
            "src_layer string, src_id string, dst_layer string, dst_id string",
        ),
    ).persist()
    sc = spark.sparkContext

    def jobs(name, op):
        sc.setJobGroup(name, name)
        try:
            out = op()
        finally:
            sc._jsc.clearJobGroup()
        return out, len(sc.statusTracker().getJobIdsForGroup(name))

    def built(df):
        cached = (
            spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
        )
        return cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()

    try:
        assert not built(g.nodes) and not built(g.edges)
        assert jobs("graph_counts", g.counts) == ((7, 6), 2)
        assert built(g.nodes) and built(g.edges)
        assert jobs("graph_n_nodes", g.cached_n_nodes) == (7, 0)
        index, n_jobs = jobs("int_node_index", g._int_nodes)
        assert index is not None and n_jobs <= 7
    finally:
        g.unpersist()
