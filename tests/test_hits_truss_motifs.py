"""Unit tests for HITS, k-truss, and the motif matcher on toy
graphs with hand-checkable answers."""

import pytest
from pyspark.sql import functions as F

from onionnet_spark.core import OnionGraph
from onionnet_spark.operators.analytics import hits, k_truss
from onionnet_spark.operators.motifs import find_motifs


def _graph(spark, edges):
    e = spark.createDataFrame(
        [("L", s, "L", d, "t") for s, d in edges],
        "src_layer string, src_id string, dst_layer string, dst_id string, etype string",
    )
    n = (
        e.select(F.col("src_layer").alias("layer"), F.col("src_id").alias("node_id"))
        .union(e.select("dst_layer", "dst_id"))
        .distinct()
    )
    return OnionGraph(n, e)


def test_hits_star(spark):
    # x,y,z all point at m: m is the sole authority, hubs are equal
    g = _graph(spark, [("x", "m"), ("y", "m"), ("z", "m")])
    out = {r["node_id"]: r for r in hits(g, n_iterations=3).collect()}
    assert out["m"]["authority"] == 1.0
    assert out["m"]["hub"] == 0.0
    for v in "xyz":
        assert out[v]["hub"] == pytest.approx(1 / 3, abs=1e-6)
        assert out[v]["authority"] == 0.0


def test_k_truss_peels_pendant_keeps_clique(spark):
    k4 = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    ]
    edges = spark.createDataFrame(k4 + [("d", "e")], "a string, b string")
    out = k_truss(edges, k=4)
    got = {(r["a"], r["b"]) for r in out.collect()}
    # K4 edges (support 2 >= k-2) survive; the pendant does not
    assert got == set(k4)
    assert all(r["support"] == 2 for r in out.collect())
    # k=5 needs support 3: nothing in K4 qualifies
    assert k_truss(edges, k=5).count() == 0


def test_k_truss_two_keeps_triangle_free_edges(spark):
    # every edge closes >= 0 triangles: the 2-truss of triangle abc
    # plus edge cd is all four edges, the pendant with support 0
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "a string, b string"
    )
    got = {(r["a"], r["b"]): r["support"] for r in k_truss(edges, k=2).collect()}
    assert got == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1, ("c", "d"): 0}


def test_trussness_peels_each_k_to_fixpoint(spark):
    # a fixed schedule of 3 or 4 support sweeps per k labels (00, 07)
    # of this 8-node graph 5, but its 5-truss is empty (networkx
    # agrees): the peel at k = 5 needs more sweeps to settle
    import networkx as nx

    from onionnet_spark.operators.analytics import trussness

    pairs = [
        ("00", "01"), ("00", "02"), ("00", "03"), ("00", "05"), ("00", "06"),
        ("00", "07"), ("01", "02"), ("01", "04"), ("01", "05"), ("01", "06"),
        ("01", "07"), ("02", "03"), ("02", "06"), ("02", "07"), ("03", "04"),
        ("03", "05"), ("03", "06"), ("03", "07"), ("04", "05"), ("04", "06"),
        ("04", "07"), ("05", "07"),
    ]
    g = nx.Graph(pairs)
    want = {e: 2 for e in pairs}
    for k in range(3, 8):
        for u, v in nx.k_truss(g, k).edges():
            want[(min(u, v), max(u, v))] = k
    df = spark.createDataFrame(pairs, "a string, b string")
    got = {(r["a"], r["b"]): r["trussness"] for r in trussness(df, k_max=10).collect()}
    assert got[("00", "07")] == 4
    assert got == want


def test_motif_triangle_and_negation(spark):
    # directed triangle a->b->c->a, shortcut a->c, and branch b->d
    g = _graph(
        spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("b", "d")]
    )
    closed = find_motifs(g, "(x)-[]->(y); (y)-[]->(z); (z)-[]->(x)")
    got = {(r["x_id"], r["y_id"], r["z_id"]) for r in closed.collect()}
    # the triangle appears once per rotation
    assert got == {("a", "b", "c"), ("b", "c", "a"), ("c", "a", "b")}
    open_two_paths = find_motifs(
        g, "(x)-[]->(y); (y)-[]->(z); !(x)-[]->(z)"
    ).filter(F.col("x_id") != F.col("z_id"))
    got_open = {
        (r["x_id"], r["y_id"], r["z_id"]) for r in open_two_paths.collect()
    }
    # a->b->c is closed by the a->c shortcut and drops; the rest of
    # the two-paths have no closing edge
    assert got_open == {("a", "b", "d"), ("b", "c", "a"), ("c", "a", "b")}


def test_motif_parse_errors(spark):
    g = _graph(spark, [("a", "b")])
    with pytest.raises(ValueError, match="bad motif term"):
        find_motifs(g, "(a)->(b)")
    with pytest.raises(ValueError, match="at least one positive"):
        find_motifs(g, "!(a)-[]->(b)")
    with pytest.raises(ValueError, match="unbound"):
        find_motifs(g, "(a)-[]->(b); !(a)-[]->(q)")


def test_maximal_matching_properties(spark):
    from onionnet_spark.operators.analytics import maximal_matching

    # path a-b-c-d-e plus chord b-d
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "d")],
        "a string, b string",
    )
    m = maximal_matching(edges, rounds=5).collect()
    used = [n for r in m for n in (r["a"], r["b"])]
    # matching: no node twice
    assert len(used) == len(set(used))
    # maximality: every original edge touches a matched node
    matched_nodes = set(used)
    for a, b in [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("b", "d")]:
        assert a in matched_nodes or b in matched_nodes


def test_maximal_matching_guard(spark):
    from onionnet_spark.operators.analytics import maximal_matching
    import pytest as _p

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "a string, b string"
    )
    with _p.raises(RuntimeError, match="remain after"):
        maximal_matching(edges, rounds=0)


def test_reciprocity_partial(spark):
    from onionnet_spark.operators.analytics import reciprocity

    g = _graph(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d")])
    row = reciprocity(g).collect()[0]
    assert row["n_edges"] == 4 and row["n_reciprocal"] == 2
    assert row["reciprocity"] == 0.5


def test_assortativity_star_is_negative(spark):
    from onionnet_spark.operators.analytics import degree_assortativity

    # star: hub (deg 4) links only to leaves (deg 1) -> strongly
    # disassortative; with one hub the coefficient is exactly -1
    # undefined? no: all edges are (4,1) pairs -> zero variance on
    # both margins per direction -> NULL. Add one leaf-leaf edge to
    # create variance; coefficient must be negative.
    g = _graph(
        spark,
        [("h", "x"), ("h", "y"), ("h", "z"), ("h", "w"), ("x", "y")],
    )
    row = degree_assortativity(g).collect()[0]
    assert row["n_edges"] == 5
    assert row["assortativity"] is not None and row["assortativity"] < 0


def test_modularity_two_cliques(spark):
    from onionnet_spark.operators.analytics import modularity

    # two triangles joined by one bridge: the natural 2-community
    # split has strongly positive Q; the all-one-community split has
    # Q == 0 by definition
    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    g = _graph(spark, edges)
    good = spark.createDataFrame(
        [("L", n, "c1" if n in "abc" else "c2") for n in "abcxyz"],
        "layer string, node_id string, community string",
    )
    one = spark.createDataFrame(
        [("L", n, "all") for n in "abcxyz"],
        "layer string, node_id string, community string",
    )
    q_good = modularity(g, good).collect()[0]["modularity"]
    q_one = modularity(g, one).collect()[0]["modularity"]
    assert q_one == 0.0
    assert q_good > 0.3


def test_coreness_clique_with_tail(spark):
    from onionnet_spark.operators.analytics import coreness

    # K4 (coreness 3) with a 2-node tail hanging off d: tail nodes
    # peel at k=2 (coreness 1)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("d", "e"), ("e", "f")],
        "a string, b string",
    )
    got = {r["node"]: r["coreness"] for r in coreness(edges, k_max=6).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 1, "f": 1}


def test_coreness_long_path_cascade(spark):
    from onionnet_spark.operators.analytics import coreness

    # ADVICE r2 (high): a path graph peels one end-PAIR per sweep at
    # k=2, so a fixed rounds-per-k schedule mislabels the middle of
    # any path longer than 2*rounds_per_k. True coreness of every
    # path node is 1; the old fixed (k, 2-sweeps) schedule labeled
    # c..h of this 10-path coreness 2.
    nodes = "abcdefghij"
    edges = spark.createDataFrame(
        [(x, y) for x, y in zip(nodes, nodes[1:])], "a string, b string"
    )
    got = {r["node"]: r["coreness"] for r in coreness(edges, k_max=4).collect()}
    assert got == {n: 1 for n in nodes}


def test_coreness_star_of_triangles_cascade(spark):
    from onionnet_spark.operators.analytics import coreness

    # chain of triangles sharing cut vertices: all nodes truly
    # coreness 2, but peeling at k=3 removes nothing (fixpoint is
    # immediate) while k=2... survives; exercises phase fixpoint
    # detection on a multi-phase graph with a pendant chain
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("c", "d"), ("d", "e"), ("c", "e"),
         ("e", "p"), ("p", "q"), ("q", "r"), ("r", "s")],
        "a string, b string",
    )
    got = {r["node"]: r["coreness"] for r in coreness(edges, k_max=5).collect()}
    assert got == {"a": 2, "b": 2, "c": 2, "d": 2, "e": 2,
                   "p": 1, "q": 1, "r": 1, "s": 1}


def test_coreness_guard(spark):
    from onionnet_spark.operators.analytics import coreness
    import pytest as _p

    k4 = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")],
        "a string, b string",
    )
    with _p.raises(RuntimeError, match="nodes remain"):
        coreness(k4, k_max=2)  # K4 survives k<=2: coreness 3 > k_max-1


def test_coreness_sweep_cap_is_data_derived(spark):
    # a fixed round cap (once 200) raised on valid long-cascade
    # inputs; the peel's budget is derived from the data (|V| + 1)
    from onionnet_spark.operators.analytics import coreness

    path = spark.createDataFrame(
        [(f"p{i}", f"p{i+1}") for i in range(20)], "a string, b string"
    )
    got = {r["node"]: r["coreness"] for r in coreness(path, k_max=3).collect()}
    assert set(got.values()) == {1}  # every path node has coreness 1


def test_eigenvector_star_and_isolated(spark):
    from onionnet_spark.operators.analytics import eigenvector_centrality

    # undirected star center m with leaves x,y,z plus isolated pair
    # p-q: after k iterations x_k(m)=3^ceil? hand-check k=2:
    # x1: m=3, leaves=1 each; p=q=1
    # x2: m=3 (sum of leaves), leaves=3 each; p=q=1
    # total = 3 + 9 + 2 = 14
    g = _graph(spark, [("x", "m"), ("y", "m"), ("z", "m"), ("p", "q")])
    out = {
        r["node_id"]: r["eigenvector"]
        for r in eigenvector_centrality(g, n_iterations=2).collect()
    }
    assert out["m"] == pytest.approx(3 / 14, abs=1e-6)
    for v in "xyz":
        assert out[v] == pytest.approx(3 / 14, abs=1e-6)
    assert out["p"] == pytest.approx(1 / 14, abs=1e-6)


def test_katz_chain_hand_computed(spark):
    from onionnet_spark.operators.analytics import katz_centrality

    # a -> b -> c, alpha = 1/2, 3 iterations:
    # katz = sum_k a^k (A^k 1): b gets 1/2 (walk a->b);
    # c gets 1/2 (b->c) + 1/4 (a->b->c); a gets 0
    g = _graph(spark, [("a", "b"), ("b", "c")])
    out = {
        r["node_id"]: r["katz"]
        for r in katz_centrality(g, n_iterations=3, inv_alpha=2).collect()
    }
    assert out["a"] == 0.0
    assert out["b"] == pytest.approx(0.5, abs=1e-6)
    assert out["c"] == pytest.approx(0.75, abs=1e-6)
    with pytest.raises(ValueError, match="inv_alpha"):
        katz_centrality(g, inv_alpha=1)


def test_pseudo_diameter_path_graph(spark):
    from onionnet_spark.operators.traversal import pseudo_diameter

    # path a-b-c-d-e (directed edges, but the sweep is undirected):
    # starting from the middle, double sweep finds the true diameter 4
    g = _graph(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    row = pseudo_diameter(g, ("L", "c"), n_sweeps=2).collect()[0]
    assert row["pseudo_diameter"] == 4
    assert row["peak_id"] in ("a", "e")
    with pytest.raises(ValueError, match="n_sweeps"):
        pseudo_diameter(g, ("L", "c"), n_sweeps=0)


def test_key_skew_report_hand_computed(spark):
    from onionnet_spark.functions.corpus import key_skew_report

    rows = [("a",)] * 6 + [("b",)] * 2 + [("c",)] * 1 + [("d",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_report(df, "k", top_n=2).collect()
    assert [(r["key"], r["n_rows"]) for r in out] == [("a", 6), ("b", 2)]
    # a carries 60% of 10 rows over 4 keys -> 2.4x an even spread
    assert out[0]["share"] == pytest.approx(0.6, abs=1e-6)
    assert out[0]["skew_vs_mean"] == pytest.approx(2.4, abs=1e-6)


def test_skipgram_pairs_hand_computed(spark):
    from onionnet_spark.operators.walks import skipgram_pairs

    # one walk a->b->c, window 1: adjacent pairs only, both directions
    rows = [("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "c")]
    walks = spark.createDataFrame(rows, "start string, step int, node string")
    got = {(r["center"], r["context"]): r["n"]
           for r in skipgram_pairs(walks, window=1).collect()}
    assert got == {("a", "b"): 1, ("b", "a"): 1,
                   ("b", "c"): 1, ("c", "b"): 1}
    # window 2 adds the distance-2 pairs
    got2 = {(r["center"], r["context"]): r["n"]
            for r in skipgram_pairs(walks, window=2).collect()}
    assert got2[("a", "c")] == 1 and len(got2) == 6
    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        skipgram_pairs(walks, window=0)


def test_salsa_closed_form_multi_component(spark):
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.analytics import salsa_scores

    # two authority components: {a, b} via hubs h1/h2, {c, d} via h3.
    # indeg: a=1, b=2, c=1, d=1; |A|=4.
    #   comp {a,b}: share 2/4, indeg sum 3 -> a: 1/2*1/3, b: 1/2*2/3
    #   comp {c,d}: share 2/4, indeg sum 2 -> c = d = 1/2*1/2
    edges = spark.createDataFrame(
        [
            ("h", "h1", "x", "a"), ("h", "h1", "x", "b"),
            ("h", "h2", "x", "b"), ("h", "h3", "x", "c"),
            ("h", "h3", "x", "d"),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = (
        edges.selectExpr("src_layer as layer", "src_id as node_id")
        .union(edges.selectExpr("dst_layer", "dst_id"))
        .distinct()
    )
    g = OnionGraph(nodes, edges, edges_unique_undirected=True)
    out = {r["node_id"]: r for r in salsa_scores(g).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    assert out["a"]["score_ppm"] == 1_000_000 * 2 * 1 // (4 * 3)  # 166666
    assert out["b"]["score_ppm"] == 1_000_000 * 2 * 2 // (4 * 3)  # 333333
    assert out["c"]["score_ppm"] == 250_000
    assert out["d"]["score_ppm"] == 250_000
    # component labels are the min authority key, prefix-stripped
    assert out["a"]["component"] == "x:a" and out["b"]["component"] == "x:a"
    assert out["c"]["component"] == "x:c"
    # scores sum to ~1 (ppm, up to integer-division truncation)
    assert 999_990 <= sum(r["score_ppm"] for r in out.values()) <= 1_000_000


def test_salsa_shared_node_is_split_not_merged(spark):
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.analytics import salsa_scores

    # chain u -> v -> w: v is both authority (of u) and hub (of w).
    # Node-splitting must NOT merge v's two roles: components are
    # {v}, {w}, each with full indeg share within itself.
    edges = spark.createDataFrame(
        [("n", "u", "n", "v"), ("n", "v", "n", "w")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = (
        edges.selectExpr("src_layer as layer", "src_id as node_id")
        .union(edges.selectExpr("dst_layer", "dst_id"))
        .distinct()
    )
    out = {r["node_id"]: r for r in salsa_scores(
        OnionGraph(nodes, edges, edges_unique_undirected=True)
    ).collect()}
    assert set(out) == {"v", "w"}
    assert out["v"]["score_ppm"] == 500_000 and out["w"]["score_ppm"] == 500_000
    assert out["v"]["component"] != out["w"]["component"]


def test_edge_embeddedness_square_with_diagonal(spark):
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.analytics import edge_embeddedness

    # square a-b-c-d-a plus diagonal a-c: the diagonal sits inside
    # two triangles (embeddedness 2); every square side in one; and
    # a pendant edge d-e is a local bridge (embeddedness 0).
    edges = spark.createDataFrame(
        [
            ("x", "a", "x", "b"), ("x", "b", "x", "c"),
            ("x", "c", "x", "d"), ("x", "d", "x", "a"),
            ("x", "a", "x", "c"), ("x", "d", "x", "e"),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    nodes = (
        edges.selectExpr("src_layer as layer", "src_id as node_id")
        .union(edges.selectExpr("dst_layer", "dst_id"))
        .distinct()
    )
    g = OnionGraph(nodes, edges, edges_unique_undirected=True)
    out = {
        (r["src_id"], r["dst_id"]): r["embeddedness"]
        for r in edge_embeddedness(g).collect()
    }
    assert out[("a", "c")] == 2
    assert out[("a", "b")] == out[("b", "c")] == 1
    assert out[("c", "d")] == out[("d", "a")] == 1
    assert out[("d", "e")] == 0  # local bridge survives the left join


def test_propagation_family_job_counts(spark):
    """Spark jobs per call (op + collect) of the seven operators built
    on analytics._push, on a 7-node toy graph with two isolated nodes.
    Each budget is the count measured before the operators shared the
    step, so the step adds no job. count_paths_to runs its 3 rounds
    with one job fewer each (a lazy cut its own row count
    materializes, instead of an eager cut plus isEmpty), and
    personalized_pagerank joins its seeds once instead of every round.
    The unweighted walks run with a driver budget of 0, so the toy
    graph takes the Spark walk, not the driver snapshot."""
    from onionnet_spark import core
    from onionnet_spark.operators import analytics as A

    pairs = ["ab", "bc", "ca", "ad", "de", "ec", "be"]
    sc = spark.sparkContext
    ops = {
        "pagerank": (lambda g: A.pagerank(g, 3), 13),
        "weighted pagerank": (lambda g: A.pagerank(g, 3, weight_col="wt"), 13),
        "personalized_pagerank": (
            lambda g: A.personalized_pagerank(g, [("L", "a")], 3), 17 - 2
        ),
        "hits": (lambda g: A.hits(g, 3), 38),
        "eigenvector_centrality": (lambda g: A.eigenvector_centrality(g, 3), 15),
        "katz_centrality": (lambda g: A.katz_centrality(g, 3), 11),
        "count_paths_to": (lambda g: A.count_paths_to(g, ("L", "c"), 4), 19 - 3),
        "neighbor_agg": (lambda g: A.neighbor_agg(g, "val"), 7),
    }
    got = {}
    for name, (op, _) in ops.items():
        g = OnionGraph(
            spark.createDataFrame(
                [("L", x, float(i)) for i, x in enumerate("abcdefg")],
                "layer string, node_id string, val double",
            ),
            spark.createDataFrame(
                [("L", u, "L", v, float(len(u + v) + ord(v) % 3)) for u, v in pairs],
                "src_layer string, src_id string, dst_layer string, dst_id string, "
                "wt double",
            ),
        )
        group = f"propagation_jobs_{name}"
        sc.setJobGroup(group, name)
        try:
            with pytest.MonkeyPatch.context() as mp:
                if name in ("pagerank", "personalized_pagerank"):
                    mp.setattr(core, "DRIVER_FRONTIER_MAX", 0)
                op(g).collect()
        finally:
            sc._jsc.clearJobGroup()
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    over = {n: (got[n], budget) for n, (_, budget) in ops.items() if got[n] > budget}
    assert not over, over


def test_peel_family_job_counts(spark):
    """Spark jobs per call (op + collect) of the node peel (coreness,
    onion_decomposition) and the edge peel (k_truss, trussness) on an
    8-node toy graph: K4, a triangle hanging off it and a pendant.
    Each budget is the count of the same call measured before the four
    shared the two peels (coreness sweeping each k to fixpoint, k_truss
    and trussness with their default 4 rounds per k, k_truss plus a
    verify pass), so sharing adds no job. trussness's budget is lower:
    every k phase after the first opens with a filter on the support
    its previous phase counted, not a triangle enumeration."""
    from onionnet_spark.operators import analytics as A

    pairs = ["ab", "ac", "ad", "bc", "bd", "cd", "de", "ef", "eg", "fg", "gh"]
    ops = {
        "coreness": (lambda e: A.coreness(e, k_max=5), 67),
        "onion_decomposition": (A.onion_decomposition, 80),
        "k_truss": (lambda e: A.k_truss(e, k=4), 45),
        "trussness": (lambda e: A.trussness(e, k_max=5), 24),
    }
    sc = spark.sparkContext
    got = {}
    for name, (op, _) in ops.items():
        edges = spark.createDataFrame([(u, v) for u, v in pairs], "a string, b string")
        group = f"peel_jobs_{name}"
        sc.setJobGroup(group, name)
        try:
            op(edges).collect()
        finally:
            sc._jsc.clearJobGroup()
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    over = {n: (got[n], budget) for n, (_, budget) in ops.items() if got[n] > budget}
    assert not over, over
