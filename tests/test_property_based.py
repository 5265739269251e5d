"""Property-based cross-checks: Spark operators vs tiny pure-Python
reference implementations on hypothesis-generated inputs — a third
verification axis next to the DuckDB oracles (independent SQL) and
the example-based tests (hand-computed expectations).

Each strategy generates SMALL inputs (Spark job latency dominates),
with max_examples tuned so the whole module stays under a minute.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)

node_ids = st.integers(min_value=0, max_value=11)
edge_lists = st.lists(
    st.tuples(node_ids, node_ids), min_size=0, max_size=24, unique=True
)


def _graph_of(spark, edges, isolated=(), edges_unique_undirected=False, missing=()):
    """The graph of `edges` over nodes 0, the endpoints and `isolated`,
    less the `missing` ids: edge endpoints absent from the node table."""
    from onionnet_spark.core import OnionGraph

    nodes = sorted(({u for e in edges for u in e} | {0} | set(isolated)) - set(missing))
    ndf = spark.createDataFrame(
        [("l", str(n)) for n in nodes], "layer string, node_id string"
    )
    edf = spark.createDataFrame(
        [("l", str(u), "l", str(v)) for (u, v) in edges] or [("l", "0", "l", "0")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    if not edges:
        edf = edf.limit(0)
    return OnionGraph(ndf, edf, edges_unique_undirected=edges_unique_undirected), nodes


def _union_find_components(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), set()).add(n)
    return {frozenset(g) for g in groups.values()}


# ids past node_ids' range: nodes no edge touches
isolated_ids = st.sets(st.integers(min_value=12, max_value=15), max_size=3)
# endpoint ids left out of the node table (node 0 always stays)
missing_ids = st.sets(st.integers(min_value=1, max_value=11), max_size=2)


def _at_both_budgets(run):
    """run() at the default driver budget, where a small graph runs on
    its driver snapshot, then with the budget at 0, where the same call
    runs the Spark engines. run() builds its own graph: the snapshot is
    built once per graph instance."""
    import pytest

    from onionnet_spark import core

    first = run()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(core, "DRIVER_FRONTIER_MAX", 0)
        return first, run()


def _check_components(spark, edges, isolated, missing, edges_unique_undirected=False):
    from onionnet_spark.operators.components import connected_components

    _, nodes = _graph_of(spark, edges, isolated, missing=missing)
    # the union runs over every endpoint, in the node table or not, and
    # each node is labelled by its group's min 'layer:node_id' key
    label = {}
    for group in _union_find_components(set(nodes) | {u for e in edges for u in e}, edges):
        for n in group:
            label[n] = min(f"l:{m}" for m in group)
    want = {(n, label[n]) for n in nodes}

    def run():
        g, _ = _graph_of(spark, edges, isolated, edges_unique_undirected, missing)
        rows = connected_components(g).collect()
        assert len(rows) == len(nodes)
        return {(int(r["node_id"]), r["component"]) for r in rows}

    for got in _at_both_budgets(run):
        assert got == want


@given(edge_lists, isolated_ids, missing_ids)
@SET
def test_connected_components_matches_union_find(spark, edges, isolated, missing):
    _check_components(spark, edges, isolated, missing)


@given(edge_lists, isolated_ids, missing_ids)
@SET
def test_connected_components_unique_undirected_matches_union_find(
    spark, edges, isolated, missing
):
    # the edges_unique_undirected invariant, which skips the input
    # dedup: no self-loops, one row per undirected pair (orientation
    # as generated)
    seen, unique = set(), []
    for u, v in edges:
        if u != v and frozenset((u, v)) not in seen:
            seen.add(frozenset((u, v)))
            unique.append((u, v))
    _check_components(spark, unique, isolated, missing, edges_unique_undirected=True)


def _naive_k_core(nodes, edges, k):
    und = {frozenset((u, v)) for (u, v) in edges if u != v}
    alive = set(nodes)
    while True:
        deg = {n: 0 for n in alive}
        for e in und:
            a, b = tuple(e)
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        drop = {n for n in alive if deg[n] < k}
        if not drop:
            return {n: d for n, d in deg.items() if d >= k or (k == 0)}
        alive -= drop


@given(edge_lists, st.integers(min_value=1, max_value=4))
@SET
def test_k_core_matches_naive_peel(spark, edges, k):
    from onionnet_spark.operators.analytics import k_core

    g, nodes = _graph_of(spark, edges)
    got = {
        int(r["node_id"]): r["core_degree"] for r in k_core(g, k=k).collect()
    }
    want = _naive_k_core(nodes, edges, k)
    # naive returns remaining degree for members of the k-core
    want = {n: d for n, d in want.items() if d >= k}
    assert got == want


dense_ids = st.integers(min_value=0, max_value=7)
dense_edge_lists = st.lists(
    st.tuples(dense_ids, dense_ids),
    min_size=0,
    max_size=20,
    unique=True,
)


def _pair_frame_and_nx(spark, edges):
    """The edge list as an (a, b) string frame, and the networkx graph
    of its non-loop edges."""
    import networkx as nx

    df = spark.createDataFrame(
        [(str(u), str(v)) for u, v in edges], "a string, b string"
    )
    return df, nx.Graph([(str(u), str(v)) for u, v in edges if u != v])


@given(dense_edge_lists)
@settings(SET, max_examples=4)
def test_coreness_matches_networkx(spark, edges):
    import networkx as nx

    from onionnet_spark.operators.analytics import coreness

    df, g = _pair_frame_and_nx(spark, edges)
    got = {r["node"]: r["coreness"] for r in coreness(df, k_max=8).collect()}
    assert got == nx.core_number(g)


@given(dense_edge_lists)
@settings(SET, max_examples=4)
def test_onion_decomposition_matches_networkx(spark, edges):
    import networkx as nx

    from onionnet_spark.operators.analytics import onion_decomposition

    df, g = _pair_frame_and_nx(spark, edges)
    layer, core = nx.onion_layers(g), nx.core_number(g)
    got = {
        r["node"]: (r["layer"], r["coreness"])
        for r in onion_decomposition(df).collect()
    }
    assert got == {n: (layer[n], core[n]) for n in g}


def _truss_support(t):
    return {
        (min(u, v), max(u, v)): len(set(t[u]) & set(t[v])) for u, v in t.edges()
    }


@given(dense_edge_lists, st.integers(min_value=2, max_value=5))
@settings(SET, max_examples=4)
def test_k_truss_matches_networkx(spark, edges, k):
    import networkx as nx

    from onionnet_spark.operators.analytics import k_truss

    df, g = _pair_frame_and_nx(spark, edges)
    got = {(r["a"], r["b"]): r["support"] for r in k_truss(df, k=k).collect()}
    assert got == _truss_support(nx.k_truss(g, k))


@given(dense_edge_lists)
@settings(SET, max_examples=4)
def test_trussness_matches_networkx(spark, edges):
    import networkx as nx

    from onionnet_spark.operators.analytics import trussness

    df, g = _pair_frame_and_nx(spark, edges)
    want = {}
    for k in range(2, 9):  # 8 nodes: no edge is in the 9-truss
        want.update(dict.fromkeys(_truss_support(nx.k_truss(g, k)), k))
    got = {(r["a"], r["b"]): r["trussness"] for r in trussness(df, k_max=8).collect()}
    assert got == want


def _naive_triangles(edges):
    und = {frozenset((u, v)) for (u, v) in edges if u != v}
    adj = {}
    for e in und:
        a, b = tuple(e)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    count = 0
    ns = sorted(adj)
    for i, a in enumerate(ns):
        for b in ns[i + 1:]:
            if b not in adj[a]:
                continue
            for c in ns:
                if c > b and c in adj[a] and c in adj[b]:
                    count += 1
    return count


@given(edge_lists)
@SET
def test_triangle_count_matches_naive(spark, edges):
    from onionnet_spark.operators.analytics import triangle_count

    g, _ = _graph_of(spark, edges)
    assert triangle_count(g).collect()[0][0] == _naive_triangles(edges)


# duplicate, reversed and self-loop edges, dense over 8 nodes, so that
# triangles and 4-cliques are common
multi_edge_lists = st.lists(st.tuples(dense_ids, dense_ids), min_size=0, max_size=40)


@given(multi_edge_lists)
@settings(SET, max_examples=4)
def test_local_clustering_coefficient_matches_networkx(spark, edges):
    import networkx as nx

    from onionnet_spark.operators.analytics import local_clustering_coefficient

    g, nodes = _graph_of(spark, edges)
    ref = nx.Graph([(str(u), str(v)) for u, v in edges if u != v])
    ref.add_nodes_from(str(n) for n in nodes)
    tri, cc = nx.triangles(ref), nx.clustering(ref)
    got = {r["node_id"]: r for r in local_clustering_coefficient(g).collect()}
    assert set(got) == set(ref)
    for n, r in got.items():
        assert r["degree"] == ref.degree(n)
        assert r["n_triangles"] == tri[n]
        assert abs(r["clustering_coeff"] - cc[n]) < 1e-6


@given(multi_edge_lists)
# the triangle 0-1-2's top corner 2 reaches 3, which is joined to 0 but
# not to 1: a 4-clique candidate only the last closure rejects
@example([(0, 1), (0, 2), (1, 2), (2, 3), (0, 3), (1, 4), (1, 5), (2, 4), (2, 5),
          (3, 4), (3, 5), (3, 6), (3, 7), (1, 0), (2, 3), (5, 5)])
@settings(SET, max_examples=4)
def test_clique4_count_matches_networkx(spark, edges):
    import networkx as nx

    from onionnet_spark.operators.analytics import clique4_count

    df, ref = _pair_frame_and_nx(spark, edges)
    sizes = [len(c) for c in nx.enumerate_all_cliques(ref)]
    row = clique4_count(df).collect()[0]
    assert (row["n_triangles"], row["n_4cliques"]) == (sizes.count(3), sizes.count(4))


def _naive_bfs(edges, seeds, direction, max_dist=None):
    """{node: least hop distance} from the seed set."""
    adj = {}
    for u, v in edges:
        if direction in ("downstream", "sym"):
            adj.setdefault(u, set()).add(v)
        if direction in ("upstream", "sym"):
            adj.setdefault(v, set()).add(u)
    dist = {s: 0 for s in seeds}
    frontier, d = list(dist), 0
    while frontier and (max_dist is None or d < max_dist):
        d += 1
        nxt = [v for u in frontier for v in adj.get(u, ()) if v not in dist]
        for v in nxt:
            dist[v] = d
        frontier = list(dict.fromkeys(nxt))
    return dist


def _dist_map(df, *key):
    """{(*key, node): dist} over the rows of df; fails on a node
    reported twice."""
    rows = df.collect()
    got = {(*(r[k] for k in key), int(r["node_id"])): r["dist"] for r in rows}
    assert len(got) == len(rows)
    return got


def _in_every_mode(run):
    """run() in both keyings (as is, then with the int-keyed views
    reported unavailable, so every traversal also takes the string
    keying), each at the default driver-frontier budget and at a
    budget of 1, where every level of more than one edge row hands
    off from driver levels to Spark rounds."""
    import pytest

    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators import traversal

    def at_both_budgets():
        first = run()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(traversal, "DRIVER_FRONTIER_MAX", 1)
            return first, run()

    with pytest.MonkeyPatch.context() as mp:
        first = at_both_budgets()
        mp.setattr(OnionGraph, "cached_int_endpoints", lambda self, direction: None)
        mp.setattr(OnionGraph, "cached_int_sym", lambda self: None)
        return (*first, *at_both_budgets())


@given(edge_lists, node_ids, st.integers(min_value=1, max_value=3))
@SET
def test_k_hop_and_reachable_match_python_bfs(spark, edges, start, k):
    from onionnet_spark.operators.traversal import k_hop, reachable

    g, _ = _graph_of(spark, edges)
    seed = ("l", str(start))

    def run():
        out = {
            d: _dist_map(k_hop(g, seed, k, d))
            for d in ("downstream", "upstream", "bi")
        }
        for d in ("downstream", "upstream"):
            out["reach_" + d] = _dist_map(reachable(g, seed, d))
        return out

    down, up = (_naive_bfs(edges, [start], d, k) for d in ("downstream", "upstream"))
    want = {
        "downstream": down,
        "upstream": up,
        "bi": {v: min(m[v] for m in (down, up) if v in m) for v in down | up},
    }
    for d in ("downstream", "upstream"):
        want["reach_" + d] = _naive_bfs(edges, [start], d)
    want = {c: {(v,): x for v, x in m.items()} for c, m in want.items()}
    for got in _in_every_mode(run):
        assert got == want


@given(
    edge_lists,
    st.lists(node_ids, min_size=1, max_size=3),
    st.one_of(st.none(), st.integers(min_value=1, max_value=3)),
)
@SET
def test_multi_source_bfs_matches_python_bfs(spark, edges, sources, max_dist):
    from onionnet_spark.operators.traversal import multi_source_bfs

    g, _ = _graph_of(spark, edges)
    seeds = [("l", str(s)) for s in sources]

    def run():
        return {
            d: _dist_map(multi_source_bfs(g, seeds, d, max_dist), "sid")
            for d in ("downstream", "upstream", "sym")
        }

    want = {
        d: {
            (f"l:{s}", v): x
            for s in sources
            for v, x in _naive_bfs(edges, [s], d, max_dist).items()
        }
        for d in ("downstream", "upstream", "sym")
    }
    for got in _in_every_mode(run):
        assert got == want


@given(edge_lists, node_ids, st.lists(node_ids, max_size=3), st.booleans())
@SET
def test_on_shortest_path_matches_python_bfs(
    spark, edges, source, targets, source_is_target
):
    from onionnet_spark.operators.traversal import on_shortest_path

    g, _ = _graph_of(spark, edges)
    if source_is_target:
        targets = targets + [source]

    def run():
        rows = on_shortest_path(
            g, ("l", str(source)), [("l", str(t)) for t in targets]
        ).collect()
        return {(int(r["node_id"]), r["d_f"], r["d_r"]) for r in rows}

    # targets the forward BFS never reaches (or absent from the graph)
    # have no distance and contribute no shortest-path length
    fwd = _naive_bfs(edges, [source], "downstream")
    rev = _naive_bfs(edges, targets, "upstream")
    lengths = {fwd[t] for t in targets if t in fwd}
    want = {
        (v, fwd[v], rev[v])
        for v in fwd
        if v in rev and fwd[v] + rev[v] in lengths
    }
    for got in _in_every_mode(run):
        assert got == want


# --- the propagation family (analytics._push) vs power iteration in
# plain Python. Edge weights and node values are small integers, so the
# integer-valued iterates are exact in any summation order.

weight_lists = st.lists(st.integers(min_value=1, max_value=5), min_size=24, max_size=24)
value_lists = st.lists(
    st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
    min_size=16,
    max_size=16,
)


def _valued_graph_of(spark, edges, isolated, weights, values, missing=()):
    """`_graph_of` with an edge weight `w` and a node value `val`
    (None where the value list holds None)."""
    from onionnet_spark.core import OnionGraph

    g, nodes = _graph_of(spark, edges, isolated, missing=missing)
    ndf = spark.createDataFrame(
        [("l", str(n), None if values[n] is None else float(values[n])) for n in nodes],
        "layer string, node_id string, val double",
    )
    edf = spark.createDataFrame(
        [("l", str(u), "l", str(v), float(w)) for (u, v), w in zip(edges, weights)]
        or [("l", "0", "l", "0", 1.0)],
        "src_layer string, src_id string, dst_layer string, dst_id string, w double",
    )
    return OnionGraph(ndf, edf if edges else edf.limit(0)), nodes


def _round6(x):
    """Spark's round(x, 6) on a double: HALF_UP on its decimal string."""
    from decimal import ROUND_HALF_UP, Decimal

    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _py_rank_walk(nodes, edges, n_iter, d, w=None, seeds=None):
    """The rank walk over every endpoint, in the node table or not; the
    ranks of the node table's nodes."""
    w = w or {e: 1.0 for e in edges}
    out_w = {}
    for u, v in edges:
        out_w[u] = out_w.get(u, 0.0) + w[(u, v)]
    keys = set(nodes) | {u for e in edges for u in e}
    tele = {n: 1.0 if seeds is None or n in seeds else 0.0 for n in keys}
    m = len(nodes) if seeds is None else len(seeds)
    r = {n: tele[n] / m for n in keys}
    for _ in range(n_iter):
        c = dict.fromkeys(keys, 0.0)
        for u, v in edges:
            c[v] += r[u] * w[(u, v)] / out_w[u]
        r = {n: (1 - d) * tele[n] / m + d * c[n] for n in keys}
    return {n: r[n] for n in nodes}


@given(
    edge_lists,
    isolated_ids,
    weight_lists,
    st.lists(node_ids, min_size=1, max_size=4),
    st.integers(min_value=1, max_value=4),
    missing_ids,
)
@settings(SET, max_examples=4)
def test_rank_walks_match_python_power_iteration(
    spark, edges, isolated, weights, seeds, n_iter, missing
):
    import pytest

    from onionnet_spark.operators.analytics import pagerank, personalized_pagerank

    _, nodes = _graph_of(spark, edges, isolated, missing=missing)
    w = dict(zip(edges, weights))
    want_pr = _py_rank_walk(nodes, edges, n_iter, 0.85)
    want_wpr = _py_rank_walk(nodes, edges, n_iter, 0.85, w)
    want_ppr = _py_rank_walk(nodes, edges, n_iter, 0.85, seeds=set(seeds))

    def ranks(df, col):
        return {int(r["node_id"]): r[col] for r in df.collect()}

    def run():
        g, _ = _valued_graph_of(spark, edges, isolated, weights, [None] * 16, missing)
        pr = ranks(pagerank(g, n_iter), "pagerank")
        assert pr == pytest.approx(want_pr, abs=1e-9)
        wpr = ranks(pagerank(g, n_iter, weight_col="w"), "pagerank")
        assert wpr == pytest.approx(want_wpr, abs=1e-9)
        # repeated seeds count once
        ppr = ranks(personalized_pagerank(g, [("l", s) for s in seeds], n_iter), "ppr")
        assert ppr == pytest.approx(want_ppr, abs=1e-9)
        # every node a seed is the uniform walk, bit for bit, when every
        # endpoint is a node (an endpoint outside the table is no seed)
        every = ranks(personalized_pagerank(g, [("l", n) for n in nodes], n_iter), "ppr")
        if not set(missing) & {u for e in edges for u in e}:
            assert every == pr
        return pr, ppr

    (pr, ppr), (spark_pr, spark_ppr) = _at_both_budgets(run)
    assert pr == pytest.approx(spark_pr, rel=1e-12, abs=1e-15)
    assert ppr == pytest.approx(spark_ppr, rel=1e-12, abs=1e-15)


@given(
    edge_lists,
    isolated_ids,
    value_lists,
    node_ids,
    st.integers(min_value=1, max_value=3),
)
@settings(SET, max_examples=4)
def test_integer_propagations_match_python(
    spark, edges, isolated, values, target, n_iter
):
    from onionnet_spark.operators.analytics import (
        count_paths_to,
        eigenvector_centrality,
        hits,
        katz_centrality,
        neighbor_agg,
    )

    g, nodes = _valued_graph_of(spark, edges, isolated, [1] * 24, values)

    def rows(df, *cols):
        return {int(r["node_id"]): tuple(r[c] for c in cols) for r in df.collect()}

    def norm(x):
        total = sum(x.values())
        return {n: _round6(x[n] / total) if total else None for n in nodes}

    hub, auth = dict.fromkeys(nodes, 1), None
    for _ in range(n_iter):
        auth = dict.fromkeys(nodes, 0)
        for u, v in edges:
            auth[v] += hub[u]
        hub = dict.fromkeys(nodes, 0)
        for u, v in edges:
            hub[u] += auth[v]
    a, h = norm(auth), norm(hub)
    want = {n: (a[n], h[n]) for n in nodes}
    assert rows(hits(g, n_iter), "authority", "hub") == want

    sym = set(edges) | {(v, u) for u, v in edges}
    x = dict.fromkeys(nodes, 1)
    for _ in range(n_iter):
        nxt = dict.fromkeys(nodes, 0)
        for u, v in sym:
            nxt[v] += x[u]
        x = nxt
    want = {n: (v,) for n, v in norm(x).items()}
    assert rows(eigenvector_centrality(g, n_iter), "eigenvector") == want

    z = dict.fromkeys(nodes, 0)
    for k in range(1, n_iter + 1):
        nxt = dict.fromkeys(nodes, 0)
        for u, v in edges:
            nxt[v] += z[u] + 3 ** (k - 1)
        z = nxt
    want = {n: (_round6(z[n] / 3**n_iter),) for n in nodes}
    assert rows(katz_centrality(g, n_iter, inv_alpha=3), "katz") == want

    max_len = n_iter + 1
    cur = {}
    for u, v in edges:
        if v == target:
            cur[u] = cur.get(u, 0) + 1
    total = dict(cur)
    for _ in range(max_len - 1):
        nxt = {}
        for u, v in edges:
            if v in cur:
                nxt[u] = nxt.get(u, 0) + cur[v]
        cur = nxt
        for n, c in cur.items():
            total[n] = total.get(n, 0) + c
    got = rows(count_paths_to(g, ("l", str(target)), max_len), "n_paths")
    assert got == {n: (c,) for n, c in total.items()}

    pairs = {
        "downstream": list(edges),
        "upstream": [(v, u) for u, v in edges],
        "sym": sorted(sym),
    }
    cols = ("n_nbrs", "sum_val", "mean_val", "min_val", "max_val")
    for direction, recv in pairs.items():
        want = {}
        for n in nodes:
            vals = [values[v] for u, v in recv if u == n]
            known = [float(x) for x in vals if x is not None]
            want[n] = (len(vals),) + (
                (_round6(sum(known)), _round6(sum(known) / len(known)),
                 min(known), max(known))
                if known
                else (None,) * 4
            )
        assert rows(neighbor_agg(g, "val", direction), *cols) == want, direction


def _dijkstra(edges, weights, seeds):
    import heapq

    adj = {}
    for (u, v), w in zip(edges, weights):
        adj.setdefault(u, []).append((v, float(w)))
    dist, heap = {}, [(0.0, s) for s in seeds]
    while heap:
        d, u = heapq.heappop(heap)
        if u not in dist:
            dist[u] = d
            for v, w in adj.get(u, ()):
                heapq.heappush(heap, (d + w, v))
    return dist


@given(edge_lists, weight_lists, st.lists(node_ids, min_size=1, max_size=3))
@settings(SET, max_examples=4)
def test_weighted_sssp_matches_dijkstra(spark, edges, weights, seeds):
    from onionnet_spark.operators.traversal import weighted_sssp

    g, _ = _valued_graph_of(spark, edges, (), weights, [None] * 16)
    src = [("l", s) for s in seeds]
    down = _dist_map(weighted_sssp(g, src, "downstream", weight_col="w"), "layer")
    assert down == {("l", n): d for n, d in _dijkstra(edges, weights, seeds).items()}
    rev = [(v, u) for u, v in edges]
    up = _dist_map(weighted_sssp(g, src, "upstream", weight_col="w"), "layer")
    assert up == {("l", n): d for n, d in _dijkstra(rev, weights, seeds).items()}


# edges u -> v with u < v: every such graph is a DAG
dag_edge_lists = edge_lists.map(lambda es: [(u, v) for u, v in es if u < v])


@given(dag_edge_lists, isolated_ids)
@settings(SET, max_examples=4)
def test_topological_levels_match_longest_paths(spark, edges, isolated):
    import pytest

    from onionnet_spark.operators.traversal import topological_levels

    g, nodes = _graph_of(spark, edges, isolated)
    level = dict.fromkeys(nodes, 0)
    for u, v in sorted(edges):  # u ascending: level[u] is final
        level[v] = max(level[v], level[u] + 1)
    got = {int(r["node_id"]): r["level"] for r in topological_levels(g).collect()}
    assert got == level
    # a cycle keeps relaxing: the budget runs out and names the operator
    cyc, _ = _graph_of(spark, edges + [(0, 12), (12, 0)])
    with pytest.raises(RuntimeError, match="topological_levels did not converge.*cycle"):
        topological_levels(cyc, max_iterations=4)


temporal_edges = st.lists(
    st.tuples(node_ids, node_ids, st.integers(min_value=0, max_value=9)),
    max_size=24,
    unique=True,
)


@given(temporal_edges, st.lists(node_ids, min_size=1, max_size=3))
@settings(SET, max_examples=4)
def test_temporal_earliest_arrival_matches_label_correcting(spark, edges, seeds):
    from onionnet_spark.operators.traversal import temporal_earliest_arrival

    # label-correcting to fixpoint; a source's None reads as -infinity
    arrival = dict.fromkeys(seeds)
    changed = True
    while changed:
        changed = False
        for u, v, t in edges:
            if u in arrival and (arrival[u] is None or t >= arrival[u]):
                if v not in arrival or (arrival[v] is not None and t < arrival[v]):
                    arrival[v] = t
                    changed = True
    e = spark.createDataFrame(edges or [(0, 0, 0)], "src int, dst int, ts long")
    e = e if edges else e.limit(0)
    s = spark.createDataFrame([(x,) for x in seeds], "node int")
    for hops in (1, 2):
        out = temporal_earliest_arrival(e, s, max_rounds=20, hops_per_round=hops)
        rows = out.collect()
        assert {r["node"]: r["arrival"] for r in rows} == arrival
        assert len(rows) == len(arrival)


def _tarjan(nodes, edges):
    adj = {n: [] for n in nodes}
    for u, v in edges:
        adj[u].append(v)
    index, low, stack, on, out = {}, {}, [], set(), []

    def visit(v):
        index[v] = low[v] = len(index)
        stack.append(v)
        on.add(v)
        for w in adj[v]:
            if w not in index:
                visit(w)
                low[v] = min(low[v], low[w])
            elif w in on:
                low[v] = min(low[v], index[w])
        if low[v] == index[v]:
            comp = set()
            while v not in comp:
                w = stack.pop()
                on.discard(w)
                comp.add(w)
            out.append(frozenset(comp))

    for n in nodes:
        if n not in index:
            visit(n)
    return set(out)


@given(edge_lists, st.lists(node_ids, min_size=2, max_size=5, unique=True))
@settings(SET, max_examples=3)
def test_strongly_connected_components_match_tarjan(spark, edges, cycle):
    from onionnet_spark.operators.components import strongly_connected_components

    # a planted cycle survives the trim, so the coloring always runs
    planted = list(zip(cycle, cycle[1:] + cycle[:1]))
    edges = sorted(set(edges) | set(planted))
    g, nodes = _graph_of(spark, edges)
    groups = {}
    for r in strongly_connected_components(g).collect():
        groups.setdefault(r["component"], set()).add(int(r["node_id"]))
    assert {frozenset(v) for v in groups.values()} == _tarjan(nodes, edges)
    for label, members in groups.items():
        assert label == min(f"l:{n}" for n in members)


texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=10
)


@given(texts)
@SET
def test_exact_dedup_matches_dict_grouping(spark, docs):
    import re

    from onionnet_spark.functions.dedup import exact_duplicates

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["canonical_id"], r["group_size"])
           for r in exact_duplicates(df).collect()}
    by_text = {}
    for i, t in enumerate(docs):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        by_text.setdefault(norm, []).append(i)
    want = {}
    for ids in by_text.values():
        for i in ids:
            want[i] = (min(ids), len(ids))
    assert got == want


doc_texts = st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=40), min_size=1, max_size=10
)


@given(docs=doc_texts, w=st.integers(min_value=1, max_value=4))
@SET
def test_chunk_dedup_matches_serial_reference(spark, docs, w):
    import re

    from onionnet_spark.functions.dedup import chunk_dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"], r["n_tokens_kept"])
        for r in chunk_dedup(df, chunk_words=w).collect()
    }

    seen: set[str] = set()
    want = {}
    for i, t in enumerate(docs):
        toks = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
        chunks = [toks[j : j + w] for j in range(0, len(toks), w)]
        dup = kept = 0
        for c in chunks:
            key = " ".join(c)
            if key in seen:
                dup += 1
            else:
                seen.add(key)
                kept += len(c)
        want[i] = (len(chunks), dup, kept)
    assert got == want


@given(
    n_docs=st.integers(min_value=1, max_value=25),
    n_shards=st.integers(min_value=1, max_value=7),
)
@SET
def test_shuffle_shards_is_a_balanced_permutation(spark, n_docs, n_shards):
    from pyspark.sql import functions as F

    from onionnet_spark.functions.corpus import shuffle_shards

    df = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    out = shuffle_shards(df, n_shards=n_shards, seed="p").collect()
    assert len(out) == n_docs
    # (shard, pos) pairs form exactly the round-robin deal of 0..n-1
    dealt = sorted((r["shard"], r["pos_in_shard"]) for r in out)
    assert dealt == sorted((p % n_shards, p // n_shards) for p in range(n_docs))


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=40,
    ),
    bits=st.integers(min_value=1, max_value=6),
)
@SET
def test_zorder_key_bounds_and_quadrant_order(spark, vals, bits):
    from onionnet_spark.sources.layout import zorder_key

    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(vals)],
        "id long, x double, y double",
    )
    rows = zorder_key(df, "x", "y", bits=bits).collect()
    zmax = 1 << (2 * bits)
    assert all(0 <= r["zval"] < zmax for r in rows)
    # the min-corner point always gets z = 0, the max corner the max
    # occupied cell's key; and z is monotone under quadrant
    # refinement: points in the low-low half-plane of both dims sort
    # before the high-high corner point
    xs = [x for x, _ in vals]
    ys = [y for _, y in vals]
    by_id = {r["id"]: r["zval"] for r in rows}
    i_min = next(
        i for i, (x, y) in enumerate(vals) if x == min(xs) and y == min(ys)
    ) if any(x == min(xs) and y == min(ys) for x, y in vals) else None
    if i_min is not None:
        assert by_id[i_min] == 0


# --------------------------------------------------------- rolling features

ts_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # user
        st.integers(min_value=0, max_value=20 * 86400),  # epoch offset
        st.integers(min_value=-5000, max_value=5000),  # value millis
    ),
    min_size=1,
    max_size=20,
)


@SET
@given(ts_events)
def test_rolling_features_matches_python(spark, rows):
    from onionnet_spark.operators.timeseries import rolling_features

    base = 1_700_000_000
    data = [
        (i, base + off, u, v / 1000.0) for i, (u, off, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        [(i, u, float(e), val) for (i, e, u, val) in data],
        "event_id long, user_id long, ts double, value double",
    ).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    got = {
        r["event_id"]: (r["gap_s"], r["cnt_w"], r["sum_w"])
        for r in rolling_features(df).collect()
    }
    W = 7 * 86400
    for eid, epoch, user, val in data:
        mine = [(e2, i2) for (i2, e2, u2, _) in data if u2 == user]
        prev = [e2 for (e2, i2) in mine if (e2, i2) < (epoch, eid)]
        gap = epoch - max(prev) if prev else None
        in_w = [
            (i2, v2)
            for (i2, e2, u2, v2) in data
            if u2 == user and epoch - W <= e2 <= epoch
        ]
        cnt = len(in_w)
        sw = round(sum(int(v2 * 1e6 // 1) for _, v2 in in_w) / 1e6, 6)
        g_gap, g_cnt, g_sum = got[eid]
        assert g_gap == gap and g_cnt == cnt
        assert abs(g_sum - sw) < 2e-6


# --------------------------------------------------------- c4 line filter

doc_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab .!?\"\n")), min_size=0, max_size=60
    ),
    min_size=1,
    max_size=4,
)


@SET
@given(doc_texts)
def test_c4_line_filter_matches_python(spark, texts):
    import hashlib
    import re

    from onionnet_spark.functions.text import c4_line_filter

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
    for i, t in enumerate(texts):
        lines = [ln.strip() for ln in t.split("\n")]
        lines = [ln for ln in lines if ln]
        if not lines:
            assert i not in got
            continue
        keep = [
            ln
            for ln in lines
            if re.search(r'[.!?"]$', ln) and len(re.split(r"\s+", ln)) >= 3
        ]
        clean = "\n".join(keep)
        r = got[i]
        assert r["n_kept"] == len(keep)
        assert r["n_dropped"] == len(lines) - len(keep)
        assert r["clean_len"] == len(clean)
        assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest()


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=1, max_value=4),
            st.binary(max_size=24),
        ),
        max_size=5,
    ),
    st.binary(max_size=16),
)
def test_split_png_stream_roundtrip(pngs, trailing):
    """Any concatenation of valid PNGs — each with arbitrary bytes
    (including the 8-byte signature) planted inside its IDAT — must
    split back into exactly the original frames; arbitrary trailing
    garbage is dropped, never misattributed."""
    import struct
    import zlib

    from onionnet_spark.functions.multimodal import _split_png_stream

    sig = b"\x89PNG\r\n\x1a\n"

    def mk(w, h, extra):
        def chunk(ctype, data):
            c = struct.pack(">I", len(data)) + ctype + data
            return c + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        raw = b"".join(b"\x00" + bytes(w) for _ in range(h))
        return (
            sig
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw) + extra)
            + chunk(b"IEND", b"")
        )

    frames = [mk(w, h, sig + extra) for w, h, extra in pngs]
    stream = b"".join(frames)
    if not trailing.startswith(sig):
        stream += trailing  # garbage tail: must be dropped
    assert _split_png_stream(stream) == frames


@SET
@given(
    st.lists(
        st.floats(
            min_value=-2.0, max_value=2.0,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=32,
    )
)
def test_np_round_half_away_matches_decimal(xs):
    """The numpy kernel rounding must equal decimal ROUND_HALF_UP at
    6 places for every representable input (the SQL ROUND contract)."""
    import decimal

    import numpy as np

    from onionnet_spark.functions.similarity import _np_round_half_away

    got = _np_round_half_away(np.array(xs, dtype=np.float64), 6)
    for x, g in zip(xs, got.tolist()):
        want = float(
            decimal.Decimal(repr(x * 1e6))
            .to_integral_value(rounding=decimal.ROUND_HALF_UP)
        ) / 1e6
        assert g == want, (x, g, want)


@SET
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    ch=st.sampled_from([3, 4]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    flavor=st.sampled_from(["random", "flat", "gradient", "sparse"]),
)
def test_qoi_roundtrip_lossless(h, w, ch, seed, flavor):
    """QOI is lossless for EVERY uint8 image: decode(encode(x)) == x
    across random noise (RGB verbatim ops), flat fields (max-length
    runs), gradients (DIFF/LUMA deltas incl. mod-256 wraparound) and
    sparse palettes (INDEX cache hits), both 3- and 4-channel."""
    import numpy as np

    from onionnet_spark.functions.qoi import decode_qoi, encode_qoi

    rng = np.random.RandomState(seed)
    if flavor == "random":
        img = rng.randint(0, 256, (h, w, ch), dtype=np.uint8)
    elif flavor == "flat":
        img = np.full((h, w, ch), rng.randint(0, 256), np.uint8)
    elif flavor == "gradient":
        r = np.arange(h)[:, None, None]
        c = np.arange(w)[None, :, None]
        k = np.arange(ch)[None, None, :]
        img = ((r * rng.randint(1, 5) + c + k * 7) % 256).astype(np.uint8)
    else:  # sparse palette: few colors, many cache hits
        palette = rng.randint(0, 256, (4, ch), dtype=np.uint8)
        idx = rng.randint(0, 4, (h, w))
        img = palette[idx]
    out = decode_qoi(encode_qoi(img))
    assert out.shape == img.shape
    assert (out == img).all()
