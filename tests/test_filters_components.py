"""View/filter/component operators on tiny known graphs."""

import glob
import os
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from onionnet_spark.builder import grow_onion
from onionnet_spark.operators.analytics import degrees, pagerank, triangle_count
from onionnet_spark.operators.components import connected_components, view_components
from onionnet_spark.operators.filters import (
    bipartite_view,
    compose_filters,
    filter_view_by_property,
    prune_isolated,
    view_layers,
)

from tests.conftest import rows_to_set


@pytest.fixture(scope="module")
def two_comp_graph(spark):
    # component 1: A:a - B:b - A:c (undirected-weakly connected)
    # component 2: A:d - B:e ; isolated: A:z
    nodes = spark.createDataFrame(
        [
            ("A", "a", 1.0),
            ("B", "b", 2.0),
            ("A", "c", 3.0),
            ("A", "d", 4.0),
            ("B", "e", 5.0),
            ("A", "z", 6.0),
        ],
        "layer string, node_id string, score double",
    )
    edges = spark.createDataFrame(
        [
            ("A", "a", "B", "b", 1.0),
            ("B", "b", "A", "c", 2.0),
            ("A", "d", "B", "e", 3.0),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string, w double",
    )
    return grow_onion(nodes, edges, node_prop_cols=["score"], edge_prop_cols=["w"])


def test_connected_components(two_comp_graph):
    got = rows_to_set(connected_components(two_comp_graph))
    comp = {(r[1], r[2]): r[0] for r in got}
    assert comp[("A", "a")] == comp[("B", "b")] == comp[("A", "c")] == "A:a"
    assert comp[("A", "d")] == comp[("B", "e")] == "A:d"
    assert comp[("A", "z")] == "A:z"


def test_view_components_threshold(two_comp_graph):
    got = rows_to_set(view_components(two_comp_graph, size_threshold=3))
    assert {r[3] for r in got} == {"a", "b", "c"}


def test_strong_components_cycles(spark):
    # two nontrivial SCCs ({a,b,c} cycle, {d,e} 2-cycle, both linked
    # into a DAG tail f->g plus isolated h) — exercises trim, color,
    # and backward-collect phases.
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.components import strongly_connected_components

    nodes = spark.createDataFrame(
        [("L", x) for x in "abcdefgh"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [
            ("L", "a", "L", "b"),
            ("L", "b", "L", "c"),
            ("L", "c", "L", "a"),
            ("L", "d", "L", "e"),
            ("L", "e", "L", "d"),
            ("L", "f", "L", "g"),
            ("L", "c", "L", "d"),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    scc = strongly_connected_components(OnionGraph(nodes, edges))
    got = {(r["node_id"], r["component"]) for r in scc.collect()}
    assert got == {
        ("a", "L:a"), ("b", "L:a"), ("c", "L:a"),
        ("d", "L:d"), ("e", "L:d"),
        ("f", "L:f"), ("g", "L:g"), ("h", "L:h"),
    }


def test_scc_multi_cycle_with_trim_and_collect(spark):
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.components import (
        strongly_connected_components,
    )

    # two cycles bridged by a DAG edge + a pendant tail: exercises the
    # trim sweeps (tail), the coloring fixpoint (both cycles share a
    # forward color until the pivot splits them) and a multi-level
    # backward collect
    nodes = spark.createDataFrame(
        [("L", x) for x in ["a", "b", "c", "d", "e", "f", "t"]],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),          # cycle 1
         ("c", "d"),                                   # bridge (DAG)
         ("d", "e"), ("e", "f"), ("f", "d"),          # cycle 2
         ("f", "t")],                                  # pendant tail
        "s string, d string",
    ).select(
        F.lit("L").alias("src_layer"), F.col("s").alias("src_id"),
        F.lit("L").alias("dst_layer"), F.col("d").alias("dst_id"),
    )
    comp = {
        r["node_id"]: r["component"]
        for r in strongly_connected_components(OnionGraph(nodes, edges)).collect()
    }
    assert comp["a"] == comp["b"] == comp["c"] == "L:a"
    assert comp["d"] == comp["e"] == comp["f"] == "L:d"
    assert comp["t"] == "L:t"


def test_view_components_strong_threshold(two_comp_graph):
    # the two_comp_graph is a DAG -> no SCC of size >= 2
    assert view_components(two_comp_graph, 2, connectivity="strong").count() == 0


def test_view_layers_missing_raises(two_comp_graph):
    with pytest.raises(ValueError, match="do not exist"):
        view_layers(two_comp_graph, ["A", "nope"])


def test_view_layers_induced(two_comp_graph):
    g = view_layers(two_comp_graph, "A")
    assert g.nodes.count() == 4
    assert g.edges.count() == 0  # all edges cross into layer B


def test_filter_by_property_prune(two_comp_graph):
    g = filter_view_by_property(two_comp_graph, "score", 2.0, ">=", dim="v", prune=True)
    # nodes with score>=2: b,c,d,e,z; induced edges: b-c, d-e; z pruned
    assert rows_to_set(g.nodes.select("node_id")) == {("b",), ("c",), ("d",), ("e",)}


def test_filter_by_property_inset(two_comp_graph):
    g = filter_view_by_property(two_comp_graph, "node_id", ["a", "z"], dim="v")
    assert g.nodes.count() == 2


def test_filter_bad_op(two_comp_graph):
    with pytest.raises(ValueError, match="Invalid comparison"):
        filter_view_by_property(two_comp_graph, "score", 1.0, "~=")


def test_compose_filters(two_comp_graph):
    cond = compose_filters([F.col("layer") == "A", F.col("score") > 3.0], "and")
    assert two_comp_graph.nodes.filter(cond).count() == 2  # d, z


def test_bipartite(two_comp_graph):
    g = bipartite_view(two_comp_graph, "A", "B")
    # all 3 edges are cross-layer; z isolated -> pruned
    assert g.edges.count() == 3
    assert g.nodes.count() == 5


def test_degrees(two_comp_graph):
    got = {(r[2], r[3]): (r[4], r[1], r[0]) for r in
           (tuple(r) for r in degrees(two_comp_graph).select(
               "degree", "in_degree", "layer", "node_id", "out_degree").collect())}
    assert got[("A", "a")] == (1, 0, 1)
    assert got[("B", "b")] == (1, 1, 2)
    assert got[("A", "z")] == (0, 0, 0)


def test_pagerank_sums_below_one(two_comp_graph):
    pr = pagerank(two_comp_graph, n_iterations=3)
    total = pr.agg(F.sum("pagerank")).collect()[0][0]
    assert 0.15 < total <= 1.0 + 1e-9  # dangling mass leaks, never grows


def test_triangles(spark):
    nodes = spark.createDataFrame(
        [("T", x) for x in "abcd"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("T", "a", "T", "b"), ("T", "b", "T", "c"), ("T", "c", "T", "a"),
         ("T", "c", "T", "d")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    assert triangle_count(g).collect()[0][0] == 1


def test_prune_isolated(two_comp_graph):
    g = prune_isolated(two_comp_graph)
    assert g.nodes.count() == 5


def test_merge_onion_base_wins_and_edge_dedup(spark):
    from onionnet_spark.builder import merge_onion
    from onionnet_spark.core import OnionGraph

    base = OnionGraph(
        spark.createDataFrame(
            [("A", "1", "orig"), ("A", "2", "orig")],
            "layer string, node_id string, name string",
        ),
        spark.createDataFrame(
            [("A", "1", "A", "2")],
            "src_layer string, src_id string, dst_layer string, dst_id string",
        ),
    )
    delta = OnionGraph(
        spark.createDataFrame(
            [("A", "1", "overwrite"), ("B", "9", "new")],
            "layer string, node_id string, name string",
        ),
        spark.createDataFrame(
            [
                ("A", "1", "A", "2"),   # dup of base edge -> dropped
                ("A", "1", "B", "9"),   # new valid edge
                ("A", "1", "C", "404"),  # dangling endpoint -> dropped
            ],
            "src_layer string, src_id string, dst_layer string, dst_id string",
        ),
    )
    m = merge_onion(base, delta)
    nodes = {(r["layer"], r["node_id"], r["name"]) for r in m.nodes.collect()}
    assert nodes == {("A", "1", "orig"), ("A", "2", "orig"), ("B", "9", "new")}
    edges = {
        (r["src_layer"], r["src_id"], r["dst_layer"], r["dst_id"])
        for r in m.edges.collect()
    }
    assert edges == {("A", "1", "A", "2"), ("A", "1", "B", "9")}


def test_merge_onion_folds_shuffled_batches_to_one_shot_build(spark):
    # out-of-order batches with cross-batch duplicate edges, each
    # grown on its own and merged into the running graph, must equal
    # one grow_onion over all of them
    import random

    from onionnet_spark.builder import merge_onion
    from onionnet_spark.core import OnionGraph

    rng = random.Random(7)
    uniq = [
        ("L%d" % (i % 3), str(i), "L%d" % ((i + 1) % 3), str(i + 1), float(i % 10))
        for i in range(60)
    ]
    # duplicates of half the edges carry identical props, so which
    # copy survives cannot change the result
    rows = uniq + [uniq[i] for i in range(0, 60, 2)]
    rng.shuffle(rows)
    schema = (
        "src_layer string, src_id string, dst_layer string, dst_id string, w double"
    )

    def grow(edge_rows):
        e = spark.createDataFrame(edge_rows, schema)
        n = e.selectExpr("src_layer AS layer", "src_id AS node_id").unionByName(
            e.selectExpr("dst_layer AS layer", "dst_id AS node_id")
        )
        return grow_onion(n, e, edge_prop_cols=["w"], validate_endpoints=False)

    want = grow(rows)
    g = OnionGraph(
        spark.createDataFrame([], "layer string, node_id string"),
        spark.createDataFrame([], schema),
    )
    for b in range(4):
        m = merge_onion(g, grow(rows[b::4]))
        # cut each step's lineage so the fold tests merge semantics,
        # not plan growth across merges
        g = OnionGraph(m.nodes.localCheckpoint(), m.edges.localCheckpoint())

    def node_set(graph):
        return {(r["layer"], r["node_id"]) for r in graph.nodes.collect()}

    def edge_set(graph):
        return {tuple(r) for r in graph.edges.select(
            "src_layer", "src_id", "dst_layer", "dst_id", "w").collect()}

    assert node_set(g) == node_set(want)
    assert edge_set(g) == edge_set(want)
    assert g.edges.count() == 60  # every duplicate collapsed


def test_merge_node_properties_bulk(spark):
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators.properties import (
        merge_node_properties,
        set_edge_property,
    )

    g = grow_onion(
        spark.createDataFrame(
            [("A", "1", 1.0), ("A", "2", 2.0), ("B", "3", 3.0)],
            "layer string, node_id string, score double",
        ),
        spark.createDataFrame(
            [("A", "1", "B", "3", 5.0)],
            "src_layer string, src_id string, dst_layer string, dst_id string, w double",
        ),
        node_prop_cols=["score"],
        edge_prop_cols=["w"],
    )
    updates = spark.createDataFrame(
        [("A", "1", 10.0, "x"), ("B", "3", None, "y"), ("Z", "404", 9.0, "z")],
        "layer string, node_id string, score double, tag string",
    )
    m = merge_node_properties(g, updates)
    got = {(r["layer"], r["node_id"]): (r["score"], r["tag"]) for r in m.nodes.collect()}
    assert got == {
        ("A", "1"): (10.0, "x"),   # updated
        ("A", "2"): (2.0, None),   # untouched, new col NULL
        ("B", "3"): (3.0, "y"),    # NULL update cell keeps old score
    }

    g2 = set_edge_property(g, ("A", "1"), ("B", "3"), "w", 99.0)
    assert g2.edges.collect()[0]["w"] == 99.0


def test_star_cc_long_path(spark, monkeypatch):
    # a 40-node path: star contraction converges in O(log^2 n)
    # rounds, not diameter rounds — and must still be exact. A driver
    # budget of 0 keeps the graph off the driver snapshot.
    from onionnet_spark import core
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.components import connected_components

    monkeypatch.setattr(core, "DRIVER_FRONTIER_MAX", 0)

    n = 40
    nodes = spark.createDataFrame(
        [("P", str(i)) for i in range(n)] + [("P", "iso")],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [("P", str(i), "P", str(i + 1)) for i in range(n - 1)],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    lb = {
        r["node_id"]: r["component"]
        for r in connected_components(OnionGraph(nodes, edges)).collect()
    }
    assert lb["iso"] == "P:iso"
    assert {v for k, v in lb.items() if k != "iso"} == {"P:0"}


def test_connected_components_deep_path_across_parquet_rebase(spark, monkeypatch):
    # a 60-node path in shuffled order with the checkpointer's rebase
    # interval patched down to 2: the contraction rounds cross parquet
    # rebases and must still give one component labelled by the min key
    # (a driver budget of 0 keeps the graph off the driver snapshot)
    import random

    from onionnet_spark import core
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators import components
    from onionnet_spark.operators.ckpt import IterCheckpointer

    monkeypatch.setattr(core, "DRIVER_FRONTIER_MAX", 0)
    rebases = []

    class RebaseEveryOther(IterCheckpointer):
        def __init__(self, **kw):
            super().__init__(rebase_every=2, **kw)

        def cut(self, df, eager=True):
            out = super().cut(df, eager)
            if self._n % self.rebase_every == 0:
                rebases.append(self._n)
            return out

    monkeypatch.setattr(components, "IterCheckpointer", RebaseEveryOther)
    order = [str(i) for i in range(60)]
    random.Random(7).shuffle(order)
    nodes = spark.createDataFrame(
        [("Q", x) for x in order], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("Q", u, "Q", v) for u, v in zip(order, order[1:])],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    got = connected_components(OnionGraph(nodes, edges)).collect()
    assert rebases
    assert len(got) == 60
    assert {r["component"] for r in got} == {"Q:0"}


def _dangling_graph(spark):
    # l:0 and l:4 are edge endpoints missing from the node table; l:0 is
    # the min key of its component, a self-loop and a 2-cycle ride along
    from onionnet_spark.core import OnionGraph

    nodes = spark.createDataFrame(
        [("l", x) for x in "1235679"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("l", u, "l", v) for u, v in ("10", "02", "34", "56", "65", "22", "91")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    return OnionGraph(nodes, edges)


def test_driver_snapshot_matches_spark_engines_on_dangling_endpoints(spark, monkeypatch):
    """Weak components, view_components, pagerank and personalized
    pagerank on the driver snapshot give the Spark engines' labels and
    ranks (a driver budget of 0 runs the Spark engines), also when an
    edge endpoint is missing from the node table."""
    from onionnet_spark import core
    from onionnet_spark.operators.analytics import personalized_pagerank

    def run():
        g = _dangling_graph(spark)
        return (
            sorted(map(tuple, connected_components(g).collect())),
            sorted(map(tuple, view_components(g, 2, "weak").collect())),
            sorted(map(tuple, pagerank(g, 4).collect())),
            sorted(map(tuple, personalized_pagerank(g, [("l", "0"), ("l", "9")], 4).collect())),
        )

    g = _dangling_graph(spark)
    assert g.local_graph() is not None
    local = run()
    monkeypatch.setattr(core, "DRIVER_FRONTIER_MAX", 0)
    assert _dangling_graph(spark).local_graph() is None
    star = run()
    assert local[0] == star[0] == [
        ("l", "1", "l:0"), ("l", "2", "l:0"), ("l", "3", "l:3"), ("l", "5", "l:5"),
        ("l", "6", "l:5"), ("l", "7", "l:7"), ("l", "9", "l:0"),
    ]
    assert local[1] == star[1] == [
        ("l:0", "l", "1", 3), ("l:0", "l", "2", 3), ("l:0", "l", "9", 3),
        ("l:5", "l", "5", 2), ("l:5", "l", "6", 2),
    ]
    for got, want in zip(local[2:], star[2:]):
        assert [r[:2] for r in got] == [r[:2] for r in want]
        assert [r[2] for r in got] == pytest.approx([r[2] for r in want], rel=1e-12)
    # the dangling seed l:0 teleports its mass onward to l:2
    assert dict((r[1], r[2]) for r in local[3])["2"] > 0.5


def test_driver_snapshot_job_counts(spark):
    """Spark jobs per call (op + collect) on a counted small view of a
    persisted graph: weak view_components collects the snapshot (the
    view's edges, whose two induced-edge joins are a job each, and its
    node keys) and its literal result; pagerank on the same instance
    reuses the snapshot and runs only its result's collect."""
    from onionnet_spark.core import OnionGraph

    base = OnionGraph(
        spark.createDataFrame(
            [("A", x) for x in "acdz"] + [("B", x) for x in "be"] + [("C", "q")],
            "layer string, node_id string",
        ),
        spark.createDataFrame(
            [("A", "a", "B", "b"), ("B", "b", "A", "c"), ("A", "d", "B", "e"),
             ("A", "z", "C", "q")],
            "src_layer string, src_id string, dst_layer string, dst_id string",
        ),
    ).persist()
    base.counts()
    g = view_layers(base, ["A", "B"])
    g.counts()
    sc = spark.sparkContext
    got = {}
    for name, op in (
        ("view_components", lambda: view_components(g, 1, "weak")),
        ("pagerank", lambda: pagerank(g)),
    ):
        group = f"snapshot_jobs_{name}"
        sc.setJobGroup(group, name)
        try:
            op().collect()
        finally:
            sc._jsc.clearJobGroup()
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    base.unpersist()
    assert got["view_components"] <= 5 and got["pagerank"] == 1, got


_CKPT_OWNER_SCRIPT = """
import glob, tempfile
from onionnet_spark import core
from onionnet_spark.core import OnionGraph
from onionnet_spark.memo import session_memo
from onionnet_spark.operators import components
from onionnet_spark.operators.ckpt import IterCheckpointer
from onionnet_spark.session import get_spark


class RebaseEveryOther(IterCheckpointer):
    def __init__(self, **kw):
        super().__init__(rebase_every=2, **kw)


components.IterCheckpointer = RebaseEveryOther
core.DRIVER_FRONTIER_MAX = 0  # the star engine, not the driver snapshot


def star_dirs():
    tmp = tempfile.gettempdir()
    return set(glob.glob(f"{tmp}/onionnet_star_*")
               + glob.glob(f"{tmp}/onionnet_ckpt_*/onionnet_star_*"))


def deep_path_cc(spark):
    ids = [str(i) for i in range(40)]
    nodes = spark.createDataFrame([("Q", x) for x in ids],
                                  "layer string, node_id string")
    edges = spark.createDataFrame(
        [("Q", u, "Q", v) for u, v in zip(ids, ids[1:])],
        "src_layer string, src_id string, dst_layer string, dst_id string")
    got = components.connected_components(OnionGraph(nodes, edges)).collect()
    assert {r["component"] for r in got} == {"Q:0"} and len(got) == 40


before = star_dirs()
spark = get_spark("ckpt-owner")
deep_path_cc(spark)
assert star_dirs() - before, "no rebase directory was written"
spark.stop()
spark = get_spark("ckpt-owner-next")
session_memo(spark)  # the new context releases the stopped one's memo
assert not star_dirs() - before, "the released session left its directory"
deep_path_cc(spark)  # this one is left for interpreter exit to remove
print("ckpt-owner-ok")
"""


def test_spark_cc_and_rank_walk_match_oracles(spark, sf_dir, monkeypatch):
    """The registry's components_weak, pagerank and graph_ppr on the
    Spark engines (star contraction, the Spark rank walk), against
    their oracles: a driver budget of 0 keeps every view off the
    driver snapshot. The query graphs are built in a memo of the
    test's own, because a session-memoized view can hold a snapshot
    built at the default budget; call spies check which engine ran."""
    import __spark_entry__ as entry
    from onionnet_spark import core
    from onionnet_spark.memo import Memo
    from onionnet_spark.operators import analytics, components
    from onionnet_spark.queries import graph_queries
    from tests.conftest import duck_to_set

    calls = []

    def spy(module, name):
        fn = getattr(module, name)

        def wrapped(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapped)

    spy(components, "_star_fixpoint")
    spy(components, "_local_components")
    spy(analytics, "_push")
    spy(analytics, "_local_rank_walk")
    monkeypatch.setattr(core, "DRIVER_FRONTIER_MAX", 0)
    memo = Memo()
    monkeypatch.setattr(graph_queries, "session_memo", lambda _spark: memo)
    queries, oracles = entry.queries(), entry.oracle_sql()
    try:
        for key, engine in [
            ("components_weak", "_star_fixpoint"),
            ("pagerank", "_push"),
            ("graph_ppr", "_push"),
        ]:
            calls.clear()
            got = rows_to_set(queries[key](spark, sf_dir))
            assert engine in calls, (key, calls)
            assert not {"_local_components", "_local_rank_walk"} & set(calls), key
            assert got == duck_to_set(sf_dir, oracles[key]), key
    finally:
        memo.release()


def test_rebase_directories_are_removed_by_their_owner(tmp_path):
    """A deep-path CC that crosses parquet rebases writes its rebase
    directory under the session's checkpoint root; releasing the
    session memo removes it, and so does interpreter exit. Runs in a
    subprocess so the suite's session survives."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def star_dirs():
        tmp = tempfile.gettempdir()
        return set(glob.glob(f"{tmp}/onionnet_star_*")
                   + glob.glob(f"{tmp}/onionnet_ckpt_*/onionnet_star_*"))

    before = star_dirs()
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")]),
        ONIONNET_SHUFFLE_PARTITIONS="4",
        ONIONNET_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _CKPT_OWNER_SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ckpt-owner-ok" in out.stdout
    assert not star_dirs() - before, "interpreter exit left a rebase directory"


def test_lpa_communities_stay_within_components(spark):
    # two disjoint triangles: after any number of sync-LPA rounds a
    # node's label must come from its own triangle, and the result
    # must be deterministic across runs
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators.components import (
        label_propagation_communities,
    )

    nodes = spark.createDataFrame(
        [("L", x) for x in "abcdef"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "b", "L", "c"), ("L", "a", "L", "c"),
         ("L", "d", "L", "e"), ("L", "e", "L", "f"), ("L", "d", "L", "f")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    r1 = {r["node_id"]: r["community"] for r in
          label_propagation_communities(g, n_rounds=5).collect()}
    r2 = {r["node_id"]: r["community"] for r in
          label_propagation_communities(g, n_rounds=5).collect()}
    assert r1 == r2  # deterministic
    left = {r1[x] for x in "abc"}
    right = {r1[x] for x in "def"}
    assert all(c.split(":")[1] in "abc" for c in left)
    assert all(c.split(":")[1] in "def" for c in right)


def test_local_clustering_coefficient(spark):
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators.analytics import local_clustering_coefficient

    # triangle abc + pendant d on c: cc(a)=cc(b)=1, cc(c)=1/3, cc(d)=0
    nodes = spark.createDataFrame(
        [("L", x) for x in "abcd"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "b", "L", "c"), ("L", "a", "L", "c"),
         ("L", "c", "L", "d")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    got = {r["node_id"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
           for r in local_clustering_coefficient(g).collect()}
    assert got["a"] == (2, 1, 1.0)
    assert got["b"] == (2, 1, 1.0)
    assert got["c"] == (3, 1, round(1 / 3, 6))
    assert got["d"] == (1, 0, 0.0)


def test_betweenness_path_and_star(spark):
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators.analytics import betweenness_sampled

    # path a-b-c, sources {a, c}: bc(b) = 2 (a->c and c->a both pass b)
    nodes = spark.createDataFrame(
        [("L", x) for x in "abc"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "b", "L", "c")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    got = {r["node_id"]: r["betweenness"] for r in
           betweenness_sampled(g, [("L", "a"), ("L", "c")]).collect()}
    assert got == {"a": 0.0, "b": 2.0, "c": 0.0}

    # star: center m, leaves p q r; source p: paths p->q, p->r via m
    # -> delta(m) = 2; leaves 0
    nodes2 = spark.createDataFrame(
        [("L", x) for x in "mpqr"], "layer string, node_id string"
    )
    edges2 = spark.createDataFrame(
        [("L", "m", "L", x) for x in "pqr"],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g2 = grow_onion(nodes2, edges2)
    got2 = {r["node_id"]: r["betweenness"] for r in
            betweenness_sampled(g2, [("L", "p")]).collect()}
    assert got2 == {"m": 2.0, "p": 0.0, "q": 0.0, "r": 0.0}


def test_node_jaccard_known_values(spark):
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators.analytics import node_jaccard

    nodes = spark.createDataFrame(
        [("L", x) for x in "uvw"] + [("M", x) for x in "xyz"],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [("L", "u", "M", "x"), ("L", "u", "M", "y"),
         ("L", "v", "M", "x"), ("L", "v", "M", "y"),
         ("L", "w", "M", "y"), ("L", "w", "M", "z")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           node_jaccard(g, layer="L").collect()}
    assert got[("u", "v")] == 1.0
    assert got[("u", "w")] == round(1 / 3, 6)
    assert got[("v", "w")] == round(1 / 3, 6)


def test_k_core_peels_tail(spark, monkeypatch):
    # triangle a-b-c (2-core) with a pendant chain c-d-e: the chain
    # must peel away in cascading rounds, the triangle survives
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators import analytics
    from onionnet_spark.operators.analytics import k_core

    nodes = spark.createDataFrame(
        [("L", x) for x in "abcde"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "b", "L", "c"), ("L", "a", "L", "c"),
         ("L", "c", "L", "d"), ("L", "d", "L", "e")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    got = {r["node_id"]: r["core_degree"] for r in k_core(g, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # k=3: nothing survives
    assert k_core(g, k=3).count() == 0
    # a broadcast budget of 1 forces the bulk-round and ledger-reset
    # paths (every round's removal set exceeds it): the delta and
    # fallback strategies must agree exactly
    monkeypatch.setattr(analytics, "BROADCAST_MAX", 1)
    got_bulk = {r["node_id"]: r["core_degree"] for r in k_core(g, k=2).collect()}
    assert got_bulk == got
    assert k_core(g, k=3).count() == 0


def test_k_core_deep_cascade_long_chain(spark, monkeypatch):
    # 30-node path + one triangle at the end: k=2 peeling cascades 29
    # rounds through the chain (one pendant at a time) — exercises
    # many delta rounds and the removed-ledger growth
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators import analytics
    from onionnet_spark.operators.analytics import k_core

    chain = [f"n{i}" for i in range(30)]
    tri = ["t0", "t1", "t2"]
    nodes = spark.createDataFrame(
        [("L", x) for x in chain + tri], "layer string, node_id string"
    )
    chain_edges = [("L", chain[i], "L", chain[i + 1]) for i in range(29)]
    tri_edges = [("L", "t0", "L", "t1"), ("L", "t1", "L", "t2"),
                 ("L", "t0", "L", "t2"), ("L", chain[-1], "L", "t0")]
    edges = spark.createDataFrame(
        chain_edges + tri_edges,
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    monkeypatch.setattr(analytics, "BROADCAST_MAX", 8)
    got = {r["node_id"]: r["core_degree"] for r in k_core(g, k=2).collect()}
    assert got == {"t0": 2, "t1": 2, "t2": 2}


def test_personalized_pagerank_seeds_localize(spark):
    # two disconnected pairs; seeding in one pair must leave the
    # other pair at exactly zero, and total mass stays positive
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators.analytics import personalized_pagerank

    nodes = spark.createDataFrame(
        [("L", x) for x in "abcd"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "b", "L", "a"),
         ("L", "c", "L", "d"), ("L", "d", "L", "c")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    got = {r["node_id"]: r["ppr"] for r in
           personalized_pagerank(g, [("L", "a")], n_iterations=8).collect()}
    assert got["c"] == 0.0 and got["d"] == 0.0
    assert got["a"] > got["b"] > 0.0


def test_personalized_pagerank_repeated_seed_counts_once(spark):
    # a->b->c->a plus a->d: a repeated seed once duplicated the edges
    # it joined, so [a, a] gave two a rows and more total mass
    from onionnet_spark.operators.analytics import personalized_pagerank

    nodes = spark.createDataFrame(
        [("L", x) for x in "abcd"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", u, "L", v) for u, v in ("ab", "bc", "ca", "ad")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    once = sorted(personalized_pagerank(g, [("L", "a")]).collect())
    assert sorted(personalized_pagerank(g, [("L", "a"), ("L", "a")]).collect()) == once
    assert len(once) == 4
    with pytest.raises(ValueError):
        personalized_pagerank(g, [])


def test_triangles_k4(spark):
    from onionnet_spark.operators.analytics import triangle_count

    nodes = spark.createDataFrame(
        [("T", x) for x in "abcd"], "layer string, node_id string"
    )
    # complete graph K4 -> C(4,3) = 4 triangles
    pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    edges = spark.createDataFrame(
        [("T", u, "T", v) for u, v in pairs],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    assert triangle_count(g).collect()[0][0] == 4


def test_k_core_big_wave_after_small_waves_keeps_ledger(spark, monkeypatch):
    # regression: the over-cap "big wave" rebaseline used to filter
    # the edge set against the wave only, resurrecting nodes peeled
    # in EARLIER small rounds (their edges were still in canon).
    # Shape (k=3): a depth-5 binary tree peels ROOT-DOWN — the root
    # (deg 2) goes first, each removal drops its two children to
    # deg 2, so waves double: 1, 2, 4, 8, then 16 > BROADCAST_MAX = 10
    # with 15 earlier-removed nodes on the ledger. Leaves are pinned
    # at deg 3 by two heavy hubs until their parent dies, and the
    # hubs + two companions form the surviving K4.
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators import analytics
    from onionnet_spark.operators.analytics import k_core

    depth = 5
    tree = [f"v{i}" for i in range(1, 2 ** (depth + 1))]  # v1..v63, v1 root
    names = tree + ["H1", "H2", "q0", "q1"]
    edges = []
    for i in range(1, 2 ** depth):  # internal nodes v1..v31
        edges.append(("L", f"v{i}", "L", f"v{2 * i}"))
        edges.append(("L", f"v{i}", "L", f"v{2 * i + 1}"))
    for i in range(2 ** depth, 2 ** (depth + 1)):  # leaves v32..v63
        edges.append(("L", f"v{i}", "L", "H1"))
        edges.append(("L", f"v{i}", "L", "H2"))
    edges += [("L", "H1", "L", "H2"), ("L", "H1", "L", "q0"),
              ("L", "H1", "L", "q1"), ("L", "H2", "L", "q0"),
              ("L", "H2", "L", "q1"), ("L", "q0", "L", "q1")]
    nodes = spark.createDataFrame(
        [("L", x) for x in names], "layer string, node_id string"
    )
    g = grow_onion(
        nodes,
        spark.createDataFrame(
            edges,
            "src_layer string, src_id string, dst_layer string, dst_id string",
        ),
    )
    monkeypatch.setattr(analytics, "BROADCAST_MAX", 10)
    got = {
        r["node_id"]: r["core_degree"]
        for r in k_core(g, k=3, max_iterations=20).collect()
    }
    assert got == {"H1": 3, "H2": 3, "q0": 3, "q1": 3}
