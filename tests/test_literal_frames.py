"""Driver-side rows as JVM literal frames (core.literal_frame).

A Python list passed to `spark.createDataFrame` is a parallelized
Python RDD, so every scan of it forks Python worker tasks. The
operators build their seeds, probes, target sets and small result
frames with `literal_frame` instead; these tests pin its types and
that no operator in `operators/` builds a frame from a Python list.
"""

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from onionnet_spark.builder import grow_onion
from onionnet_spark.core import literal_frame
from onionnet_spark.operators.analytics import (
    betweenness_sampled,
    coreness,
    k_core,
    pagerank,
    personalized_pagerank,
    rich_club,
)
from onionnet_spark.operators.components import connected_components, view_components
from onionnet_spark.operators.joins import sorted_neighborhood_pairs
from onionnet_spark.operators.traversal import (
    bfs_distances,
    k_hop,
    multi_source_bfs,
    on_shortest_path,
    on_shortest_path_weighted,
    pseudo_diameter,
    reachable,
    weighted_sssp,
)

from tests.conftest import rows_to_set

DDL = "i int, b bigint, x double, s string"


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_literal_frame_round_trips_types_exactly(spark):
    rows = [
        (1, 2**62 + 1, 0.1 + 0.2, 'quote " and \\ backslash'),
        (-7, -(2**63), 1e-300, "unicode ü € 😀 \n tab\t"),
        (0, 0, -0.5, ""),
        (None, None, None, None),
    ]
    df = literal_frame(spark, rows, DDL)
    assert df.schema == StructType.fromDDL(DDL)
    assert [tuple(r) for r in df.collect()] == rows
    assert "LogicalRDD" not in _plan(df)


def test_literal_frame_empty_keeps_schema(spark):
    df = literal_frame(spark, [], DDL)
    assert df.dtypes == [("i", "int"), ("b", "bigint"), ("x", "double"), ("s", "string")]
    assert df.count() == 0
    assert "LogicalRDD" not in _plan(df)


@pytest.fixture(scope="module")
def weighted_graph(spark):
    # a -> b -> c -> d, a -> c (weight 5); e isolated
    nodes = spark.createDataFrame(
        [("L", x) for x in "abcde"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [
            ("L", "a", "L", "b", 1.0),
            ("L", "b", "L", "c", 1.0),
            ("L", "a", "L", "c", 5.0),
            ("L", "c", "L", "d", 1.0),
        ],
        "src_layer string, src_id string, dst_layer string, dst_id string, "
        "weight double",
    )
    return grow_onion(nodes, edges, edge_prop_cols=["weight"])


@pytest.fixture
def no_list_frames(monkeypatch):
    """Fail any `createDataFrame` call on a Python list or tuple."""
    real = SparkSession.createDataFrame

    def spy(self, data, *args, **kwargs):
        if isinstance(data, (list, tuple)):
            raise AssertionError("frame built from a Python list")
        return real(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)


def test_operators_build_no_frame_from_a_python_list(
    spark, weighted_graph, no_list_frames
):
    g = weighted_graph
    a, d = ("L", "a"), ("L", "d")
    assert rows_to_set(k_hop(g, a, 2, "downstream")) == {
        (0, "L", "a"), (1, "L", "b"), (1, "L", "c"), (2, "L", "d"),
    }
    assert rows_to_set(k_hop(g, d, 2, "upstream")) == {
        (0, "L", "d"), (1, "L", "c"), (2, "L", "a"), (2, "L", "b"),
    }
    assert rows_to_set(
        k_hop(g, ("L", "c"), 1, "bi", include_upstream_children=True)
    ) == {(0, "L", "c"), (1, "L", "d"), (1, "L", "a"), (1, "L", "b")}
    assert rows_to_set(reachable(g, ("L", "b"))) == {
        (0, "L", "b"), (1, "L", "c"), (2, "L", "d"),
    }
    assert {
        r["node_id"] for r in on_shortest_path(g, a, [d]).collect()
    } == {"a", "c", "d"}
    assert rows_to_set(multi_source_bfs(g, [a, d])) == {
        (0, "L", "a", "L:a"), (1, "L", "b", "L:a"), (1, "L", "c", "L:a"),
        (2, "L", "d", "L:a"), (0, "L", "d", "L:d"),
    }
    assert [tuple(r) for r in pseudo_diameter(g, a).collect()] == [
        ("L", "a", "L", "a", 2)
    ]
    assert rows_to_set(weighted_sssp(g, [a])) == {
        (0.0, "L", "a"), (1.0, "L", "b"), (2.0, "L", "c"), (3.0, "L", "d"),
    }
    assert {
        r["node_id"] for r in on_shortest_path_weighted(g, a, [d]).collect()
    } == {"a", "b", "c", "d"}
    assert {r["node_id"] for r in k_core(g, 2).collect()} == {"a", "b", "c"}
    assert [tuple(r) for r in rich_club(g, [1, 2]).orderBy("k").collect()] == [
        (1, 3, 3, 1.0), (2, 1, 0, None),
    ]
    assert personalized_pagerank(g, [a]).count() == 5
    # the driver snapshot's results are literal frames too
    assert g.local_graph() is not None
    assert {r["component"] for r in connected_components(g).collect()} == {"L:a", "L:e"}
    assert rows_to_set(view_components(g, 2, "weak")) == {
        ("L:a", 4, "L", x) for x in "abcd"
    }
    assert pagerank(g).count() == 5
    assert betweenness_sampled(g, [a]).count() == 5
    no_edges = g.canonical_edges().limit(0)
    assert coreness(no_edges).count() == 0
    recs = g.nodes.select("node_id")
    assert sorted_neighborhood_pairs(recs, "node_id", "node_id").count() == 10


def test_unpersist_releases_the_driver_snapshot(spark):
    nodes = spark.createDataFrame([("L", "a"), ("L", "b")], "layer string, node_id string")
    edges = spark.createDataFrame(
        [("L", "a", "L", "b")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    snap = g.local_graph()
    assert sorted(snap.nodes) == [("L", "a"), ("L", "b")]
    assert snap.edges == [("L", "a", "L", "b")]
    assert g.local_graph() is snap  # built once per instance
    g.unpersist()
    assert "local" not in g._views
    assert g.local_graph() is not snap


def test_empty_inputs_return_empty_frames_with_todays_columns(weighted_graph):
    g = weighted_graph
    cases = [
        (on_shortest_path(g, ("L", "a"), []), ["layer", "node_id", "d_f", "d_r"]),
        (multi_source_bfs(g, []), ["sid", "layer", "node_id", "dist"]),
        (bfs_distances(g, []), ["layer", "node_id", "dist"]),
    ]
    for df, cols in cases:
        assert df.columns == cols
        assert df.count() == 0


def test_registry_grids_build_no_frame_from_a_python_list(
    spark, sf_dir, no_list_frames
):
    """The registry keys that join against a small literal grid (a
    seed, thresholds, cut-offs, lags, partition offsets) or return a
    driver-built result build it as a literal frame."""
    from onionnet_spark.functions.corpus import column_correlations
    from onionnet_spark.queries import load_all

    reg = load_all()
    for key in (
        "graph_temporal_reach",
        "dedup_threshold_sweep",
        "vocab_coverage_curve",
        "events_ljung_box",
        "sequence_packing",
        "docs_tree_depth2",
        "embedding_random_projection",
        "embedding_mmr_topk",
    ):
        assert reg[key][0](spark, sf_dir).columns, key
    # fewer than two columns: no pair, the empty result keeps its schema
    one = literal_frame(spark, [(1.0,)], "a double")
    assert column_correlations(one, ["a"]).columns == ["col_a", "col_b", "r"]
