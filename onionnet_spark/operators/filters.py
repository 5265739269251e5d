"""Filtered graph views: layers, property predicates, bipartite.

Reference parity: ``onionnet/searcher.py``:
  - view_layers (searcher.py:244-282): vertices of given layers.
  - filter_view_by_property (searcher.py:300-362): predicate on a
    vertex or edge property (==, !=, <, >, <=, >=, in-set), with
    optional prune_isolated.
  - compose_filters (searcher.py:364-411): and/or combination.
  - create_bipartite_gv (searcher.py:413-447): two layers, only
    cross-layer edges, isolated vertices pruned.

graph-tool GraphViews are lazy boolean masks; the Spark-native
equivalent is simply a filtered DataFrame pair — also lazy (nothing
runs until an action), and Catalyst pushes the predicates into the
parquet scan, which a mask-based design could never do.

Edge-induction semantics match GraphView: an edge survives a vertex
filter iff BOTH endpoints survive.
"""

from __future__ import annotations

import operator as _op
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from onionnet_spark.core import BROADCAST_MAX, NODE_KEY, OnionGraph

_OPS = {
    "==": _op.eq,
    "!=": _op.ne,
    "<": _op.lt,
    ">": _op.gt,
    "<=": _op.le,
    ">=": _op.ge,
}

# Members per block in project_bipartite's pair generation: pairs
# inside one block come from one row's array combinations, pairs
# across two blocks of the same via from the cross-block join.
BIPARTITE_BLOCK = 4096


def induced_edges(edges: DataFrame, node_keys: DataFrame) -> DataFrame:
    """Edges whose endpoints BOTH appear in node_keys (two semi-joins)."""
    nk = node_keys.select(*NODE_KEY)
    return edges.join(
        nk.withColumnRenamed("layer", "src_layer").withColumnRenamed("node_id", "src_id"),
        on=["src_layer", "src_id"],
        how="left_semi",
    ).join(
        nk.withColumnRenamed("layer", "dst_layer").withColumnRenamed("node_id", "dst_id"),
        on=["dst_layer", "dst_id"],
        how="left_semi",
    )


def filter_nodes(graph: OnionGraph, condition: Column) -> OnionGraph:
    """Vertex-filtered view with induced edges (vfilt semantics)."""
    nodes = graph.nodes.filter(condition)
    return OnionGraph(
        nodes,
        induced_edges(graph.edges, nodes),
        graph.directed,
        # edge subset: the uniqueness invariant survives filtering
        edges_unique_undirected=graph.edges_unique_undirected,
    )


def filter_edges(graph: OnionGraph, condition: Column, prune: bool = False) -> OnionGraph:
    """Edge-filtered view (efilt semantics); prune drops isolated vertices."""
    g = OnionGraph(
        graph.nodes,
        graph.edges.filter(condition),
        graph.directed,
        edges_unique_undirected=graph.edges_unique_undirected,
    )
    return prune_isolated(g) if prune else g


def prune_isolated(graph: OnionGraph) -> OnionGraph:
    """Drop vertices with no incident edge in the current edge set.

    Reference: the `(out_degree + in_degree) > 0` refilter
    (searcher.py:341,358,443).
    """
    e = graph.edge_endpoints()
    # No .distinct() on the endpoint union: LEFT SEMI already
    # matches-at-least-once, and a pre-dedup would add a full extra
    # aggregation exchange over 2x the edge count.
    touched = e.select(
        F.col("src_layer").alias("layer"), F.col("src_id").alias("node_id")
    ).unionByName(
        e.select(F.col("dst_layer").alias("layer"), F.col("dst_id").alias("node_id"))
    )
    return OnionGraph(
        graph.nodes.join(touched, on=NODE_KEY, how="left_semi"),
        graph.edges,
        graph.directed,
        edges_unique_undirected=graph.edges_unique_undirected,
    )


def property_predicate(
    prop_name: str, target_value: Any, comparison: str = "=="
) -> Column:
    """Build the predicate column filter_view_by_property uses.

    List/tuple/set target -> membership test (searcher.py:332-333);
    otherwise one of the six comparison operators.
    """
    col = F.col(prop_name)
    if isinstance(target_value, (list, tuple, set)):
        return col.isin(*[v for v in target_value])
    if comparison not in _OPS:
        raise ValueError(f"Invalid comparison operator '{comparison}'.")
    return _OPS[comparison](col, F.lit(target_value))


def filter_view_by_property(
    graph: OnionGraph,
    prop_name: str,
    target_value: Any,
    comparison: str = "==",
    dim: str = "v",
    prune: bool = False,
) -> OnionGraph:
    """Reference filter_view_by_property (searcher.py:300-362)."""
    pred = property_predicate(prop_name, target_value, comparison)
    if dim == "v":
        if prop_name not in graph.nodes.columns:
            raise ValueError(f"Vertex property '{prop_name}' does not exist.")
        g = filter_nodes(graph, pred)
        return prune_isolated(g) if prune else g
    if dim == "e":
        if prop_name not in graph.edges.columns:
            raise ValueError(f"Edge property '{prop_name}' does not exist.")
        return filter_edges(graph, pred, prune)
    raise ValueError("Dimension must be 'v' (vertex) or 'e' (edge).")


def compose_filters(conditions: list[Column], mode: str = "and") -> Column:
    """and/or composition of predicate columns (searcher.py:364-411).

    In Spark the composition is itself a Column expression, so the
    whole composite predicate still pushes down to the scan.
    """
    if not conditions:
        raise ValueError("need at least one condition")
    if mode not in ("and", "or"):
        raise ValueError("mode must be 'and' or 'or'")
    out = conditions[0]
    for c in conditions[1:]:
        out = (out & c) if mode == "and" else (out | c)
    return out


def view_layers(graph: OnionGraph, layer_names: list[str] | str) -> OnionGraph:
    """Subgraph of the given layers with induced edges
    (searcher.py:244-282). Raises on unknown layer names like the
    reference."""
    if isinstance(layer_names, str):
        layer_names = [layer_names]
    known = graph.layer_names()
    missing = [ln for ln in layer_names if ln not in known]
    if missing:
        raise ValueError(f"Layer(s) {missing} do not exist.")
    return filter_nodes(graph, F.col("layer").isin(layer_names))


def bipartite_view(graph: OnionGraph, layer1: str, layer2: str) -> OnionGraph:
    """Cross-layer bipartite subgraph (searcher.py:413-447): nodes of
    the two layers, ONLY edges bridging them (either direction),
    isolated vertices pruned."""
    nodes = graph.nodes.filter(F.col("layer").isin([layer1, layer2]))
    cross = graph.edges.filter(
        ((F.col("src_layer") == layer1) & (F.col("dst_layer") == layer2))
        | ((F.col("src_layer") == layer2) & (F.col("dst_layer") == layer1))
    )
    return prune_isolated(OnionGraph(nodes, cross, graph.directed))


def project_bipartite(
    graph: OnionGraph, layer: str, via_layer: str
) -> DataFrame:
    """One-mode projection of a bipartite view: connect two `layer`
    nodes when they share a `via_layer` neighbor (either edge
    direction), weighted by the shared-neighbor count — the standard
    co-membership graph (co-purchase, co-supply, co-affiliation).

    Plan (r11, guide §2.4/§2.5): ONE exchange groups the incidence
    pairs into a sorted per-via membership array (collect_set dedups,
    replacing the old distinct + self-join pair of exchanges); pair
    candidates are then generated join-free from array combinations,
    with each via's members chunked into fixed-size blocks and the
    block rows round-robined across the cluster — a via key is a
    LOW-CARDINALITY hot key (25 nations), so the old equi-join ran
    the whole quadratic fan-out on as many tasks as there are vias;
    the block decomposition salts that generation across
    (n_blocks choose 2) independent tasks per via. A via's full
    membership array rides one row, so cap or drop super-connector
    vias upstream (the export_adjacency caveat) when projecting at
    corpus scale — the blocks bound the explode, not the array.

    When every `layer` node belongs to at most ONE via (checked with
    one scalar aggregate — true of any strict hierarchy, e.g.
    customer->nation), a pair can share at most one via, so n_shared
    is the literal 1 and the final pair-keyed groupBy — the only
    exchange proportional to the OUTPUT — is skipped entirely. The
    general multi-membership fallback keeps the exact groupBy count.

    Returns (id_a, id_b, n_shared) with id_a < id_b.
    """
    block = BIPARTITE_BLOCK
    e = graph.edge_endpoints()
    inc = (
        e.filter(
            (F.col("src_layer") == layer) & (F.col("dst_layer") == via_layer)
        )
        .select(F.col("src_id").alias("id"), F.col("dst_id").alias("via"))
        .union(
            e.filter(
                (F.col("dst_layer") == layer) & (F.col("src_layer") == via_layer)
            ).select(F.col("dst_id").alias("id"), F.col("src_id").alias("via"))
        )
    )
    # persisted in the graph's view memo, which owns and releases it;
    # the lazy result keeps its lineage, so it never reads a released
    # block
    mem = graph._views.get(
        ("bipartite_members", layer, via_layer),
        lambda: inc.groupBy("via")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .persist(),
    )
    st = (
        mem.select(F.explode("ids").alias("id"))
        .agg(F.count("*").alias("m"), F.count_distinct("id").alias("d"))
        .first()
    )
    single_membership = st["m"] == st["d"]
    spark = mem.sparkSession
    nparts = spark.sparkContext.defaultParallelism
    blk = mem.select(
        "via",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(ids)-1) div {block}), "
                f"i -> slice(ids, i*{block}+1, {block}))"
            )
        ).alias("bi", "blk"),
    ).repartition(nparts)
    within = blk.select(
        F.explode(
            F.expr(
                "flatten(transform(blk, (x, i) -> "
                "transform(slice(blk, i + 2, size(blk)), "
                "y -> struct(x AS id_a, y AS id_b))))"
            )
        ).alias("p")
    )
    xb = blk.select("via", F.col("bi").alias("xi"), F.col("blk").alias("xblk"))
    yb = blk.select("via", F.col("bi").alias("yi"), F.col("blk").alias("yblk"))
    # yb carries each membership once, so the collected total bounds it
    if st["m"] <= BROADCAST_MAX:
        yb = F.broadcast(yb)
    cross = (
        xb.join(yb, on="via")
        .filter(F.col("xi") < F.col("yi"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(xblk, a -> "
                    "transform(yblk, b -> struct(a AS id_a, b AS id_b))))"
                )
            ).alias("p")
        )
    )
    pairs = within.unionByName(cross).select("p.id_a", "p.id_b")
    if single_membership:
        return pairs.select(
            "id_a", "id_b", F.lit(1).cast("bigint").alias("n_shared")
        )
    return pairs.groupBy("id_a", "id_b").agg(
        F.count("*").cast("bigint").alias("n_shared")
    )
