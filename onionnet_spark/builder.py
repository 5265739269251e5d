"""Graph construction from node/edge DataFrames.

Reference parity: ``onionnet/builder.py:37-255`` (grow_onion,
add_vertices_from_dataframe, add_edges_from_dataframe). The
reference validates required columns, drops NA keys, drops duplicate
nodes/edges, maps (layer, node_id) to vertex indices through driver
dicts, and silently skips edges whose endpoints are unknown
(builder.py:219-224).

Spark-first translation: all of that is column selection + distinct
+ dropna + a left-semi join against the node set for endpoint
validation. No driver-side mapping dict exists (the key is the
identity); Catalyst prunes/pushes everything. Endpoint validation is
two semi-joins (`filters.induced_edges`, the vertex filter's step)
that AQE turns into broadcast joins whenever the node side is small;
for a 100 TB edge list vs a large node set it is a shuffled
semi-join on the node key — exactly the shuffle you'd pay once at
build time, after which both sides can be written bucketed by the key
for co-located downstream joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onionnet_spark.core import EDGE_KEY, NODE_KEY, OnionGraph
from onionnet_spark.operators.filters import induced_edges


def grow_onion(
    df_nodes: DataFrame,
    df_edges: DataFrame,
    node_prop_cols: list[str] | None = None,
    edge_prop_cols: list[str] | None = None,
    drop_na: bool = True,
    drop_duplicates: bool = True,
    node_id_col: str = "node_id",
    node_layer_col: str = "layer",
    edge_source_id_col: str = "src_id",
    edge_source_layer_col: str = "src_layer",
    edge_target_id_col: str = "dst_id",
    edge_target_layer_col: str = "dst_layer",
    validate_endpoints: bool = True,
    directed: bool = True,
    fill_na_with: str | None = None,
    string_override: bool = False,
    node_property_types: dict[str, str] | None = None,
    edge_property_types: dict[str, str] | None = None,
) -> OnionGraph:
    """Build an OnionGraph from raw node and edge DataFrames.

    Mirrors reference grow_onion (builder.py:37-110): column
    validation, duplicate removal on the node/edge key, NA handling,
    and (like builder.py:219-224) dropping edges whose endpoints are
    not in the node set.

    NA / typing knobs (reference add_vertices_from_dataframe,
    builder.py:113-176):
      - ``fill_na_with``: when ``drop_na=False``, missing KEY values
        (layer / node_id / edge endpoints) are filled with this value
        instead of dropped — the reference's ``fillna({id_col: ...})``.
      - ``string_override``: force every property column to string
        (the reference's flag that routes all props through the
        categorical/dictionary path).
      - ``node_property_types`` / ``edge_property_types``: explicit
        per-property type overrides ({'score': 'float', 'n': 'int'});
        reference 'int'/'float' map to Spark int/double, any other
        Spark type name is passed through to cast().
    """
    node_prop_cols = node_prop_cols or []
    edge_prop_cols = edge_prop_cols or []

    missing_nodes = set([node_id_col, node_layer_col] + node_prop_cols) - set(df_nodes.columns)
    if missing_nodes:
        raise ValueError(f"Missing node columns: {missing_nodes}")
    missing_edges = set(
        [edge_source_id_col, edge_source_layer_col, edge_target_id_col, edge_target_layer_col]
        + edge_prop_cols
    ) - set(df_edges.columns)
    if missing_edges:
        raise ValueError(f"Missing edge columns: {missing_edges}")

    nodes = df_nodes.select(
        F.col(node_layer_col).cast("string").alias("layer"),
        F.col(node_id_col).cast("string").alias("node_id"),
        *[F.col(c) for c in node_prop_cols],
    )
    edges = df_edges.select(
        F.col(edge_source_layer_col).cast("string").alias("src_layer"),
        F.col(edge_source_id_col).cast("string").alias("src_id"),
        F.col(edge_target_layer_col).cast("string").alias("dst_layer"),
        F.col(edge_target_id_col).cast("string").alias("dst_id"),
        *[F.col(c) for c in edge_prop_cols],
    )

    def _typed(df: DataFrame, props: list[str], types: dict[str, str] | None) -> DataFrame:
        # reference type vocabulary: 'int' / 'float' are numeric
        # graph-tool property types (float == python double); any
        # other name is handed to Spark's cast as-is
        type_map = {"int": "int", "float": "double"}
        for p in props:
            if string_override:
                df = df.withColumn(p, F.col(p).cast("string"))
            elif types and p in types:
                df = df.withColumn(p, F.col(p).cast(type_map.get(types[p], types[p])))
        return df

    nodes = _typed(nodes, node_prop_cols, node_property_types)
    edges = _typed(edges, edge_prop_cols, edge_property_types)

    if drop_na:
        nodes = nodes.dropna(subset=NODE_KEY)
        edges = edges.dropna(subset=EDGE_KEY)
    elif fill_na_with is not None:
        nodes = nodes.fillna(str(fill_na_with), subset=NODE_KEY)
        edges = edges.fillna(str(fill_na_with), subset=EDGE_KEY)

    if drop_duplicates:
        # Keep one row per key. dropDuplicates is a shuffle on the key
        # with map-side partial aggregation — the minimal possible cost.
        nodes = nodes.dropDuplicates(NODE_KEY)
        edges = edges.dropDuplicates(EDGE_KEY)

    if validate_endpoints:
        edges = induced_edges(edges, nodes)

    return OnionGraph(nodes, edges, directed=directed)


def merge_onion(base: OnionGraph, delta: OnionGraph) -> OnionGraph:
    """Incrementally grow a graph: the reference's repeated
    grow_onion calls onto an existing OnionNetGraph (builder.py:37-110
    re-checks each vertex against the existing key maps and skips
    known ones; builder.py:219-224 skips edges with unknown
    endpoints).

    Semantics:
      - nodes: BASE WINS on key conflict (a re-added node never
        overwrites existing properties, matching the reference's
        skip-existing behavior); genuinely new nodes are appended.
      - edges: delta edges whose (src, dst) key already exists in
        base are dropped; remaining delta edges must have both
        endpoints in the MERGED node set.

    Both arms are anti/semi joins on the node or edge key — at scale
    this is the classic MERGE shape: shuffle-partition both sides by
    the key once (or keep them bucketed) and every arm is co-located.
    """
    new_nodes = delta.nodes.join(base.nodes, on=NODE_KEY, how="left_anti")
    nodes = base.nodes.unionByName(new_nodes, allowMissingColumns=True)

    new_edges = (
        delta.edges.join(base.edges.select(*EDGE_KEY), on=EDGE_KEY, how="left_anti")
        .dropDuplicates(EDGE_KEY)
    )
    new_edges = induced_edges(new_edges, nodes)
    edges = base.edges.unionByName(new_edges, allowMissingColumns=True)
    return OnionGraph(nodes, edges, directed=base.directed)
