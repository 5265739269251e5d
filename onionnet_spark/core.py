"""Core graph model: a multi-layer graph as a pair of DataFrames.

Reference parity: ``onionnet/core.py:22-111`` (OnionNetGraph) keeps a
graph-tool Graph plus dicts mapping (layer, node_id) <-> vertex index
and dictionary-encodes layers/categorical properties. In a
distributed engine there is no "vertex index"; the node key IS the
pair ``(layer, node_id)`` and every mapping the reference keeps in
Python dicts is either unnecessary (keys are self-describing) or a
first-class DataFrame (dictionary tables, see
``onionnet_spark/functions/encoding.py``).

The composite string key is the canonical node identity: at 10^10+
nodes a 64-bit hash has non-trivial birthday collision probability,
and Tungsten shuffles composite (string, string) keys efficiently.
The layer column has tiny cardinality so it compresses to a
dictionary page in parquet and broadcasts for free. The int-keyed
views (`cached_int_sym`, `cached_int_endpoints`) are derived from it:
xxhash64 of the key, collision-checked once per graph, with the
string-keyed path as the fallback when the check finds a clash.
"""

from __future__ import annotations

import json
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from onionnet_spark.memo import Memo

NODE_KEY = ["layer", "node_id"]
EDGE_KEY = ["src_layer", "src_id", "dst_layer", "dst_id"]

# The one broadcast budget of the iterative operators: a node-keyed
# frame (BFS frontier, labels, ranks, keep-sets) at or under this row
# count is broadcast into the per-round join, so the cached edge side
# is never exchanged or sorted inside the loop (the sort-merge
# alternative re-sorts it every round). ~2M (layer, node_id, value)
# rows stay well under the guide's "few hundred MB is fine" broadcast
# ceiling. Above it the joins shuffle.
BROADCAST_MAX = 2_000_000

# The driver budget, which bounds two uses. (1) The BFS level loop
# (traversal._bfs_levels): a level whose frontier is a driver-side key
# list of at most this many keys runs as one bounded Spark job that
# collects at most this many + 1 edge rows, and the driver dedups
# them. Past it the level runs as Spark rounds. Measured at sf0.1
# (4 vCPU, one level, warm): a driver level costs about as much as a
# Spark round at ~10k frontier keys of one edge row each, and at ~5k
# keys of five rows each (~26k rows); at 8192 keys and rows the
# driver level took 0.75 s against 0.95 s. (2) The driver snapshot of
# a graph (OnionGraph.local_graph): a graph of at most this many
# nodes and this many edges is collected once, and weak components
# and the unweighted rank walks run on it in Python instead of as
# Spark fixpoints (perfbench `layer_analytics`, 430-node views:
# components 26 -> 5 jobs, PageRank 18 -> 1).
DRIVER_FRONTIER_MAX = 8192


def row_count(df: DataFrame) -> int:
    """The row count of `df` in ONE Spark job: the count of the JVM
    rows of its zero-column projection. (`DataFrame.count()` runs two
    jobs under AQE: its aggregation stage is a job of its own.) A
    persisted or lazily checkpointed `df` is materialized whole by it."""
    return df.select()._jdf.queryExecution().toRdd().count()


def split_node_key(key: str) -> list[Column]:
    """The (layer, node_id) columns of a 'layer:node_id' key column:
    everything after the FIRST ':' is the node_id (ids may contain
    ':'), the split the DuckDB oracles make."""
    layer = F.split_part(F.col(key), F.lit(":"), F.lit(1))
    node_id = F.substring(F.col(key), F.length(layer) + 2, 2**31 - 1)
    return [layer.alias("layer"), node_id.alias("node_id")]


def build_cache(df: DataFrame) -> None:
    """Builds, with full parallelism, every persisted relation that
    `df` reads and that is not built yet: one job each, none when all
    are built. A bounded collect reads through ONE coalesced task,
    which would otherwise build them serially (cold sf0.1 upstream
    view, 4 vCPU: 14.3 s against 9.4 s with the view built first)."""
    jspark = df.sparkSession._jsparkSession
    plan = jspark.sharedState().cacheManager().useCachedData(
        df._jdf.queryExecution().analyzed()
    )
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        rel = leaves.apply(i)
        if rel.getClass().getSimpleName() == "InMemoryRelation":
            cache = rel.cacheBuilder()
            if not cache.isCachedColumnBuffersLoaded():
                cache.cachedColumnBuffers().count()


@lru_cache(maxsize=64)
def _ddl_schema(ddl: str) -> StructType:
    return StructType.fromDDL(ddl)


def literal_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A small driver-side row list as a JVM-only frame with exactly
    the declared `ddl` types: the rows travel as ONE JSON string
    literal that `from_json` parses into an array of structs and
    `inline` explodes, which the optimizer folds to a literal array.

    A Python list passed to `spark.createDataFrame` is a parallelized
    Python RDD in classic PySpark, so every scan of it forks Python
    worker tasks, and BFS seeds and target sets are rescanned at
    every level. The Arrow route depends on a session conf and falls back
    to the same RDD without it. Row values must be JSON-encodable
    (str, int, float, bool, None); an empty list keeps the schema.
    """
    schema = _ddl_schema(ddl)
    names = schema.fieldNames()
    js = json.dumps([dict(zip(names, r)) for r in rows])
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(js), ArrayType(schema)))
    )


class LocalGraph:
    """A graph's driver snapshot (`OnionGraph.local_graph`): its node
    rows as (layer, node_id) and its edge rows as (src_layer, src_id,
    dst_layer, dst_id) tuples, in collect order. Not a tuple, so the
    view memo holds it as one opaque value and walks no row of it."""

    __slots__ = ("nodes", "edges")

    def __init__(self, nodes: list[tuple], edges: list[tuple]):
        self.nodes = nodes
        self.edges = edges


class OnionGraph:
    """A multi-layer property graph.

    Attributes:
        nodes: DataFrame with columns ``layer: string, node_id:
            string`` plus arbitrary property columns. One row per
            node; (layer, node_id) unique.
        edges: DataFrame with columns ``src_layer, src_id,
            dst_layer, dst_id`` (strings) plus property columns.
        directed: semantic flag; edges are always stored as
            (src, dst) rows, undirected algorithms symmetrize.
        edges_unique_undirected: builder-asserted invariant — every
            undirected node pair {u, v} (u != v) appears in AT MOST
            ONE edge row, and there are no self-loops. When true the
            undirected views skip their dedup `distinct()`, which at
            full scale is the single biggest exchange in every
            undirected analytic's plan (it shuffles the whole edge
            table to remove nothing). Set it only when the producer
            guarantees the invariant; edge-subset operations (filters,
            induced subgraphs) preserve it, unions/projections do not.
    """

    def __init__(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        directed: bool = True,
        edges_unique_undirected: bool = False,
    ):
        missing_n = set(NODE_KEY) - set(nodes.columns)
        missing_e = set(EDGE_KEY) - set(edges.columns)
        if missing_n:
            raise ValueError(f"nodes missing key columns: {missing_n}")
        if missing_e:
            raise ValueError(f"edges missing key columns: {missing_e}")
        self.nodes = nodes
        self.edges = edges
        self.directed = directed
        self.edges_unique_undirected = edges_unique_undirected
        # the persisted views, each built once per instance: graph
        # instances are shared session-wide (_entity_graph), so
        # concurrent queries may race a first build
        self._views = Memo()
        self._layer_names: set[str] | None = None

    def __del__(self):
        # Best-effort release of the per-instance cached views when
        # the graph is garbage-collected: transient graphs (filter
        # views built inside one query) would otherwise pin
        # CacheManager storage until session end. Errors are
        # swallowed — at interpreter shutdown the JVM may already be
        # gone.
        try:
            self._views.release()
        except Exception:
            pass

    # ---- basic accessors -------------------------------------------------
    def node_prop_cols(self) -> list[str]:
        return [c for c in self.nodes.columns if c not in NODE_KEY]

    def edge_prop_cols(self) -> list[str]:
        return [c for c in self.edges.columns if c not in EDGE_KEY]

    def layers(self) -> DataFrame:
        """Distinct layer names with node counts (tiny result)."""
        return self.nodes.groupBy("layer").agg(F.count("*").alias("n_nodes"))

    def layer_names(self) -> set[str]:
        """Distinct layer names, collected once per instance (r10):
        every view_layers build validates its arguments against this
        set, and the session-cached base graph used to pay one full
        nodes aggregation + collect per view construction."""
        if self._layer_names is None:
            self._layer_names = {r["layer"] for r in self.layers().collect()}
        return self._layer_names

    def edge_endpoints(self) -> DataFrame:
        """Edges reduced to their key columns (column-pruned scan)."""
        return self.edges.select(*EDGE_KEY)

    def symmetrized_edges(self) -> DataFrame:
        """Undirected view: each edge emitted in both directions, deduped.

        Under the ``edges_unique_undirected`` invariant the union of
        forward + reversed rows is already duplicate-free, so the
        dedup shuffle is skipped entirely.
        """
        e = self.edge_endpoints()
        rev = e.select(
            F.col("dst_layer").alias("src_layer"),
            F.col("dst_id").alias("src_id"),
            F.col("src_layer").alias("dst_layer"),
            F.col("src_id").alias("dst_id"),
        )
        out = e.unionByName(rev)
        return out if self.edges_unique_undirected else out.distinct()

    def cached_symmetrized(self) -> DataFrame:
        """``symmetrized_edges()``, persisted once per graph instance.

        Every undirected neighborhood analytic (weak CC, LPA,
        node-Jaccard, betweenness, ego stats, closeness) starts from
        exactly this view; sharing one materialization amortizes the
        symmetrize (and, without the uniqueness invariant, its dedup
        exchange) across all of them and across iterations within
        one of them.
        """
        # persist, not a lazy localCheckpoint: tasks probe the block
        # cache BEFORE computing, so multiple uses of this view inside
        # one job share the first materialization (a lazy checkpoint
        # replays the subtree per use — measured 10x slowdown on
        # triangle counting). The session-lifetime CacheManager pin
        # for throwaway graph instances is released by __del__.
        return self._views.get(
            "sym", lambda: self.symmetrized_edges().persist()
        )

    def cached_int_sym(self) -> tuple[DataFrame, DataFrame] | None:
        """Symmetrized edges re-keyed to 64-bit node ids, for
        whole-graph BFS interiors: (sym_idx(s, d), nodes_idx(layer,
        node_id, idx)), both persisted once per instance.

        The id is xxhash64(layer, node_id) — NOT a dictionary index
        (row_number would serialize through one window task;
        monotonically_increasing_id is recompute-unstable) — and is
        COLLISION-CHECKED once at build: one aggregation compares
        count vs count_distinct over the node table and the method
        returns None on a clash, so callers fall back to the exact
        string-keyed path and results can never be silently merged.
        At bench scale (~10^6 nodes) the clash probability is ~1e-8;
        at the 10^10+ scale where birthday collisions become real
        (the reason core keys are composite strings, see module
        docstring) the check fires and the fallback runs.

        Worth it because a sym-BFS level shuffles and broadcasts the
        frontier expansion keyed by node: an 8-byte long vs two
        strings cuts the exchanged bytes ~3x and the dedup/anti-join
        hash compares to single-word ops.
        """
        nidx = self._int_nodes()
        if nidx is None:
            return None

        def build():
            e = self.edge_endpoints().select(
                F.xxhash64("src_layer", "src_id").alias("s"),
                F.xxhash64("dst_layer", "dst_id").alias("d"),
            )
            rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
            sym = e.unionByName(rev)
            if not self.edges_unique_undirected:
                sym = sym.distinct()
            return sym.persist()

        return self._views.get("int_sym", build), nidx

    def _int_nodes(self) -> DataFrame | None:
        """The collision-checked xxhash64 node index shared by every
        int-keyed view (cached_int_sym / cached_int_endpoints), or
        None when the 64-bit keying clashes on this node set or an
        edge endpoint is missing from it. Int levels map back to
        string keys through this index, so a dangling endpoint would
        vanish from the result: such a graph takes the string keying,
        like a clash."""

        def build():
            nodes_idx = self.nodes.select(
                "layer", "node_id", F.xxhash64("layer", "node_id").alias("idx")
            ).persist()
            chk = nodes_idx.agg(
                F.count("*").alias("n"), F.count_distinct("idx").alias("d")
            ).collect()[0]
            ends = self.edge_endpoints()
            ends = ends.select(F.xxhash64("src_layer", "src_id").alias("idx")).union(
                ends.select(F.xxhash64("dst_layer", "dst_id").alias("idx"))
            )
            idx = nodes_idx.select("idx")
            # the dangling endpoints are counted, not taken: `take(1)` on
            # an empty result scans partition batch after batch, one job
            # per batch
            if chk["n"] != chk["d"] or row_count(
                ends.join(
                    F.broadcast(idx) if chk["n"] <= BROADCAST_MAX else idx,
                    on="idx",
                    how="left_anti",
                )
            ):
                nodes_idx.unpersist()
                return None
            return nodes_idx

        return self._views.get("int_nodes", build)

    def cached_int_endpoints(
        self, direction: str = "downstream"
    ) -> tuple[DataFrame, DataFrame] | None:
        """Directed edge endpoints re-keyed to the collision-checked
        64-bit node ids, oriented for `direction` ('downstream'
        follows src->dst, 'upstream' the reverse): (edges(s, d),
        nodes_idx(layer, node_id, idx)), persisted once per instance.
        None when the keying collided (see cached_int_sym) — callers
        must fall back to the exact string-keyed path.
        """
        if direction not in ("downstream", "upstream"):
            raise ValueError("direction must be 'upstream' or 'downstream'")
        nidx = self._int_nodes()
        if nidx is None:
            return None
        s, d = ("src", "dst") if direction == "downstream" else ("dst", "src")
        # _int_nodes returns None when an edge endpoint is missing
        # from the node table, so every endpoint hashed here maps back
        # through the index.
        e = self._views.get(
            f"int_{direction}",
            lambda: self.edge_endpoints()
            .select(
                F.xxhash64(f"{s}_layer", f"{s}_id").alias("s"),
                F.xxhash64(f"{d}_layer", f"{d}_id").alias("d"),
            )
            .persist(),
        )
        return e, nidx

    def cached_weighted(self, weight_col: str) -> DataFrame:
        """Edge endpoints with `weight_col` cast to double as column w,
        persisted once per graph instance and weight column: weighted
        SSSP (both arms of a weighted on-shortest-path, repeated calls)
        and the weighted rank walk read one build, which `unpersist()`
        releases."""
        return self._views.get(
            ("weighted", weight_col),
            lambda: self.edges.select(
                *EDGE_KEY, F.col(weight_col).cast("double").alias("w")
            ).persist(),
        )

    def canonical_edges(self) -> DataFrame:
        """Undirected canonical edge list (a, b): 'layer:node_id'
        string keys with a < b, self-loops dropped, one row per
        undirected pair — persisted once per graph instance because
        every pair-oriented analytic (triangles, clustering
        coefficient, k-core, coreness, k-truss, matching) starts
        from exactly this projection. Under the
        ``edges_unique_undirected`` invariant the dedup `distinct()`
        (a full shuffle of the edge table that removes nothing on
        builder output) is skipped.
        """

        def build():
            a_key = F.concat_ws(":", "src_layer", "src_id")
            b_key = F.concat_ws(":", "dst_layer", "dst_id")
            e = (
                self.edge_endpoints()
                .select(
                    F.when(a_key < b_key, a_key).otherwise(b_key).alias("a"),
                    F.when(a_key < b_key, b_key).otherwise(a_key).alias("b"),
                )
                .filter(F.col("a") != F.col("b"))
            )
            if not self.edges_unique_undirected:
                e = e.distinct()
            # persist: see cached_symmetrized
            return e.persist()

        return self._views.get("canonical", build)

    def canonical_degrees(self) -> DataFrame:
        """Undirected degree per node key over ``canonical_edges()``:
        DataFrame(n, d). Persisted per instance — the k-core peel
        baseline, triangle orientation, and clustering coefficient
        all start from exactly this aggregation.
        """

        def build():
            canon = self.canonical_edges()
            # persist: see cached_symmetrized
            return (
                canon.select(F.col("a").alias("n"))
                .unionByName(canon.select(F.col("b").alias("n")))
                .groupBy("n")
                .agg(F.count("*").alias("d"))
                .persist()
            )

        return self._views.get("canonical_deg", build)

    # ---- invariants ------------------------------------------------------
    def persist(self) -> "OnionGraph":
        self.nodes = self.nodes.persist()
        self.edges = self.edges.persist()
        return self

    def unpersist(self) -> "OnionGraph":
        self.nodes.unpersist()
        self.edges.unpersist()
        self._views.release()
        return self

    def counts(self) -> tuple[int, int]:
        """(node count, edge count); the node count also seeds
        `cached_n_nodes`, so a view already counted pays no second
        count job."""
        self._n_nodes = row_count(self.nodes)
        return self._n_nodes, row_count(self.edges)

    def cached_n_nodes(self) -> int:
        """Node count, computed once per graph instance.

        Iterative operators use it to decide whether node-keyed
        state tables (labels, ranks, contributions — all bounded by
        |V| rows) fit the broadcast budget: under the threshold the
        per-round merge joins build a broadcast hash relation and the
        big cached side (edges) is never exchanged or sorted; over it
        they fall back to shuffle joins. The count itself is one
        cheap job against the (persisted) node table.
        """
        if not hasattr(self, "_n_nodes"):
            self._n_nodes = row_count(self.nodes)
        return self._n_nodes

    def local_graph(self) -> LocalGraph | None:
        """The graph's node keys and edge endpoint rows on the driver,
        when both fit DRIVER_FRONTIER_MAX; None otherwise. Built once
        per instance: the node count first (`cached_n_nodes`), then ONE
        bounded collect of at most DRIVER_FRONTIER_MAX + 1 edge rows
        through one partition (`limit` over many partitions scans them
        batch after batch, a job each) and one node-key collect. An
        unbuilt persisted relation under the edges is built in
        parallel first (`build_cache`)."""

        def build():
            if self.cached_n_nodes() > DRIVER_FRONTIER_MAX:
                return None
            build_cache(self.edges)
            edges = (
                self.edge_endpoints()
                .coalesce(1)
                .limit(DRIVER_FRONTIER_MAX + 1)
                .collect()
            )
            if len(edges) > DRIVER_FRONTIER_MAX:
                return None
            nodes = self.nodes.select(*NODE_KEY).collect()
            return LocalGraph(list(map(tuple, nodes)), list(map(tuple, edges)))

        return self._views.get("local", build)

    def cached_endpoints(self, direction: str = "downstream") -> DataFrame:
        """Column-pruned edge endpoints oriented for `direction`,
        persisted once per graph instance — iterative traversals
        (BFS levels, both arms of on-shortest-path) re-scan this
        cache instead of re-materializing the projection per call.
        """
        if direction not in ("downstream", "upstream"):
            raise ValueError("direction must be 'upstream' or 'downstream'")

        def build():
            e = self.edge_endpoints()
            if direction == "upstream":
                e = e.select(
                    F.col("dst_layer").alias("src_layer"),
                    F.col("dst_id").alias("src_id"),
                    F.col("src_layer").alias("dst_layer"),
                    F.col("src_id").alias("dst_id"),
                )
            # persist: see cached_symmetrized
            return e.persist()

        return self._views.get(direction, build)

    def create_views(self, prefix: str = "onion_") -> tuple[str, str]:
        """Expose the graph to the SQL surface: temp views
        '{prefix}nodes' and '{prefix}edges', so any engine operation
        can equally be written as ``spark.sql(...)`` — the DataFrame
        and SQL programs compile to the same Catalyst plans.
        """
        n, e = f"{prefix}nodes", f"{prefix}edges"
        self.nodes.createOrReplaceTempView(n)
        self.edges.createOrReplaceTempView(e)
        return n, e

    def node_key_col(self) -> "F.Column":
        """Canonical single-string node label 'layer:node_id'.

        Mirrors create_node_label_property (reference
        property_manager.py:156-177).
        """
        return F.concat_ws(":", F.col("layer"), F.col("node_id"))
