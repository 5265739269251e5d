"""Seeded op lists and their execution through the OnionNet facade.

An op list is a pure function of (workload, seed, generated tables): a
fixed per-round sequence of op shapes (kind, and for searches depth and
direction, and for a layer view its layer set), with start nodes, hub
layers, thresholds, layer pairs and delta batches drawn from the seed. Keeping the shapes fixed and seeding
only their arguments makes runs of different seeds do comparable work
while no two seeds ask the same questions.

Each op is one call into one layer module (``builder``, ``traversal``,
``filters``, ``components``, ``analytics`` or ``properties``), timed
together with the action that materializes its result.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from datagen import split_orders
from onionnet_spark.facade import OnionNet
from onionnet_spark.operators import analytics
from onionnet_spark.sources import tpch_graph
from oracle import Oracle, key_digest, pagerank, weak_components

# kind -> layer module the call lands in
LAYER_OF = {
    "search": "traversal", "shortest": "traversal",
    "view": "filters", "filter_prop": "filters", "bipartite": "filters",
    "components": "components",
    "pagerank": "analytics",
    "lookup": "properties", "export": "properties", "set_prop": "properties",
    "rebuild": "builder", "grow": "builder",
}
# kind -> latency class reported in the detail line
CLASS_OF = {
    "search": "search", "shortest": "shortest",
    "view": "view", "filter_prop": "view", "bipartite": "view", "export": "view",
    "components": "fixpoint", "pagerank": "fixpoint",
    "grow": "grow",
}

# layer_analytics cycles through these in order: the components of a view
# cost more CPU the more layers it has, and a run of the default length
# is one round, so a seeded choice would make runs of different seeds
# differ in work rather than in inputs
ANALYTIC_VIEWS = [
    ["region", "nation", "customer", "supplier"],
    ["orders", "customer", "nation"],
    ["customer", "nation", "region"],
    ["supplier", "nation", "region"],
]
BIPARTITE_PAIRS = [
    ("orders", "customer"), ("customer", "nation"), ("supplier", "nation"), ("part", "lineitem"),
]
ROUNDS = 20  # far more than one timed run consumes
# grow_merge: share of orders in the set-up graph, and merges applied to
# one graph before it is rebuilt from its sources. A merge's plan grows
# with every earlier merge (the third consecutive merge of this input
# exhausts a 4 GiB driver while printing its plan), so deeper chains
# cannot run in a steady loop.
BASE_SHARE = 0.8
MERGES_PER_GRAPH = 2


def _ids(tables: dict[str, pd.DataFrame]) -> dict[str, np.ndarray]:
    return {
        "customer": tables["customer"]["c_custkey"].to_numpy(),
        "orders": tables["orders"]["o_orderkey"].to_numpy(),
        "part": tables["part"]["p_partkey"].to_numpy(),
        "supplier": tables["supplier"]["s_suppkey"].to_numpy(),
        "nation": tables["nation"]["n_nationkey"].to_numpy(),
        "region": tables["region"]["r_regionkey"].to_numpy(),
    }


def _search(start: list[str], k: int, direction: str) -> dict:
    return {"kind": "search", "start": start, "k": k, "direction": direction}


def _node(rng, ids, layer: str) -> list[str]:
    return [layer, str(rng.choice(ids[layer]))]


def _lookup(rng, ids) -> dict:
    layer = ["customer", "orders", "part", "supplier"][rng.integers(4)]
    return {"kind": "lookup", "node": _node(rng, ids, layer)}


def ego_search_ops(rng, tables, deltas) -> list[list[dict]]:
    """Per round, all over the one graph built in set-up: a 2-hop bi
    search from a customer or an order, a vertex lookup, a 3-hop
    downstream search from an order, a 2-hop upstream search from a
    nation or region hub, and on-shortest-path from a customer to the 5
    regions."""
    ids = _ids(tables)
    regions = [["region", str(r)] for r in ids["region"]]
    return [[
        _search(_node(rng, ids, ["customer", "orders"][rng.integers(2)]), 2, "bi"),
        _lookup(rng, ids),
        _search(_node(rng, ids, "orders"), 3, "downstream"),
        _search(_node(rng, ids, ["nation", "region"][rng.integers(2)]), 2, "upstream"),
        {"kind": "shortest", "source": _node(rng, ids, "customer"), "targets": regions},
    ] for _ in range(ROUNDS)]


def layer_analytics_ops(rng, tables, deltas) -> list[list[dict]]:
    """Per round: a fresh view instance of the next layer subset, its
    weak components, PageRank and an edge export; on the whole graph, a
    pruned property filter and a bipartite view of a seeded layer pair.
    No traversal."""
    vals = tables["customer"]["c_acctbal"].to_numpy()
    rounds = []
    for i in range(ROUNDS):
        view = ANALYTIC_VIEWS[i % len(ANALYTIC_VIEWS)]
        rounds.append([
            {"kind": "view", "layers": view},
            {"kind": "components", "layers": view, "threshold": int(rng.integers(1, 4))},
            {"kind": "pagerank", "layers": view},
            {"kind": "filter_prop", "threshold": float(np.round(np.quantile(
                vals, rng.uniform(0.3, 0.7)), 2))},
            {"kind": "bipartite",
             "pair": list(BIPARTITE_PAIRS[rng.integers(len(BIPARTITE_PAIRS))])},
            {"kind": "export", "layers": view},
        ])
    return rounds


def grow_merge_ops(rng, tables, deltas) -> list[list[dict]]:
    """Per round: merge one seeded delta batch of orders (rebuilding the
    graph from its set-up sources every MERGES_PER_GRAPH merges), then
    set a customer property and read after the write: one search from a
    customer of the batch and one pruned property filter."""
    ids = _ids(tables)
    vals = tables["customer"]["c_acctbal"].to_numpy()
    rounds = []
    for i, delta in enumerate(deltas):
        buyers = delta["orders"]["o_custkey"].to_numpy()
        rnd = [{"kind": "rebuild"}] if i and i % MERGES_PER_GRAPH == 0 else []
        rnd += [
            {"kind": "grow", "batch": i},
            {"kind": "set_prop", "node": _node(rng, ids, "customer"),
             "value": float(np.round(rng.uniform(-999.99, 9999.99), 2))},
            _search(["customer", str(rng.choice(buyers))], 2, "bi"),
            {"kind": "filter_prop", "threshold": float(np.round(np.quantile(
                vals, rng.uniform(0.3, 0.7)), 2))},
        ]
        rounds.append(rnd)
    return rounds


WORKLOADS = {
    "ego_search": ego_search_ops,
    "layer_analytics": layer_analytics_ops,
    "grow_merge": grow_merge_ops,
}


def inputs(workload: str, seed: int, tables) -> tuple[dict, list[dict]]:
    """(tables the set-up graph is built from, delta batches)."""
    if workload != "grow_merge":
        return tables, []
    return split_orders(tables, seed, BASE_SHARE, ROUNDS)


def make_ops(workload: str, seed: int, tables, deltas) -> list[list[dict]]:
    """The workload's op list as rounds of ops."""
    return WORKLOADS[workload](np.random.default_rng([seed, 2]), tables, deltas)


def digest(ops: list[list[dict]], tables: dict[str, pd.DataFrame]) -> str:
    """Digest of the op list and the generated inputs it runs on."""
    h = hashlib.sha256(json.dumps(ops, sort_keys=True).encode())
    for name in sorted(tables):
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(tables[name], index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


# ---- execution -----------------------------------------------------------
def write_sources(tables: dict[str, pd.DataFrame], deltas: list[dict], root: str) -> None:
    """Write the set-up tables to ``root/<table>.parquet`` and delta batch
    ``i`` to ``root/delta<i>/<table>.parquet``: the graph is loaded from
    files, as users load it."""
    for d, frames in [(root, tables)] + [
        (os.path.join(root, f"delta{i}"), delta) for i, delta in enumerate(deltas)
    ]:
        os.makedirs(d, exist_ok=True)
        for name, df in frames.items():
            df.to_parquet(os.path.join(d, f"{name}.parquet"), index=False)


def read_sources(spark, root: str) -> dict:
    return {
        f.removesuffix(".parquet"): spark.read.parquet(os.path.join(root, f))
        for f in sorted(os.listdir(root)) if f.endswith(".parquet")
    }


def build(spark, src: str) -> OnionNet:
    """Parquet sources -> facade grow_onion -> persisted, materialized graph."""
    frames = read_sources(spark, src)
    net = OnionNet()
    net.grow_onion(
        tpch_graph.node_frames(frames),
        tpch_graph.edge_frames(frames),
        node_prop_cols=["name", "val"],
        edge_prop_cols=["etype", "weight"],
        drop_duplicates=False,  # generated keys are unique
        validate_endpoints=False,  # and referentially intact
    )
    # the same builder-asserted invariant tpch_graph.build_graph sets
    net.graph.edges_unique_undirected = True
    net.graph.persist().counts()
    return net


def fingerprint(graph) -> tuple[int, int, int, int]:
    """(nodes, edges, node-key checksum, edge-key checksum): one
    aggregation per table, comparable with ``oracle.fingerprint``."""
    def agg(df, cols):
        row = df.agg(
            F.count("*"),
            F.sum(F.crc32(F.concat_ws("\x1f", *cols).cast("binary"))),
        ).collect()[0]
        return row[0], row[1] or 0

    n, nh = agg(graph.nodes, ["layer", "node_id"])
    e, eh = agg(graph.edges, ["src_layer", "src_id", "dst_layer", "dst_id"])
    return n, e, nh, eh


class Session:
    """Runs ops against one OnionNet; keeps the round's current view."""

    def __init__(self, spark, net: OnionNet, src: str):
        self.spark = spark
        self.net = net
        self.view = None
        self._src = src
        self._persisted = net.graph
        # zero-row frames for the dimension tables a delta batch lacks
        self._empty = {
            name: df.limit(0) for name, df in read_sources(spark, src).items()
        } if os.path.isdir(os.path.join(src, "delta0")) else {}

    def _swap(self, graph) -> tuple[int, int, int, int]:
        """Persist and materialize ``graph`` as the session graph, then
        release the previously persisted one."""
        self.net.graph = graph.persist()
        result = fingerprint(graph)
        self._persisted.unpersist()
        self._persisted = graph
        return result

    def run(self, op: dict):
        """Execute ``op`` and return its materialized, comparable result."""
        k = op["kind"]
        if k == "search":
            df = self.net.search(tuple(op["start"]), op["k"], op["direction"])
            return {(r[0], r[1], int(r[2])) for r in df.select("layer", "node_id", "dist").collect()}
        if k == "shortest":
            df = self.net.compute_on_shortest(
                tuple(op["source"]), [tuple(t) for t in op["targets"]]
            )
            return {tuple(r) for r in df.collect()}
        if k == "lookup":
            return self.net.get_vertex_by_name_tuple(*op["node"])
        if k == "view":
            self.view = OnionNet(self.net.view_layers(op["layers"]))
            return self.view.graph.counts()
        if k == "filter_prop":
            g = self.net.filter_view_by_property(
                "val", op["threshold"], ">", prune_isolated=True
            )
            return g.counts()
        if k == "bipartite":
            return self.net.create_bipartite_gv(*op["pair"]).counts()
        if k == "components":
            df = self.view.view_components(op["threshold"], "weak")
            return {tuple(r) for r in df.select(
                "layer", "node_id", "component", "component_size").collect()}
        if k == "pagerank":
            df = analytics.pagerank(self.view.graph)
            return {f"{r[0]}:{r[1]}": r[2] for r in df.collect()}
        if k == "export":
            rows = [tuple(r) for r in self.view.export_info("e").collect()]
            return len(rows), key_digest(rows)
        if k == "set_prop":
            layer, node_id = op["node"]
            self.net.set_vertex_property(layer, node_id, "val", op["value"])
            return self.net.get_vertex_by_name_tuple(layer, node_id)
        if k == "rebuild":
            return self._swap(build(self.spark, self._src).graph)
        if k == "grow":
            frames = {
                **self._empty,
                **read_sources(self.spark, os.path.join(self._src, f"delta{op['batch']}")),
            }
            self.net.grow_onion(
                tpch_graph.node_frames(frames), tpch_graph.edge_frames(frames),
                node_prop_cols=["name", "val"], edge_prop_cols=["etype", "weight"],
                drop_duplicates=False,
            )
            return self._swap(self.net.graph)
        raise ValueError(f"unknown op kind {k}")


def _split_key(key: str) -> tuple[str, str]:
    layer, _, node_id = key.partition(":")
    return layer, node_id


def expected(oracle: Oracle, op: dict):
    """The reference answer for ``op`` in the comparable form
    ``Session.run`` returns. Ops that write update the oracle's graph,
    so ops must be checked in the order they ran."""
    k = op["kind"]
    if k == "rebuild":
        oracle.reset()
        return oracle.fingerprint()
    if k == "grow":
        oracle.grow(op["batch"])
        return oracle.fingerprint()
    if k == "set_prop":
        oracle.set_property(*op["node"], "val", op["value"])
        return oracle.lookup(*op["node"])
    if k == "search":
        return oracle.khop(tuple(op["start"]), op["k"], op["direction"])
    if k == "shortest":
        return oracle.on_shortest(tuple(op["source"]), [tuple(t) for t in op["targets"]])
    if k == "lookup":
        return oracle.lookup(*op["node"])
    if k == "view":
        return oracle.view_counts(op["layers"])
    if k == "filter_prop":
        return oracle.filter_counts(op["threshold"])
    if k == "bipartite":
        return oracle.bipartite_counts(*op["pair"])
    if k == "export":
        return oracle.export_edges(op["layers"])
    keys, edges = oracle.view_graph(op["layers"])
    if k == "components":
        label = weak_components(keys, edges)
        size = pd.Series(list(label.values())).value_counts().to_dict()
        return {
            (*_split_key(v), c, size[c])
            for v, c in label.items() if size[c] >= op["threshold"]
        }
    if k == "pagerank":
        return pagerank(keys, edges)
    raise ValueError(f"unknown op kind {k}")


def matches(op: dict, got, want) -> bool:
    if op["kind"] == "pagerank":
        return got.keys() == want.keys() and all(
            abs(got[v] - want[v]) <= 1e-12 + 1e-9 * abs(want[v]) for v in want
        )
    return got == want
