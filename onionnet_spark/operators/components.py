"""Connected components.

Reference parity: ``onionnet/searcher.py:284-298`` (view_components)
delegates to graph-tool label_components and keeps components above
a size threshold.

One Spark weak-CC engine plus strong CC:
  - `connected_components`: alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond"); O(log^2 n) rounds independent of diameter, one
    action per round. It replaced hash-min label propagation, which
    needs diameter + 1 rounds. Measured on the 4-layer entity view
    of the perfbench graph (430 nodes, 425 edges) on 4 vCPU, the
    `view_components` op went from 41 Spark jobs over 5 label rounds
    to 26 jobs over 3 contraction rounds, and its first-call CPU
    from a median of 18.6 to 11.8 CPU-s (16 runs each).
  - `strongly_connected_components`: FW-BW-Trim (trim + forward
    coloring + backward collect).

A graph that fits the driver snapshot (`OnionGraph.local_graph`: at
most core.DRIVER_FRONTIER_MAX nodes and as many edges) skips the star
fixpoint: weak components run union-find in Python over the collected
edge rows, with the same min-key labels, and `view_components` also
counts sizes and applies its threshold there; each returns one literal
frame. On the perfbench views above that op went from 26 Spark jobs
to 5 (the snapshot's two collects and the result's) and from 11.8 to
2.6 CPU-s. Strong components and larger graphs run the Spark engines.

Every iteration checkpoints its state — without that the iterative
self-join plans grow exponentially.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from onionnet_spark.core import (
    BROADCAST_MAX,
    LocalGraph,
    OnionGraph,
    literal_frame,
    split_node_key,
)
from onionnet_spark.operators.ckpt import IterCheckpointer
from onionnet_spark.operators.traversal import _relax


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star contraction round over a distinct
    (a, b) edge set — exactly TWO hash exchanges (one window per
    star; plan shape pinned by tests/test_plans.py) plus the final
    distinct's partial/merge pair that rides the second exchange.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("a")
    # --- large-star: connect every neighbor LARGER than u to the
    # minimum of u's closed neighborhood. min(b) over a window on
    # the grouping key replaces groupBy+self-join: one exchange,
    # and the per-row neighbor survives alongside its group min.
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    large = (
        sym.select("a", "b", F.min("b").over(w).alias("mb"))
        .filter(F.col("b") > F.col("a"))
        .select(
            F.col("b").alias("a"),
            F.least(F.col("mb"), F.col("a")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    # large-star output is already oriented large->small (the new
    # b = min of a closed neighborhood containing a value < new a),
    # so the old greatest/least re-orientation + its distinct were
    # no-ops; duplicates ride through the small-star window and
    # collapse in the final distinct instead of paying their own
    # exchange here.
    # --- small-star: for each (still-large) node, route every
    # smaller neighbor to the minimum, and the node itself along
    # the b == m row (each distinct group has >= 1 such row;
    # duplicates of it are collapsed below).
    return (
        large.select("a", "b", F.min("b").over(w).alias("m"))
        .select(
            F.when(F.col("b") == F.col("m"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("a"),
            F.col("m").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _star_fixpoint(
    edges: DataFrame, max_iterations: int = 30, *, name: str
) -> DataFrame:
    """Drive alternating large/small-star rounds to fixpoint over a
    DISTINCT (a, b) edge set of any orderable key type — the public
    string path keys on 'layer:node_id', salsa's int path on
    collision-checked xxhash64 longs. Returns the fixpoint edge set:
    every row is (node, component-min); roots and isolated nodes are
    absent and must label themselves at the caller. Convergence is a
    count+checksum signature (multiset equality up to an xxhash64
    collision, ~2^-64) whose aggregate job doubles as the per-round
    lazy-checkpoint materialization — one Spark job per round.

    Every round is cut through an `IterCheckpointer`, so a chain past
    its rebase interval is rebased to parquet (see operators/ckpt.py).
    `name` is the operator the caller exposes; an exhausted budget
    raises a RuntimeError naming it and the round count.
    """
    ck = IterCheckpointer(prefix="onionnet_star_")

    def signature(e: DataFrame) -> tuple[int, int]:
        # edges are kept distinct, so xor of per-edge hashes is a
        # set-equality checksum that cannot overflow (unlike sum
        # under ANSI arithmetic); this aggregate is the action that
        # materializes the round's lazy checkpoint
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(concat_ws('|', a, b)))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    edges = ck.cut(edges, eager=False)
    sig = signature(edges)
    for _ in range(max_iterations):
        edges = ck.cut(_star_round(edges), eager=False)
        new_sig = signature(edges)
        if new_sig == sig:
            return edges
        sig = new_sig
    raise RuntimeError(
        f"{name} did not converge within {max_iterations} rounds; star "
        f"contraction needs O(log^2 n) rounds — raise max_iterations"
    )


def _key(layer: str | None, node_id: str | None) -> str:
    # concat_ws(":", layer, node_id): NULL parts are skipped
    return ":".join(p for p in (layer, node_id) if p is not None)


def _local_components(local: LocalGraph) -> list[tuple[str, str, str]]:
    """(layer, node_id, component) per node row of a driver snapshot,
    by union-find over every edge endpoint: a component is labelled
    by its min 'layer:node_id' key, and an endpoint missing from the
    node table joins the union (and may be that min) as in the star
    path."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for sl, si, dl, di in local.edges:
        a, b = find(_key(sl, si)), find(_key(dl, di))
        if a != b:
            parent[max(a, b)] = min(a, b)
    return [(l, i, find(_key(l, i))) for l, i in local.nodes]


def connected_components(graph: OnionGraph, max_iterations: int = 50) -> DataFrame:
    """Weak connected components.

    Returns DataFrame(layer, node_id, component) where component is
    the min 'layer:node_id' string key in the node's component.
    Raises RuntimeError when `max_iterations` contraction rounds do
    not reach the fixpoint.

    The one Spark weak engine: alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond"), which converges in O(log^2 n) rounds regardless of
    diameter, at one action per round. Hash-min label propagation,
    the engine it replaced, needs diameter + 1 rounds and cost more
    jobs and CPU on the views `view_components` serves; see the
    module docstring for the measurement.

    Each round is ONE window pass per star (min-over-neighborhood
    computed inside the same hash exchange that groups the edges —
    the old groupBy+rejoin shape paid two extra shuffles per star;
    tests/test_plans.py pins the two-exchange round shape) plus one
    final distinct. The input edge set is deduplicated unless the
    graph asserts ``edges_unique_undirected`` (no self-loops, one row
    per undirected pair): then the (a, b) rows are already distinct,
    which the convergence checksum needs — the same rule
    `OnionGraph.cached_symmetrized` applies.

    Skew note: the fused min-over-window puts a hub's ENTIRE closed
    neighborhood in one task — the deliberate trade for saving two
    exchanges per star. AQE's skew mitigation does not split window
    partitions (only join sides), so a pathological hub (say 10^8
    neighbors at 100 TB) serializes one task; the escape hatch is
    the groupBy(min)+rejoin shape, which AQE can skew-split, at +2
    exchanges per star. Star contraction itself is self-correcting —
    each round routes a hub's neighbors to its min, so hub degree
    collapses geometrically after round 1 — which is why the fused
    shape wins in practice.

    A graph that fits the driver snapshot (`OnionGraph.local_graph`)
    runs union-find on the driver instead, and returns one literal
    frame with the same labels.
    """
    local = graph.local_graph()
    if local is not None:
        return literal_frame(
            graph.nodes.sparkSession,
            _local_components(local),
            "layer string, node_id string, component string",
        )
    a_key = F.concat_ws(":", F.col("src_layer"), F.col("src_id"))
    b_key = F.concat_ws(":", F.col("dst_layer"), F.col("dst_id"))
    pairs = (
        graph.edge_endpoints()
        .select(a_key.alias("a"), b_key.alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    if not graph.edges_unique_undirected:
        pairs = pairs.distinct()
    edges = _star_fixpoint(
        pairs, max_iterations=max_iterations, name="connected_components"
    )

    # at fixpoint every edge is (node, component-min); roots and
    # isolated nodes label themselves
    labels = edges.select(F.col("a").alias("key"), F.col("b").alias("component"))
    nodes = graph.nodes.select(
        "layer", "node_id", graph.node_key_col().alias("key")
    )
    return (
        nodes.join(labels, on="key", how="left")
        .select(
            "layer",
            "node_id",
            F.coalesce("component", "key").alias("component"),
        )
    )


def strongly_connected_components(
    graph: OnionGraph, max_rounds: int = 50
) -> DataFrame:
    """Strong connected components: Trim + forward-coloring +
    backward-collect (the FW-BW-Trim / Orzan coloring family used by
    distributed SCC systems; reference view_components with
    directed=True, searcher.py:284-298).

    Per outer round:
      1. TRIM to fixpoint: a node with no in-edge or no out-edge in
         the remaining subgraph is a singleton SCC — peel it. On DAGs
         (like the TPC-H reference graph) this alone resolves every
         node in diameter rounds; coloring never runs.
      2. COLOR: propagate min node key FORWARD to fixpoint, so
         color(v) = min key among remaining nodes that reach v.
         Nodes with color == own key are pivots. This is the frontier
         relaxation loop, `traversal._relax`: only the nodes whose
         color improved move in the next round.
      3. COLLECT: backward BFS from each pivot restricted to its
         color class; everything reached both reaches the pivot
         (backward walk) and is reached by it (same color) → one SCC
         per pivot, labeled by the pivot key. Remove, repeat.

    Every frontier/label set is localCheckpoint-ed per iteration so
    lineage stays flat. Returns (layer, node_id, component) with
    component = min 'layer:node_id' key in the SCC — the same label
    convention as the weak variant, so downstream size/threshold
    logic is shared.
    """
    key = F.concat_ws(":", F.col("src_layer"), F.col("src_id"))
    dkey = F.concat_ws(":", F.col("dst_layer"), F.col("dst_id"))
    active = (
        graph.nodes.select(graph.node_key_col().alias("key")).localCheckpoint()
    )
    edges = (
        graph.edge_endpoints()
        .select(key.alias("src"), dkey.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    done: list[DataFrame] = []

    def _restrict(e: DataFrame, keep: DataFrame, n_keep: int | None = None) -> DataFrame:
        # keep is the build side of both semi joins: broadcast it
        # when its (known) row count fits so the edge set streams
        ks = keep.select(F.col("key").alias("src"))
        kd = keep.select(F.col("key").alias("dst"))
        if n_keep is not None and n_keep <= BROADCAST_MAX:
            ks, kd = F.broadcast(ks), F.broadcast(kd)
        return e.join(ks, on="src", how="left_semi").join(
            kd, on="dst", how="left_semi"
        )

    n_active = active.count()
    for _ in range(max_rounds):
        if n_active == 0:
            break
        # --- 1. trim to fixpoint ---------------------------------------
        # (A delta degree-ledger trim — aggregate in/out degrees once,
        # then peel with broadcast decrements against a STATIC edge
        # set — was tried in r10 and measured ~1s SLOWER at sf0.1:
        # the first sweep of this graph family peels most of the
        # graph, so the old shape's per-sweep edge restrict makes
        # every later sweep scan a tiny edge set, while the ledger
        # re-scanned the full one. Kept the sweep; the restrict's
        # semi-join build sides now broadcast while `active` is
        # small.)
        while n_active > 0:
            srcs = edges.select(F.col("src").alias("key"))
            dsts = edges.select(F.col("dst").alias("key"))
            core = (
                active.join(srcs, on="key", how="left_semi")
                .join(dsts, on="key", how="left_semi")
                .localCheckpoint()
            )
            n_core = core.count()
            if n_core == n_active:
                break
            # lazy: both inputs are checkpointed, and the frame is
            # consumed exactly once by the final union — eagerly
            # materializing it here paid one extra job per peel sweep
            done.append(
                active.join(core, on="key", how="left_anti")
                .select("key", F.col("key").alias("component"))
            )
            active = core
            n_active = n_core
            edges = _restrict(edges, active, n_active).localCheckpoint()
        if n_active == 0:
            break
        # --- 2. forward min-color propagation to fixpoint ---------------
        # a color moves one edge per round along a simple path, so
        # n_active rounds always reach the fixpoint
        colors = _relax(
            edges, active.select("key", F.col("key").alias("color")), ["key"],
            ["src"], ["dst"], "color", F.col("color"), "min",
            "strongly_connected_components", n_active,
            "a coloring needs at most one round per node", n_seed=n_active,
        )
        # --- 3. backward collect from pivots within color classes -------
        same_color_edges = (
            edges.join(
                colors.select(F.col("key").alias("src"), F.col("color").alias("c1")),
                on="src",
            )
            .join(
                colors.select(F.col("key").alias("dst"), F.col("color").alias("c2")),
                on="dst",
            )
            .filter(F.col("c1") == F.col("c2"))
            .select("src", "dst")
            .localCheckpoint()
        )
        pivots = (
            colors.filter(F.col("key") == F.col("color"))
            .select("key", F.col("color").alias("component"))
            .localCheckpoint()
        )
        # visited grows as a LAZY union over per-round checkpointed
        # frames (the greedy_coloring pattern): each round's anti-join
        # rescans only materialized blocks instead of re-checkpointing
        # the whole growing set every round
        scc = pivots
        frontier = pivots
        while True:
            preds = (
                same_color_edges.join(
                    frontier.select(
                        F.col("key").alias("dst"), F.col("component")
                    ),
                    on="dst",
                )
                .select(F.col("src").alias("key"), "component")
                .distinct()
                .join(scc.select("key"), on="key", how="left_anti")
                .localCheckpoint()
            )
            if preds.count() == 0:
                break
            scc = scc.unionByName(preds)
            frontier = preds
        done.append(scc)
        active = active.join(scc.select("key"), on="key", how="left_anti").localCheckpoint()
        n_active = active.count()
        edges = _restrict(edges, active, n_active).localCheckpoint()

    if n_active > 0:
        raise RuntimeError(
            f"strongly_connected_components did not resolve all nodes "
            f"within {max_rounds} rounds ({n_active} still active); "
            f"raise max_rounds"
        )
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out.select(*split_node_key("key"), "component")


def label_propagation_communities(
    graph: OnionGraph, n_rounds: int = 5
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation
    (Raghavan et al. 2007), made fully deterministic: every round,
    each node adopts the most frequent label among its undirected
    neighbors, ties broken by the lexicographically smallest label;
    isolated nodes keep their own key. Fixed round count (the
    algorithm has no stable fixpoint in general — synchronous LPA
    can 2-cycle — so bounded rounds IS the spec, and the oracle
    unrolls the identical recurrence).

    Each round is one shuffle keyed on the node (neighbor-label
    counting) plus an argmax aggregation — linear in edges,
    independent of community count. Returns (layer, node_id,
    community).

    Round shape (r10): the argmax runs as min(struct(-c, label))
    with map-side partial aggregation instead of a row_number window
    sort, and labels are tracked for CONNECTED nodes only: every
    node appearing in sym gets exactly one argmax row each round (it
    has >= 1 labeled neighbor), and isolated nodes never appear as a
    join source, so the old per-round labels-vs-best update join was
    a no-op re-merge. The initial-key label of isolated nodes is
    re-attached once at the end via the left-join coalesce. The
    label table is NOT broadcast into the sym join: each round's
    broadcast would be built once and used once (the un-amortized
    one-shot trap measured on ego_stats/random_walks in r10 — the
    wide string label rows make it worse here), unlike the
    pagerank/katz class where the state is narrow numerics probing a
    checkpointed edge scan.
    """
    sym = graph.cached_symmetrized().select(
        F.concat_ws(":", "src_layer", "src_id").alias("src"),
        F.concat_ws(":", "dst_layer", "dst_id").alias("dst"),
    )
    # Plain projection of the (typically already-cached) node table —
    # persisting it here would pin CacheManager storage past the call.
    nodes = graph.nodes.select(
        "layer", "node_id", graph.node_key_col().alias("key")
    )
    labels = nodes.select("key", F.col("key").alias("label")).localCheckpoint()
    for _ in range(n_rounds):
        lab_src = labels.select(F.col("key").alias("src"), "label")
        counts = (
            sym.join(lab_src, on="src")
            .groupBy(F.col("dst").alias("key"), "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax(c) with smallest-label tie-break == min over the
        # struct (-c, label): field-by-field struct ordering, exact
        labels = (
            counts.groupBy("key")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("m")
            )
            .select("key", F.col("m.label").alias("label"))
            .localCheckpoint()
        )
    out = nodes.join(labels, on="key", how="left").select(
        "layer",
        "node_id",
        F.coalesce("label", "key").alias("community"),
    )
    return out


def view_components(
    graph: OnionGraph, size_threshold: int, connectivity: str = "weak"
) -> DataFrame:
    """Components meeting the size threshold (searcher.py:284-298).

    Returns DataFrame(layer, node_id, component, component_size) for
    nodes in qualifying components. connectivity='strong' uses the
    FW-BW-Trim engine above (reference directed=True); 'weak' (the
    default) matches the reference's directed=False mode and runs the
    one weak engine, `connected_components` (star contraction, which
    replaced min-label propagation after cutting this op's jobs and
    CPU; see the module docstring). A weak call on a graph that fits
    the driver snapshot labels, sizes and thresholds on the driver and
    returns one literal frame.
    """
    strong = connectivity.lower() == "strong"
    local = None if strong else graph.local_graph()
    if local is not None:
        rows = _local_components(local)
        sizes = Counter(c for _, _, c in rows)
        return literal_frame(
            graph.nodes.sparkSession,
            [(c, l, i, sizes[c]) for l, i, c in rows if sizes[c] >= size_threshold],
            "component string, layer string, node_id string, component_size bigint",
        )
    labels = strongly_connected_components(graph) if strong else connected_components(graph)
    sizes = labels.groupBy("component").agg(F.count("*").alias("component_size"))
    return labels.join(
        F.broadcast(sizes.filter(F.col("component_size") >= size_threshold)),
        on="component",
    )


def spread_labels(
    graph: OnionGraph, seeds: DataFrame, rounds: int = 3
) -> DataFrame:
    """Semi-supervised label spreading from seed nodes (the
    node-classification primitive: propagate a few known labels over
    the graph structure): each round, every still-UNLABELED node
    with at least one labeled undirected neighbor adopts the
    MAJORITY label among its labeled neighbors (ties broken to the
    lexicographically smallest label); labeled nodes — seeds
    included — never change (clamped), so the fixpoint is the
    seed-rooted BFS layering with per-ring majority votes.

    `seeds`: DataFrame(layer, node_id, label). Per round: one
    neighbor-label aggregation keyed on the node plus a window
    argmax bounded by each node's distinct incoming labels. Returns
    (layer, node_id, label, spread_round) with spread_round = 0 for
    seeds, else the adoption round.
    """
    from pyspark.sql import Window

    sym = graph.cached_symmetrized().select(
        F.concat_ws(":", "src_layer", "src_id").alias("src"),
        F.concat_ws(":", "dst_layer", "dst_id").alias("dst"),
    )
    labeled = seeds.select(
        F.concat_ws(":", "layer", "node_id").alias("key"),
        F.col("label").cast("string").alias("label"),
        F.lit(0).alias("spread_round"),
    ).localCheckpoint()
    w = Window.partitionBy("key").orderBy(F.col("c").desc(), F.col("label").asc())
    for r in range(1, rounds + 1):
        votes = (
            sym.join(
                labeled.select(F.col("key").alias("src"), "label"), on="src"
            )
            .join(
                labeled.select(F.col("key").alias("dst")),
                on="dst",
                how="left_anti",
            )
            .groupBy(F.col("dst").alias("key"), "label")
            .agg(F.count("*").alias("c"))
        )
        adopted = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("key", "label", F.lit(r).alias("spread_round"))
        )
        labeled = labeled.unionByName(adopted).localCheckpoint()
    return labeled.select(*split_node_key("key"), "label", "spread_round")


def condensation_graph(
    graph: OnionGraph, connectivity: str = "strong"
) -> DataFrame:
    """Condensation DAG — graph-tool ``condensation_graph`` parity
    (the reference's gt graphs expose it one call away): contract
    every (strongly) connected component to a super-node and
    aggregate the cross-component edges.

    Returns one row per condensed edge: (src_component,
    dst_component, n_edges, src_size, dst_size), with intra-component
    edges dropped — for connectivity='strong' the result is a DAG by
    construction (any condensed cycle would have merged into one SCC).

    Plan shape: the label table joins onto the edge list twice (both
    keyed on the node key — the same exchanges every relabeling pass
    pays), then ONE hash aggregation on the component pair with
    map-side partials; component sizes, bounded by the component
    count, broadcast back onto the condensed edges. No windows, no
    driver-side data.
    """
    if connectivity.lower() == "strong":
        labels = strongly_connected_components(graph)
    else:
        labels = connected_components(graph)
    lab = labels.select(
        F.concat_ws(":", "layer", "node_id").alias("key"), "component"
    )
    sizes = lab.groupBy("component").agg(
        F.count("*").cast("bigint").alias("size")
    )
    e = graph.edge_endpoints().select(
        F.concat_ws(":", "src_layer", "src_id").alias("sk"),
        F.concat_ws(":", "dst_layer", "dst_id").alias("dk"),
    )
    condensed = (
        e.join(
            lab.select(
                F.col("key").alias("sk"), F.col("component").alias("src_component")
            ),
            on="sk",
        )
        .join(
            lab.select(
                F.col("key").alias("dk"), F.col("component").alias("dst_component")
            ),
            on="dk",
        )
        .filter(F.col("src_component") != F.col("dst_component"))
        .groupBy("src_component", "dst_component")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
    )
    return (
        condensed.join(
            F.broadcast(
                sizes.select(
                    F.col("component").alias("src_component"),
                    F.col("size").alias("src_size"),
                )
            ),
            on="src_component",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("component").alias("dst_component"),
                    F.col("size").alias("dst_size"),
                )
            ),
            on="dst_component",
        )
        .select(
            "src_component", "dst_component", "n_edges", "src_size", "dst_size"
        )
    )


def community_conductance(
    graph: OnionGraph, n_rounds: int = 5
) -> DataFrame:
    """Community quality report: for every LPA community, its node
    count, volume (directed-symmetric edge endpoints inside), cut
    size (edges leaving it) and conductance cut/min(vol, 2E−vol) —
    the standard "are these communities real or artifacts?" check
    run after any clustering pass.

    Reuses label_propagation_communities verbatim (same rounds, same
    tie-break) and the shared cached symmetrized edge view; the
    conductance itself is two hash aggregations plus a broadcast of
    the single-row edge total. Isolated-node communities have zero
    volume and report NULL conductance. Returns (community, n_nodes,
    volume, cut_edges, conductance 6dp).
    """
    labels = label_propagation_communities(graph, n_rounds)
    lab = labels.select(
        F.concat_ws(":", "layer", "node_id").alias("key"), "community"
    ).localCheckpoint()
    sym = graph.cached_symmetrized().select(
        F.concat_ws(":", "src_layer", "src_id").alias("src"),
        F.concat_ws(":", "dst_layer", "dst_id").alias("dst"),
    )
    la = lab.select(F.col("key").alias("src"), F.col("community").alias("ca"))
    lb = lab.select(F.col("key").alias("dst"), F.col("community").alias("cb"))
    joined = sym.join(la, on="src").join(lb, on="dst")
    per = joined.groupBy(F.col("ca").alias("community")).agg(
        F.count("*").cast("bigint").alias("volume"),
        F.sum(F.when(F.col("ca") != F.col("cb"), 1).otherwise(0))
        .cast("bigint")
        .alias("cut_edges"),
    )
    per = per.localCheckpoint()
    # e2 (total symmetric endpoints) == sum of per-community volumes:
    # read it off the community-sized aggregate instead of evaluating
    # the edge-label join a second time
    tot = per.agg(F.sum("volume").cast("bigint").alias("e2"))
    nn = labels.groupBy("community").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )
    denom = F.least(F.col("volume"), F.col("e2") - F.col("volume"))
    return (
        nn.join(per, on="community", how="left")
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            F.coalesce("volume", F.lit(0)).cast("bigint").alias("volume"),
            F.coalesce("cut_edges", F.lit(0)).cast("bigint").alias("cut_edges"),
            F.when(
                denom > 0, F.round(F.col("cut_edges") / denom, 6)
            ).alias("conductance"),
        )
    )
