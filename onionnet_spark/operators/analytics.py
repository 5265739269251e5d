"""Whole-graph analytics over the (layer, node_id)-keyed graph.

The reference hands its analytics to graph-tool (users call gt
functions on `onion.g`); degree appears directly in prune-isolated
logic (searcher.py:341) and visualisation sizing
(visualisation.py:734-789). Here each is a DataFrame program:
degrees, centralities (PageRank, HITS, eigenvector, Katz, SALSA,
betweenness, closeness, VoteRank), cores and trusses, triangles,
squares and 4-cliques, matchings, independent sets, colorings, the
minimum spanning forest, assortativity, modularity, sketches of the
neighborhood function, similarity (Jaccard, SimRank) and more.

The propagation family shares one message-passing step, `_push`: a
Pregel superstep as one join and one group-by over the vertex and
edge relations (the Pregelix shape). It joins node-keyed state onto
one edge endpoint and aggregates at the other. Its users:
  - `_rank_walk`, the one rank walk behind `pagerank` and
    `personalized_pagerank` (they differ only in the teleport term);
  - `hits`, `eigenvector_centrality` and `katz_centrality`;
  - `count_paths_to` and `neighbor_agg`;
  - `voterank`, whose rounds push the voting abilities to the
    neighbours and find the winner's neighbours.
The step cuts no lineage and picks no join strategy on its own: each
caller keeps its cut and says when the state is broadcast (under
core.BROADCAST_MAX, so the cached edge side is never exchanged).
An unweighted rank walk over a graph that fits the driver snapshot
(`OnionGraph.local_graph`, at most core.DRIVER_FRONTIER_MAX nodes and
edges) runs the same recurrence in Python and returns one literal
frame: on the perfbench views PageRank went from 18 Spark jobs to 1
(its result's collect) and from 8.1 to 0.5 CPU-s. Weighted walks and
larger graphs run the Spark walk.

The undirected decompositions share two peels, each run to a
fixpoint under a budget derived from the data:
  - `_onion_peel`, the one node peel: `onion_decomposition` is its
    ledger and `coreness` its core column;
  - `_truss_peel`, the one edge peel (`_truss_sweep` repeated until
    the edge count holds, for each k; a later k opens with a filter on
    the support its previous k counted): `k_truss` is one k of it and
    `trussness` all of them.
`k_core` keeps its own delta peel over the graph's cached views.

The motif counts share one triangle listing, `_triangles`
(node-iterator++: each pair oriented from its (degree, key)-smaller
endpoint, wedges pivoted at the lower end and closed by one
semi-join): `triangle_count` counts it, `local_clustering_coefficient`
counts its corners and `clique4_count` extends its top vertex. The
pair-list operators that need both directions of every pair
(`maximal_independent_set`, `greedy_coloring`, `spectral_bisection`,
`wl_refinement`, `simrank`) read them from one cut adjacency, `_sym`.

The symmetry-breaking operators share one retire loop, `_retire`:
each round a step elects winners by md5 priority among the live items
and retires them; the loop cuts the live set, counts it in one job and
ends when nothing is live. `maximal_matching` (over edges),
`maximal_independent_set` and `greedy_coloring` (over nodes) are its
step functions. Every round retires at least the live item with the
extreme priority, so no operator takes a round option. `boruvka_msf`
merges the components its picked edges join by star contraction
(`components._star_fixpoint`), the weak-components engine.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from onionnet_spark.core import (
    BROADCAST_MAX,
    EDGE_KEY,
    NODE_KEY,
    LocalGraph,
    OnionGraph,
    literal_frame,
    row_count,
    split_node_key,
)
from onionnet_spark.operators.ckpt import IterCheckpointer
from onionnet_spark.operators.components import _star_fixpoint
from onionnet_spark.operators.traversal import _uniq


def _keyed(state: DataFrame, end: str) -> DataFrame:
    """`state` with its (layer, node_id) key renamed to the columns of
    edge endpoint `end` ("src" or "dst")."""
    return state.select(
        F.col("layer").alias(f"{end}_layer"),
        F.col("node_id").alias(f"{end}_id"),
        *(c for c in state.columns if c not in NODE_KEY),
    )


def _pairs(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """The undirected pairs (a, b) of an edge list: endpoints cast to
    string and ordered a < b, self-loops dropped, one row per pair."""
    a, b = F.col(a_col).cast("string"), F.col(b_col).cast("string")
    return (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _push(
    edges: DataFrame,
    state: DataFrame | None,
    frm: str,
    to: str,
    *aggs: Column,
    bcast: bool = False,
    how: str = "inner",
) -> DataFrame:
    """One message-passing step: join node-keyed `state` onto edge
    endpoint `frm` (broadcast when `bcast`), group the joined edges by
    endpoint `to`, renamed back to (layer, node_id), and aggregate them
    with `aggs`. With `state` None the edges are aggregated as they
    are."""
    if state is not None:
        s = _keyed(state, frm)
        edges = edges.join(
            F.broadcast(s) if bcast else s,
            on=[f"{frm}_layer", f"{frm}_id"],
            how=how,
        )
    return edges.groupBy(
        F.col(f"{to}_layer").alias("layer"), F.col(f"{to}_id").alias("node_id")
    ).agg(*aggs)


def degrees(graph: OnionGraph) -> DataFrame:
    """Per-node in/out/total degree, 0 for isolated nodes."""
    e = graph.edge_endpoints()
    out_deg = e.groupBy(
        F.col("src_layer").alias("layer"), F.col("src_id").alias("node_id")
    ).agg(F.count("*").alias("out_degree"))
    in_deg = e.groupBy(
        F.col("dst_layer").alias("layer"), F.col("dst_id").alias("node_id")
    ).agg(F.count("*").alias("in_degree"))
    return (
        graph.nodes.select(*NODE_KEY)
        .join(out_deg, on=NODE_KEY, how="left")
        .join(in_deg, on=NODE_KEY, how="left")
        .select(
            "layer",
            "node_id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            (F.coalesce("out_degree", F.lit(0)) + F.coalesce("in_degree", F.lit(0))).alias(
                "degree"
            ),
        )
    )


def _local_rank_walk(
    local: LocalGraph,
    n_iterations: int,
    damping: float,
    seeds: list[tuple[str, str]] | None,
) -> list[tuple[str, str, float]]:
    """`_rank_walk`'s unweighted recurrence over a driver snapshot, in
    the Spark walk's float operations and with its join semantics: an
    edge whose source key has a NULL part is dropped, and a key with a
    NULL part matches no node or seed. Every endpoint carries rank,
    in the node table or not. (layer, node_id, rank) per node row."""
    out_deg: dict[tuple, float] = {}
    edges = []
    for sl, si, dl, di in local.edges:
        if sl is not None and si is not None:
            u = (sl, si)
            out_deg[u] = out_deg.get(u, 0.0) + 1.0
            edges.append((u, (dl, di)))
    m = len(local.nodes) if seeds is None else len(seeds)
    seed_set = None if seeds is None else set(seeds)

    def t(k: tuple) -> bool:
        return seed_set is None or k in seed_set

    init, tele = 1.0 / m, (1.0 - damping) / m
    contrib: dict[tuple, float] | None = None

    def rank(k: tuple) -> float:
        if contrib is None:
            return init if t(k) else 0.0
        c = 0.0 if None in k else contrib.get(k, 0.0)
        return (tele if t(k) else 0.0) + damping * c

    for _ in range(n_iterations):
        nxt: dict[tuple, float] = {}
        for u, v in edges:
            nxt[v] = nxt.get(v, 0.0) + rank(u) / out_deg[u]
        contrib = nxt
    return [(*k, rank(k)) for k in local.nodes]


def _rank_walk(
    graph: OnionGraph,
    n_iterations: int,
    damping: float,
    name: str,
    weight_col: str | None = None,
    seeds: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The one rank walk behind pagerank and personalized_pagerank:

        r_0(v) = t(v)/m,
        r_{i+1}(v) = (1-d) t(v)/m + d * sum_{u->v} r_i(u) w(u,v)/W(u)

    with teleport weight t = 1 and m = N (pagerank), or t = [v in S]
    and m = |S| for a seed set S (personalized). w = 1 and W(u) =
    outdeg(u) unless `weight_col` names the edge weight (read from the
    graph's `cached_weighted` view), then W(u) is its outgoing sum.
    Dangling mass is not redistributed. Returns
    (layer, node_id, `name`) over the full node set.

    Edges are annotated once with W(u), and with the seed flag for a
    personalized walk, then cut. Each round carries only the per-node
    contributions c (absent => 0) through one `_push` along the edges:
    a source's rank is rebuilt inline as (1-d) t/m + d c, so no join
    against the full node set runs inside the loop. While the node
    count fits the broadcast budget the contributions are broadcast
    and the cut edge table is scanned, never exchanged or sorted; past
    it the edge table is pre-shuffled once on the join key, so only
    the contributions move per round. localCheckpoint (not persist):
    the blocks are query-scoped and go with this frame.

    An unweighted walk over a graph that fits the driver snapshot
    (`OnionGraph.local_graph`) runs the same recurrence in Python and
    returns one literal frame.
    """
    n_nodes = graph.cached_n_nodes()
    local = None if weight_col is not None else graph.local_graph()
    if local is not None:
        return literal_frame(
            graph.nodes.sparkSession,
            _local_rank_walk(local, n_iterations, damping, seeds),
            f"layer string, node_id string, {name} double",
        )
    small_state = n_nodes <= BROADCAST_MAX
    if weight_col is None:
        e = graph.edge_endpoints().withColumn("w", F.lit(1.0))
    else:
        e = graph.cached_weighted(weight_col)
    out_deg = _push(e, None, "src", "src", F.sum("w").alias("out_degree"))
    e_deg = e.join(_keyed(out_deg, "src"), on=["src_layer", "src_id"])
    nodes = graph.nodes.select(*NODE_KEY)
    if seeds is None:
        init, teleport = F.lit(1.0 / n_nodes), F.lit((1.0 - damping) / n_nodes)
    else:
        flags = F.broadcast(literal_frame(
            graph.nodes.sparkSession,
            [(l, i, 1) for (l, i) in seeds],
            "layer string, node_id string, is_seed int",
        ))
        e_deg = e_deg.join(_keyed(flags, "src"), on=["src_layer", "src_id"], how="left")
        nodes = nodes.join(flags, on=NODE_KEY, how="left")
        flag = F.coalesce("is_seed", F.lit(0))
        init = flag * F.lit(1.0 / len(seeds))
        teleport = F.lit((1.0 - damping) / len(seeds)) * flag
    if not small_state:
        e_deg = e_deg.repartition("src_layer", "src_id")
    e_deg = e_deg.localCheckpoint()
    rank = teleport + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
    contribs = None
    for _ in range(n_iterations):
        r = init if contribs is None else rank
        contribs = _push(
            e_deg, contribs, "src", "dst",
            F.sum(r * F.col("w") / F.col("out_degree")).alias("contrib"),
            bcast=small_state, how="left",
        ).localCheckpoint(eager=False)
    return nodes.join(
        F.broadcast(contribs) if small_state else contribs, on=NODE_KEY, how="left"
    ).select(*NODE_KEY, rank.alias(name))


def pagerank(
    graph: OnionGraph,
    n_iterations: int = 5,
    damping: float = 0.85,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank, fixed iteration count, uniform init 1/N: the rank
    walk with a uniform teleport,

        pr_{i+1}(v) = (1-d)/N + d * sum_{u->v} pr_i(u) * w(u,v) / W(u),

    where w = 1 and W(u) = outdeg(u) when `weight_col` is None, else
    w = the edge property and W(u) = its outgoing sum (graph-tool
    pagerank(weight=...) parity; weights are assumed non-negative).
    Dangling-node mass is NOT redistributed (simple variant); the
    DuckDB oracle unrolls the identical recurrence, so results match
    exactly up to float rounding. The unweighted walk is bit-identical
    to the weighted one with w = 1.0 (IEEE multiply-by-one and an
    integer-valued double divisor). Returns (layer, node_id, pagerank).
    """
    return _rank_walk(graph, n_iterations, damping, "pagerank", weight_col)


def personalized_pagerank(
    graph: OnionGraph,
    seeds: list[tuple[str, str]],
    n_iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank (random walk with restart): the rank walk
    whose teleport mass returns to the SEED set S instead of spreading
    uniformly — the standard relevance / recommendation primitive
    graph-tool exposes via pagerank(pers=...).

        ppr_{i+1}(v) = (1-d) * [v in S]/|S| + d * sum_{u->v} ppr_i(u)/outdeg(u),

    ppr_0 = uniform over S. The seed flag is joined onto the annotated
    edge table once, before its cut, so no round joins the seeds.
    Seeds are taken as (layer, str(id)) with duplicates dropped; an
    empty seed list raises ValueError. With every node a seed this is
    exactly `pagerank`. Nodes unreachable from the seeds hold exactly
    0. Returns (layer, node_id, ppr) over the full node set.
    """
    seeds = _uniq(seeds)
    if not seeds:
        raise ValueError("personalized_pagerank needs at least one seed")
    return _rank_walk(graph, n_iterations, damping, "ppr", seeds=seeds)


def k_core(
    graph: OnionGraph,
    k: int = 2,
    max_iterations: int = 50,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node has
    UNDIRECTED degree >= k — DELTA peeling. The naive loop
    (recompute all degrees + filter the full edge set every round)
    pays O(|E|) shuffles per round even when a round removes a
    handful of nodes — at sf0.1 that was 18s for a 2-round peel
    (BENCH r3 flagged it). Instead:

      1. ONE full degree aggregation (deg0, checkpointed).
      2. Per round, only the DELTA moves: the freshly-removed node
         set L (tiny) is broadcast against the static canonical edge
         list to produce per-neighbor decrements; cumulative
         decrements and the removed set stay small and broadcast.
         A node can only drop below k if it was just decremented, so
         each round examines the decremented candidates, not |V|.
      3. The k-core membership and degrees come from ONE final pass
         filtering the edge list against the total removed set.

    If the cumulative removed set outgrows the broadcast budget
    core.BROADCAST_MAX (deep-cascade regime: k-core of a social graph
    can shed most of the graph), the loop RE-BASELINES: materializes
    the shrunken edge set, recomputes deg0, and resets the ledgers —
    bounding the broadcast size while keeping the common case at 3
    total big shuffles regardless of peel depth. Raises if `max_iterations`
    rounds don't reach the fixpoint. Returns (layer, node_id,
    core_degree) for members.
    """
    canon = graph.canonical_edges()
    spark = canon.sparkSession

    def _full_degrees(edges: DataFrame) -> DataFrame:
        return (
            edges.select(F.col("a").alias("n"))
            .unionByName(edges.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
            .localCheckpoint()
        )

    # Baseline degrees come from the per-graph cache (shared with
    # triangle orientation / clustering); _full_degrees is only for
    # post-rebaseline recomputes over the shrunken edge set.
    deg0 = graph.canonical_degrees()

    def _empty_ledgers() -> tuple[DataFrame, DataFrame]:
        # cum_dec: node -> total decrements since the last re-baseline
        return (
            literal_frame(spark, [], "n string, c bigint"),
            literal_frame(spark, [], "n string"),
        )

    cum_dec, removed = _empty_ledgers()
    n_removed = 0
    low = deg0.filter(F.col("d") < k).select("n").localCheckpoint(eager=False)
    n_low = low.count()
    rounds = 0
    while n_low > 0:
        rounds += 1
        if rounds > max_iterations:
            raise RuntimeError(
                f"k_core did not reach a fixpoint within {max_iterations} "
                f"peeling rounds; raise max_iterations"
            )
        if n_low > BROADCAST_MAX:
            # a single huge removal wave (large k): too big to
            # broadcast — shuffle-filter the edge set once and
            # re-baseline; this IS the classic full round, paid only
            # in the regime where every strategy must touch |E|.
            # The filter must apply BOTH ledgers: dropping only `low`
            # would resurrect earlier-removed nodes whose edges are
            # still in canon (they re-peel correctly by confluence,
            # but burn rounds against max_iterations and repeat the
            # |E| shuffles).
            gone = removed.unionByName(low)
            canon = (
                canon.join(
                    gone.select(F.col("n").alias("a")), on="a", how="left_anti"
                )
                .join(gone.select(F.col("n").alias("b")), on="b", how="left_anti")
                .localCheckpoint()
            )
            deg0 = _full_degrees(canon)
            cum_dec, removed = _empty_ledgers()
            n_removed = 0
            low = deg0.filter(F.col("d") < k).select("n").localCheckpoint()
            n_low = low.count()
            continue
        removed = removed.unionByName(low).localCheckpoint(eager=False)
        n_removed += n_low
        # decrements: edges with exactly one endpoint freshly removed
        # and the other endpoint still alive
        dead_a = F.broadcast(low.select(F.col("n").alias("a")))
        dead_b = F.broadcast(low.select(F.col("n").alias("b")))
        gone_a = F.broadcast(removed.select(F.col("n").alias("a")))
        gone_b = F.broadcast(removed.select(F.col("n").alias("b")))
        dec_b = (
            canon.join(dead_a, on="a", how="left_semi")
            .join(gone_b, on="b", how="left_anti")
            .select(F.col("b").alias("n"))
        )
        dec_a = (
            canon.join(dead_b, on="b", how="left_semi")
            .join(gone_a, on="a", how="left_anti")
            .select(F.col("a").alias("n"))
        )
        dec = (
            dec_b.unionByName(dec_a)
            .groupBy("n")
            .agg(F.count("*").cast("bigint").alias("c"))
            .localCheckpoint(eager=False)
        )
        cum_dec = (
            cum_dec.unionByName(dec)
            .groupBy("n")
            .agg(F.sum("c").alias("c"))
            .localCheckpoint(eager=False)
        )
        # only just-decremented nodes can newly fall below k
        low = (
            deg0.join(F.broadcast(dec.select("n")), on="n", how="left_semi")
            .join(F.broadcast(removed), on="n", how="left_anti")
            .join(F.broadcast(cum_dec), on="n", how="left")
            .filter(F.col("d") - F.coalesce(F.col("c"), F.lit(0)) < k)
            .select("n")
            .localCheckpoint(eager=False)
        )
        n_low = low.count()
        # cum_dec rows ~ sum of removed nodes' degrees — it is
        # broadcast each round, so IT must respect the broadcast
        # budget too, not just the removed-node count
        n_cum = cum_dec.count()
        if n_removed > BROADCAST_MAX or n_cum > BROADCAST_MAX:
            gone_a = F.broadcast(removed.select(F.col("n").alias("a")))
            gone_b = F.broadcast(removed.select(F.col("n").alias("b")))
            canon = (
                canon.join(gone_a, on="a", how="left_anti")
                .join(gone_b, on="b", how="left_anti")
                .localCheckpoint()
            )
            deg0 = _full_degrees(canon)
            cum_dec, removed = _empty_ledgers()
            n_removed = 0
            if n_low:
                low = deg0.filter(F.col("d") < k).select("n").localCheckpoint()
                n_low = low.count()
    # Final pass WITHOUT touching the edge list again: the delta
    # ledger already knows every survivor's core degree. For a
    # surviving node u, each edge (u, v) with v peeled decremented
    # u's ledger exactly once (at the round v entered `low`, u not
    # yet removed), so core_degree = deg0 - cum_dec — an O(|V|)
    # join with broadcast ledgers instead of the old 2|E|-row
    # re-aggregation (r8: the final union+groupBy was the largest
    # shuffle left in the common shallow-peel case).
    deg = (
        deg0.join(F.broadcast(removed), on="n", how="left_anti")
        .join(F.broadcast(cum_dec), on="n", how="left")
        .select(
            F.col("n").alias("key"),
            (F.col("d") - F.coalesce(F.col("c"), F.lit(0)))
            .cast("bigint")
            .alias("core_degree"),
        )
    )
    return deg.select(*split_node_key("key"), "core_degree")


def betweenness_sampled(
    graph: OnionGraph,
    sources: list[tuple[str, str]],
    max_depth: int = 8,
) -> DataFrame:
    """Sampled betweenness centrality (Brandes 2001, source-sampled
    estimator): run Brandes' two-phase dependency accumulation from
    each sample source over the UNDIRECTED graph and sum the
    per-source dependencies. With sources = a uniform sample of k
    nodes, bc_sampled * n/k is the standard unbiased estimate; at
    100 TB you pick k ~ O(log n / eps^2) (Riondato-Kornaropoulos)
    and the per-source cost stays one BFS + one backward sweep.

    ALL sources advance in ONE level-synchronous sweep: frontier
    rows carry a source id column, so the per-level job count is
    independent of the sample size k — at 100 TB you batch the
    whole O(log n / eps^2) sample this way instead of k serial
    BFS runs. Phase 1 carries sigma (shortest-path counts):
    sigma(s, v) = sum of sigma(s, u) over predecessors u at the
    previous level of the same source. Phase 2 walks levels
    DEEPEST-first (level index == distance per source, so one
    mixed-source frame per depth stays aligned), accumulating
    delta(s, u) = sum over successors v of
    sigma(s,u)/sigma(s,v) * (1 + delta(s,v)). Every level is a
    localCheckpoint-ed frame, so both sweeps are flat chains of
    joins. Returns (layer, node_id, betweenness) over all nodes
    (0 for untouched), rounded to 6 dp.
    """
    sym = graph.cached_symmetrized().select(
        F.concat_ws(":", "src_layer", "src_id").alias("src"),
        F.concat_ws(":", "dst_layer", "dst_id").alias("dst"),
    ).localCheckpoint()
    nodes = graph.nodes.select(
        "layer", "node_id", graph.node_key_col().alias("key")
    )
    spark = graph.nodes.sparkSession
    # sid IS the source's node key, so the final "drop the source's
    # own row" filter is just key != sid.
    levels: list[DataFrame] = [
        literal_frame(
            spark,
            [(f"{sl}:{si}", f"{sl}:{si}", 1.0) for (sl, si) in sources],
            "sid string, key string, sigma double",
        )
    ]
    for _ in range(max_depth):
        frontier = levels[-1]
        visited = levels[0].select("sid", "key")
        for prev in levels[1:]:
            visited = visited.unionByName(prev.select("sid", "key"))
        nxt = (
            sym.join(
                frontier.select(F.col("key").alias("src"), "sid", "sigma"),
                on="src",
            )
            .groupBy("sid", F.col("dst").alias("key"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, on=["sid", "key"], how="left_anti")
            .localCheckpoint()
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
    # backward sweep: delta of the deepest level is 0
    delta = levels[-1].select(
        "sid", "key", F.lit(0.0).alias("delta"), "sigma"
    ).localCheckpoint()
    deltas = [delta]
    for d in range(len(levels) - 2, -1, -1):
        contrib = (
            sym.join(
                delta.select(
                    "sid",
                    F.col("key").alias("dst"),
                    F.col("sigma").alias("sigma_v"),
                    F.col("delta").alias("delta_v"),
                ),
                on="dst",
            )
            .join(
                levels[d].select("sid", F.col("key").alias("src"), "sigma"),
                on=["sid", "src"],
            )
            .groupBy("sid", F.col("src").alias("key"))
            .agg(
                F.sum(
                    (F.col("sigma") / F.col("sigma_v"))
                    * (F.lit(1.0) + F.col("delta_v"))
                ).alias("delta")
            )
        )
        delta = (
            levels[d]
            .join(contrib, on=["sid", "key"], how="left")
            .select(
                "sid",
                "key",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
                "sigma",
            )
            .localCheckpoint()
        )
        deltas.append(delta)
    acc = deltas[0].select("sid", "key", "delta")
    for dd in deltas[1:]:
        acc = acc.unionByName(dd.select("sid", "key", "delta"))
    bc = (
        acc.filter(F.col("key") != F.col("sid"))
        .groupBy("key")
        .agg(F.sum("delta").alias("bc"))
    )
    out = nodes.join(bc, on="key", how="left").select(
        "layer",
        "node_id",
        F.round(F.coalesce("bc", F.lit(0.0)), 6).alias("betweenness"),
    )
    return out


def node_jaccard(
    graph: OnionGraph,
    layer: str,
    min_jaccard: float = 0.0,
    max_nbr_df: int | None = 1000,
) -> DataFrame:
    """Structural node similarity (link-prediction primitive): for
    pairs of `layer` nodes sharing >= 1 undirected neighbor,
    Jaccard = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|.

    Same sub-quadratic shape as shingle dedup: nodes pair only
    through shared neighbors, so the self-join fan-out is bounded by
    neighbor document-frequency; `max_nbr_df` drops hub neighbors
    (a node adjacent to everything pairs everything — the semantic
    skew cap AQE can't apply for you). Returns
    (id_a, id_b, jaccard), id_a < id_b, jaccard >= min_jaccard,
    rounded to 6 dp.
    """
    sym = graph.cached_symmetrized()
    nbr = (
        sym.filter(F.col("src_layer") == layer)
        .select(
            F.col("src_id").alias("id"),
            F.concat_ws(":", "dst_layer", "dst_id").alias("nbr"),
        )
        .distinct()
        .localCheckpoint()
    )
    if max_nbr_df is not None:
        hot = (
            nbr.groupBy("nbr")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_nbr_df)
            .select("nbr")
        )
        nbr_f = nbr.join(F.broadcast(hot), on="nbr", how="left_anti").localCheckpoint()
    else:
        nbr_f = nbr
    sizes = nbr_f.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        nbr_f.alias("a")
        .join(nbr_f.alias("b"), on="nbr")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _triangles(canon: DataFrame, deg: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The one triangle listing (node-iterator++, Suri & Vassilvitskii
    2011), behind `triangle_count`, `local_clustering_coefficient` and
    `clique4_count`. `canon` holds canonical pairs (a, b) with a < b,
    `deg` the degree d of each node key n.

    Every pair is oriented from its endpoint smaller by (degree, key)
    to the larger one, and that orientation is cut: the wedge count
    drops from sum(deg^2) to a sum of min-degrees, so a power-law hub
    never pivots a wedge. Wedges x->y, x->z pivot at x, and one
    semi-join on the orientation closes y->z, so each triangle is
    listed once as (x, y, z). Returns (the cut orientation (src, dst,
    dd: the degree of dst), the triangles)."""
    with_deg = canon.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
    ).localCheckpoint()
    wedges = o.select(
        F.col("src").alias("x"), F.col("dst").alias("y"), F.col("dd").alias("dy")
    ).join(
        o.select(
            F.col("src").alias("x"), F.col("dst").alias("z"), F.col("dd").alias("dz")
        ),
        on="x",
    ).filter(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    tri = wedges.join(
        o.select(F.col("src").alias("y"), F.col("dst").alias("z")),
        on=["y", "z"],
        how="left_semi",
    ).select("x", "y", "z")
    return o, tri


def triangle_count(graph: OnionGraph) -> DataFrame:
    """Count undirected triangles over the graph's canonical edges
    (key(a) < key(b), deduped, self-loops dropped): the size of the
    degree-ordered listing `_triangles`, which finds each triangle
    exactly once. Returns a 1-row DataFrame(n_triangles).
    """
    _, tri = _triangles(graph.canonical_edges(), graph.canonical_degrees())
    return tri.agg(F.count("*").cast("bigint").alias("n_triangles"))


def local_clustering_coefficient(graph: OnionGraph) -> DataFrame:
    """Per-node local clustering coefficient:
    cc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)), 0 when
    deg(v) < 2 — the standard community-density signal next to the
    global triangle count.

    Triangle corners come from the same listing as triangle_count
    (`_triangles`: wedges pivot at the min-degree endpoint, so hubs
    never fan out); each triangle contributes one count to each of
    its three corners. Degrees are over the canonical undirected
    edge set. Returns (layer, node_id, degree, n_triangles,
    clustering_coeff) over all nodes, coefficient rounded to 6 dp.
    """
    deg = graph.canonical_degrees()
    _, tri = _triangles(graph.canonical_edges(), deg)
    corners = (
        reduce(DataFrame.unionByName, [tri.select(F.col(c).alias("n")) for c in "xyz"])
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    d, t = F.coalesce("d", F.lit(0)), F.coalesce("t", F.lit(0))
    return (
        graph.nodes.select("layer", "node_id", graph.node_key_col().alias("n"))
        .join(deg, on="n", how="left")
        .join(corners, on="n", how="left")
        .select(
            "layer",
            "node_id",
            d.cast("bigint").alias("degree"),
            t.cast("bigint").alias("n_triangles"),
            F.when(d >= 2, F.round(F.lit(2.0) * t / (F.col("d") * (F.col("d") - 1)), 6))
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def neighborhood_function_sketch(
    graph: OnionGraph,
    radius: int = 3,
    k: int = 8,
    direction: str = "downstream",
) -> DataFrame:
    """ANF-style neighborhood function (Palmer et al. 2002 /
    HyperANF, Boldi et al. 2011), with k-mins sketches instead of
    HLL registers: estimate |ball(v, radius)| — the number of nodes
    within `radius` hops — for EVERY node simultaneously, the
    primitive behind effective-diameter and centrality profiles that
    exact all-pairs BFS (O(n*m)) can't deliver at scale.

    Each node starts with k uniform draws u_j(v) = int(md5(j|key)
    [:8 hex]) / 2^32; one round propagates sketches across edges and
    takes the elementwise MIN, so after r rounds slot j holds
    min{u_j(w) : w in ball(v, r)} — the k-mins sketch of the ball as
    a SET (min is idempotent, duplicates are free). The MLE estimate
    is k / sum_j(m_j) - 1. Per round: one join keyed on the edge
    endpoint + one groupBy MIN — linear in edges, wide rows (k
    doubles) instead of exploded rows, same layout argument as the
    minhash signature aggregation.

    Every draw is a deterministic function of md5, so the result is
    exactly reproducible — the DuckDB oracle unrolls the identical
    recurrence (full hash-match, not a tolerance check). Estimator
    error is the standard k-mins bound (~1/sqrt(k-2) relative), and
    at scale you raise k, not rounds.

    Returns (layer, node_id, est_ball) with est_ball rounded to 6 dp.
    """
    return _kmins_estimate(_kmins_states(graph, radius, k, direction)[-1], k)


def _kmins_states(
    graph: OnionGraph,
    radius: int,
    k: int,
    direction: str,
):
    """Run the k-mins propagation once, returning the checkpointed
    per-round states [s_1, .., s_radius] (the s_0 init frame when
    radius == 0). State after r rounds IS the radius-r sketch —
    identical init draws, identical per-round elementwise MIN — so
    multi-radius consumers (the growth profile) read intermediate
    states instead of re-running the propagation per radius."""
    if direction not in ("downstream", "upstream"):
        raise ValueError("direction must be 'upstream' or 'downstream'")
    key = graph.node_key_col()
    mcols = [f"m{j}" for j in range(k)]
    init = [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}|"), key)), 1, 8), 16, 10
            ).cast("bigint")
            / F.lit(float(2**32))
        ).alias(f"m{j}")
        for j in range(k)
    ]
    return _sketch_propagate(graph, radius, direction, init, mcols, F.min)


def _sketch_propagate(
    graph: OnionGraph,
    radius: int,
    direction: str,
    init: list,
    mcols: list[str],
    agg_fn,
):
    """Shared wide-column sketch propagation (k-mins MIN / HLL MAX):
    per round one edge-keyed join + one groupBy elementwise
    aggregate, returning the checkpointed per-round states.

    Deliberately STRING-keyed: an int-keyed interior (the
    collision-checked xxhash64 pattern that won for the BFS/CC
    families) was A/B'd in r10 and measured 2-4x SLOWER here
    (hyperanf 3.8s string vs 16.2s int min, anf 1.4 vs 3.3 on
    adjacent memoized-view probes) — the k/m wide sketch columns
    dominate every exchanged row, so the narrow key saves almost
    nothing while the per-state (layer, node_id) re-attach join and
    the index build add whole extra exchanges."""
    s = graph.nodes.select("layer", "node_id", *init).localCheckpoint()
    if radius == 0:
        return [s]
    # instance-cached oriented endpoints: the ANF-family queries run
    # on the session-memoized entity view (r10), so this persisted
    # projection is built once and shared across anf / hyperanf /
    # anf_growth and their bench iterations instead of paying a
    # query-scoped checkpoint per call (the persist is released by
    # the instance's __del__ for genuinely throwaway views)
    e = graph.cached_endpoints(direction)
    states = []
    for _ in range(radius):
        prop = (
            e.join(
                s.select(
                    F.col("layer").alias("dst_layer"),
                    F.col("node_id").alias("dst_id"),
                    *mcols,
                ),
                on=["dst_layer", "dst_id"],
            )
            .select(
                F.col("src_layer").alias("layer"),
                F.col("src_id").alias("node_id"),
                *mcols,
            )
        )
        s = (
            s.unionByName(prop)
            .groupBy("layer", "node_id")
            .agg(*[agg_fn(c).alias(c) for c in mcols])
            .localCheckpoint()
        )
        states.append(s)
    return states


def _kmins_estimate(s: DataFrame, k: int) -> DataFrame:
    total = None
    for j in range(k):
        c = f"m{j}"
        total = F.col(c) if total is None else total + F.col(c)
    return s.select(
        "layer",
        "node_id",
        F.round(F.lit(float(k)) / total - F.lit(1.0), 6).alias("est_ball"),
    )


def neighborhood_growth_states(
    graph: OnionGraph,
    max_radius: int = 3,
    k: int = 8,
    direction: str = "downstream",
) -> list[DataFrame]:
    """Per-radius sketch read-outs [(layer, node_id, est_ball) at
    radius 1 .. max_radius] from ONE propagation loop. Each frame is
    bit-identical to ``neighborhood_function_sketch(graph, radius=r,
    k=k)`` (same md5 draws, same MIN recurrence, same MLE select) —
    the growth profile pays max_radius rounds instead of
    1 + 2 + .. + max_radius."""
    if max_radius < 1:
        # ADVICE r10: a 0-radius call would return the radius-0 init
        # frame as a single element, which callers enumerating from
        # radius 1 would mislabel; the docstring promises radii
        # 1..max_radius, so demand at least one.
        raise ValueError(f"max_radius must be >= 1, got {max_radius}")
    return [
        _kmins_estimate(s, k)
        for s in _kmins_states(graph, max_radius, k, direction)
    ]


def harmonic_closeness_sampled(
    graph: OnionGraph,
    sources: list[tuple[str, str]],
    max_depth: int = 8,
    direction: str = "downstream",
) -> DataFrame:
    """Sampled harmonic centrality (Marchiori-Latora; Boldi-Vigna's
    recommended closeness variant because unreachable pairs
    contribute 0 instead of breaking the mean): with pivots P,
    H(v) = sum over p in P, p != v, d(p,v) finite of 1 / d(p, v).
    Uniform pivots give the standard unbiased n/|P|-scaled estimate;
    the per-pivot cost is one batched BFS level set, shared across
    ALL pivots via multi_source_bfs.

    Exact-arithmetic contract: 1/d terms are summed as
    lcm(1..max_depth)/d INTEGERS (exact, order-independent) and
    divided by the lcm once at the end, so the result is
    deterministic under any aggregation order and hash-matches the
    SQL oracle — float summation of 1/3 + 1/6 + ... would be
    ulp-sensitive to partial-aggregation order.

    Returns (layer, node_id, harmonic) over all nodes, 0.0 for
    nodes no pivot reaches, rounded to 6 dp.
    """
    from math import lcm

    from onionnet_spark.operators.traversal import multi_source_bfs

    scale = lcm(*range(1, max_depth + 1))
    d = multi_source_bfs(graph, sources, direction, max_dist=max_depth)
    h = (
        d.filter(F.col("dist") > 0)
        .groupBy("layer", "node_id")
        .agg(F.sum(F.expr(f"{scale} div dist")).alias("hs"))
    )
    return (
        graph.nodes.select("layer", "node_id")
        .join(h, on=NODE_KEY, how="left")
        .select(
            "layer",
            "node_id",
            F.round(
                F.coalesce(F.col("hs"), F.lit(0)) / F.lit(float(scale)), 6
            ).alias("harmonic"),
        )
    )


def hits(graph: OnionGraph, n_iterations: int = 3) -> DataFrame:
    """HITS hubs & authorities (Kleinberg), fixed iteration count.

    a_{i}(v) = sum_{u->v} h_{i-1}(u);  h_{i}(u) = sum_{u->v} a_{i}(v),
    h_0 = 1. Iterates are kept UN-normalized: starting from integer 1
    they stay exact integers (sums of integer products commute in any
    order below 2^53), so the trajectory is bit-identical in every
    engine — the usual per-round L2 normalization would inject a
    global float sum whose summation order is engine-specific.
    Normalization to L1 = 1 happens exactly once, at the end, from
    integer totals. Callers must keep n_iterations small enough that
    values stay under 2^53 (growth is bounded by (max degree)^2 per
    round); the default 3 is safe through sf well beyond the bench.

    Scale shape: each round is two `_push` steps, src -> dst for the
    authorities and dst -> src for the hubs. The edge list is
    pre-shuffled once on each join key and checkpointed, so every
    round reuses two cached exchanges and only the sparse score
    tables move (never broadcast).
    """
    e = graph.edge_endpoints()
    e_by_src = e.repartition("src_layer", "src_id").localCheckpoint()
    e_by_dst = e.repartition("dst_layer", "dst_id").localCheckpoint()
    hub = graph.nodes.select(*NODE_KEY, F.lit(1.0).alias("h"))
    for _ in range(n_iterations):
        auth = _push(e_by_src, hub, "src", "dst", F.sum("h").alias("a"))
        auth = auth.localCheckpoint(eager=False)
        hub = _push(e_by_dst, auth, "dst", "src", F.sum("a").alias("h"))
        hub = hub.localCheckpoint(eager=False)
    totals = auth.agg(F.sum("a").alias("ta")).crossJoin(
        hub.agg(F.sum("h").alias("th"))
    )
    return (
        graph.nodes.select(*NODE_KEY)
        .join(auth, on=NODE_KEY, how="left")
        .join(hub, on=NODE_KEY, how="left")
        .crossJoin(F.broadcast(totals))
        .select(
            *NODE_KEY,
            F.round(F.coalesce("a", F.lit(0.0)) / F.col("ta"), 6).alias(
                "authority"
            ),
            F.round(F.coalesce("h", F.lit(0.0)) / F.col("th"), 6).alias("hub"),
        )
    )


def eigenvector_centrality(graph: OnionGraph, n_iterations: int = 4) -> DataFrame:
    """Eigenvector centrality by power iteration on the SYMMETRIZED
    adjacency (graph-tool's `eigenvector` on an undirected view):
    x_{k+1}(v) = sum_{u~v} x_k(u), x_0 = 1.

    Iterates stay un-normalized whole doubles (exact integers below
    2^53, order-independent sums — the HITS trick above), so the
    trajectory is bit-identical in every engine; the single L1
    normalization happens once at the end. x_k(v) counts k-walks
    ending at v, so callers keep n_iterations small enough that the
    total walk count stays under 2^53 — the default 4 is safe on the
    bench graphs because high-degree hubs only neighbor low-degree
    nodes (bipartite-ish layers), which caps per-round growth.

    Scale shape: the symmetrized edge view comes from the per-graph
    persisted cache and is pre-shuffled ONCE on the gather key; each
    round is one `_push` moving only (node, score) rows. The handful
    of iterations stay one LAZY plan (no per-round checkpoint
    blocks): the nesting is shallow, and not writing a block-manager
    entry per round keeps a long bench / notebook session from
    churning out the per-graph persisted views other analytics
    depend on. Past ~8 rounds, re-introduce a lineage cut.
    """
    e_by_src = (
        graph.cached_symmetrized()
        .repartition("src_layer", "src_id")
        .localCheckpoint()
    )
    x = graph.nodes.select(*NODE_KEY, F.lit(1.0).alias("x"))
    for _ in range(n_iterations):
        x = _push(e_by_src, x, "src", "dst", F.sum("x").alias("x"))
    total = x.agg(F.sum("x").alias("tx"))
    return (
        graph.nodes.select(*NODE_KEY)
        .join(x, on=NODE_KEY, how="left")
        .crossJoin(F.broadcast(total))
        .select(
            *NODE_KEY,
            F.round(F.coalesce("x", F.lit(0.0)) / F.col("tx"), 6).alias(
                "eigenvector"
            ),
        )
    )


def katz_centrality(
    graph: OnionGraph,
    n_iterations: int = 4,
    inv_alpha: int = 8,
) -> DataFrame:
    """Katz centrality, truncated series: c = sum_{k=1..n} a^k (A^k 1)
    over the DIRECTED in-edge adjacency (a walk INTO v confers
    status), with attenuation a = 1/inv_alpha.

    Engine-exact trick: the recurrence is computed in the SCALED
    integer domain z_n = inv_alpha^n * c_n, which satisfies
    z_n = A (z_{n-1} + inv_alpha^{n-1}) with z_0 = 0 — every iterate
    is a whole double (exact below 2^53, sum-order independent), and
    the single division by inv_alpha^n happens once at the end.
    inv_alpha must be an integer >= 2 (alpha below 1/spectral-radius
    keeps the truncated series close to convergent; 1/8 is safely
    below for the bench graphs).

    Each round is one `_push` of z along the edges, broadcast while
    the node count fits the budget (the edge side is then a cut scan,
    never exchanged; past it the edges are pre-shuffled once). The
    step's LEFT join + coalesce(z, 0) lets a source absent from z (no
    in-edges last round) contribute exactly the seed term, so no
    round re-anchors against the full node set; that happens once,
    at the end.

    Invariant (r9 ADVICE): edge endpoints must be a subset of
    graph.nodes — the OnionGraph builders guarantee this (builder.py
    derives edges from the same rows that become nodes). Because no
    round re-anchors, an edge whose src is absent from graph.nodes
    would contribute its seed term to the dst instead of being
    dropped; if you construct an OnionGraph by hand with dangling-src
    edges, pre-filter them (edges.join(nodes, src-key, "left_semi"))
    before calling this.
    """
    if inv_alpha < 2:
        raise ValueError(f"inv_alpha must be >= 2, got {inv_alpha}")
    small_state = graph.cached_n_nodes() <= BROADCAST_MAX
    e_by_src = graph.edge_endpoints()
    if not small_state:
        e_by_src = e_by_src.repartition("src_layer", "src_id")
    e_by_src = e_by_src.localCheckpoint()
    z = graph.nodes.select(*NODE_KEY, F.lit(0.0).alias("z"))
    for k in range(1, n_iterations + 1):
        seed = float(inv_alpha ** (k - 1))
        z = _push(
            e_by_src, z, "src", "dst",
            F.sum(F.coalesce("z", F.lit(0.0)) + F.lit(seed)).alias("z"),
            bcast=small_state, how="left",
        ).localCheckpoint(eager=False)
    scale = float(inv_alpha**n_iterations)
    # nodes with no in-edges never enter the aggregate: katz = 0
    return (
        graph.nodes.select(*NODE_KEY)
        .join(F.broadcast(z) if small_state else z, on=NODE_KEY, how="left")
        .select(
            *NODE_KEY,
            F.round(F.coalesce("z", F.lit(0.0)) / scale, 6).alias("katz"),
        )
    )


def _truss_sweep(cur: DataFrame, min_sup: int) -> DataFrame:
    """One edge-peel sweep: the edges (a, b) of `cur` that close at
    least `min_sup` triangles within `cur`, with that count as
    `support`. Support is the common-neighbor equi-join (adjacency
    joined twice on the shared third vertex), which shuffles on node
    keys only; below one triangle the triangle-free edges are kept
    with support 0."""
    cur = cur.select("a", "b")
    adj = cur.union(cur.select("b", "a"))
    x = adj.select("a", F.col("b").alias("w"))
    y = adj.select(F.col("a").alias("b"), F.col("b").alias("w"))
    sup = (
        cur.join(x, on="a")
        .join(y, on=["b", "w"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
    )
    if min_sup <= 0:
        sup = cur.join(sup, on=["a", "b"], how="left").fillna(0, ["support"])
    return sup.filter(F.col("support") >= min_sup)


def _truss_peel(
    edges: DataFrame, a_col: str, b_col: str, ks, name: str
) -> list[tuple[DataFrame, int]]:
    """The undirected pairs of `edges`, then the k-truss for each k of
    the rising `ks`, each as (frame (a, b, support), row count). Each
    k-truss is peeled from the previous one by `_truss_sweep` to
    fixpoint: the sweep is cut and counted in one job, and the phase
    ends when the count does not change, so the last sweep's support
    is counted within the truss itself. The first sweep of every later
    phase is therefore a filter on that support column, with no
    triangle enumeration. Every sweep but the last of a phase drops
    an edge, so |E| + len(ks) sweeps always suffice; the budget error
    is a backstop. Deep schedules rebase through
    IterCheckpointer (see ckpt.py)."""
    ck = IterCheckpointer(rebase_every=8, prefix="onionnet_truss_")
    cur, n = ck.cut_count(
        _pairs(edges, a_col, b_col).withColumn("support", F.lit(0).cast("bigint"))
    )
    out, budget, sweeps = [(cur, n)], n + len(ks), 0
    for phase, k in enumerate(ks):
        prev = -1
        while n and n != prev:
            sweeps += 1
            if sweeps > budget:
                raise RuntimeError(
                    f"{name} did not converge within {budget} sweeps "
                    f"({n} edges still peeling at k={k})"
                )
            # a later phase opens on the last phase's fixpoint, whose
            # support is counted within the current edges: its first
            # sweep is a filter on that column
            sweep = (
                cur.filter(F.col("support") >= k - 2)
                if phase and prev < 0
                else _truss_sweep(cur, k - 2)
            )
            prev = n
            cur, n = ck.cut_count(sweep)
        out.append((cur, n))
    return out


def k_truss(
    edges: DataFrame,
    k: int = 4,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """k-truss: the maximal subgraph in which every edge closes at
    least k-2 triangles, peeled to fixpoint by `_truss_peel` (for
    k <= 2 that is every edge).

    Input is an undirected edge list; rows are canonicalized to
    (min, max) and deduplicated. Returns surviving edges
    (a, b, support) with support counted in the k-truss itself.
    Scale: per-sweep cost is triangle enumeration on the current
    (shrinking) edge set; support is monotone non-increasing under
    deletion, so peeling converges in a handful of sweeps on real
    skews.
    """
    return _truss_peel(edges, a_col, b_col, [k], "k_truss")[-1][0]


def trussness(
    edges: DataFrame,
    k_max: int = 8,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Full truss decomposition: each edge's truss number (the max k
    for which it survives in the k-truss) — the edge-level analogue
    of coreness, and the standard community-strength ordering for
    edges. `_truss_peel` runs the k-trusses for k = 3..k_max + 1, each
    to fixpoint from the previous one; an edge's trussness is the last
    k whose truss holds it (2 if it never makes the 3-truss). The
    (k_max + 1)-truss must come up empty: otherwise trussness k_max
    would be a silent truncation, so a RuntimeError is raised instead.
    Returns (a, b, trussness).
    """
    peel = _truss_peel(edges, a_col, b_col, range(3, k_max + 2), "trussness")
    if peel[-1][1]:
        raise RuntimeError(
            f"trussness: {peel[-1][1]} edges are in the {k_max + 1}-truss; "
            "raise k_max"
        )
    tagged = [
        t.select("a", "b", F.lit(k).alias("k"))
        for k, (t, _) in enumerate(peel[:-1], 2)
    ]
    return reduce(DataFrame.unionByName, tagged).groupBy("a", "b").agg(
        F.max("k").cast("int").alias("trussness")
    )


def _retire(live: DataFrame, step, name: str) -> DataFrame:
    """The one symmetry-breaking loop, behind `maximal_matching`,
    `maximal_independent_set` and `greedy_coloring`. `live` holds the
    items still in play (edges or nodes). Each round `step(live)`
    returns (winners, stay): the round's winners, elected by md5
    priority, and `stay`, which maps the winners to the items that
    stay live. The loop cuts the winners lazily and hands that cut to
    `stay`, so the one job that cuts and counts the live set
    (`IterCheckpointer.cut_count`) also materializes the winners,
    which are computed once. It ends when nothing is live and returns
    the union of the per-round winners.

    Each round retires at least the live item with the extreme md5
    priority, so |live| + 1 rounds always suffice; an exhausted budget
    is a backstop that raises a RuntimeError naming `name` and the
    round count."""
    ck = IterCheckpointer(prefix="onionnet_retire_")
    live, n = ck.cut_count(live)
    rounds, won = n + 1, []
    for _ in range(rounds):
        wins, stay = step(live)
        won.append(ck.cut(wins, eager=False))
        live, n = ck.cut_count(stay(won[-1]))
        if not n:
            return reduce(DataFrame.unionByName, won)
    raise RuntimeError(
        f"{name} did not converge within {rounds} rounds ({n} items still "
        "live); every round retires at least one"
    )


def _sym(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Both directions (u, v) of the undirected pairs of an edge list
    (`_pairs`), cut."""
    e = _pairs(edges, a_col, b_col)
    return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint()


def maximal_matching(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Greedy maximal matching by distributed symmetry breaking
    (the classic local-min-edge rule): an edge joins the matching
    when its deterministic priority (md5 of the canonical pair) is
    the minimum among ALL live edges at both of its endpoints; matched
    endpoints and their incident edges drop, and the rule repeats
    until no edge is live (`_retire` over the edges). Expected
    O(log n) rounds; every round is one node-keyed aggregation (per-node
    min priority) plus joins — no global ordering anywhere.

    Returns the matched edges (a, b).
    """

    def step(e: DataFrame):
        low = (
            e.select(F.col("a").alias("node"), "pri")
            .unionByName(e.select(F.col("b").alias("node"), "pri"))
            .groupBy("node")
            .agg(F.min("pri").alias("mp"))
        )
        m = (
            e.join(low.select(F.col("node").alias("a"), F.col("mp").alias("mpa")), on="a")
            .join(low.select(F.col("node").alias("b"), F.col("mp").alias("mpb")), on="b")
            .filter((F.col("pri") == F.col("mpa")) & (F.col("pri") == F.col("mpb")))
            .select("a", "b")
        )

        def stay(m: DataFrame) -> DataFrame:
            used = m.select(F.col("a").alias("n")).unionByName(m.select(F.col("b").alias("n")))
            return e.join(used.withColumnRenamed("n", "a"), on="a", how="left_anti").join(
                used.withColumnRenamed("n", "b"), on="b", how="left_anti"
            )

        return m, stay

    e = _pairs(edges, a_col, b_col).withColumn("pri", F.md5(F.concat_ws("|", "a", "b")))
    return _retire(e, step, "maximal_matching")


def maximal_independent_set(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Luby's maximal independent set — the other classic distributed
    symmetry-breaking primitive next to maximal_matching: each round,
    an active node joins the MIS when its deterministic priority
    (md5 of the node key) is strictly smaller than every ACTIVE
    neighbor's; selected nodes and their neighbors deactivate, and
    the rule repeats until no node is active (`_retire` over the
    nodes). Actives with no remaining active neighbor join
    unconditionally. Expected O(log n) rounds; every round is one
    node-keyed neighbor-min aggregation plus joins — no global
    ordering anywhere, the 100 TB shape.

    Returns the MIS members as (node).
    """
    sym = _sym(edges, a_col, b_col)

    def step(live: DataFrame):
        e = sym.join(live.select(F.col("node").alias("u")), on="u", how="left_semi").join(
            live.select(F.col("node").alias("v")), on="v", how="left_semi"
        )
        low = e.groupBy(F.col("u").alias("node")).agg(F.min(F.md5("v")).alias("mn"))
        wins = (
            live.join(low, on="node", how="left")
            .filter(F.col("mn").isNull() | (F.md5("node") < F.col("mn")))
            .select("node")
        )

        def stay(wins: DataFrame) -> DataFrame:
            # a winner's neighbors outside `live` are gone already
            dead = wins.unionByName(
                sym.join(wins.select(F.col("node").alias("u")), on="u").select(
                    F.col("v").alias("node")
                )
            )
            return live.join(dead, on="node", how="left_anti")

        return wins, stay

    nodes = sym.select(F.col("u").alias("node")).distinct()
    return _retire(nodes, step, "maximal_independent_set")


def spectral_bisection(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    iterations: int = 8,
    target: int = 1_000_000,
) -> DataFrame:
    """Spectral graph bisection: the sign pattern of the Fiedler
    vector (second-smallest Laplacian eigenvector), computed by a
    DEFLATED power iteration on M = cI - L with c = maxdeg + 1 —
    the dominant eigenvector of M is the constant vector (lambda_L
    = 0), so every step re-projects out the mean: u = n*(Mv) -
    sum(Mv), keeping the iterate in the Fiedler-dominant subspace.

    Engine-exact: all arithmetic is BIGINT — the seed is an md5
    digit-fold, and each step renormalizes by the data-dependent
    divisor d = max(1, max|u| // target) via the portable floor
    division (x - ((x % d + d) % d)) / d (DuckDB's % truncates where
    Spark floors; the double-mod makes both floor, and the division
    is exact by construction) — so the iterate magnitude stays
    ~`target` on ANY graph size (a fixed divisor either overflows on
    big graphs or collapses the vector on small ones). Fixed
    `iterations` IS the spec, like the LPA/HITS/Katz family. Per
    step: one neighbor-sum aggregation + three broadcast scalars.
    Returns (node, fiedler_q, side) with side in {-1, 0, 1}.
    """
    sym = _sym(edges, a_col, b_col)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    ).localCheckpoint()
    consts = deg.agg(
        (F.max("deg") + 1).cast("long").alias("c"),
        F.count("*").cast("long").alias("n"),
    )
    fold = F.translate(F.substring(F.md5("node"), 1, 6), "abcdef", "012345")
    v = deg.select(
        "node", (fold.cast("long") - 500000).alias("v")
    ).localCheckpoint()

    for _ in range(iterations):
        nbr = (
            sym.join(v.select(F.col("node").alias("v"), F.col("v").alias("vn")), on="v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("vn").cast("long").alias("nsum"))
        )
        w = (
            v.join(deg, on="node")
            .join(nbr, on="node", how="left")
            .crossJoin(F.broadcast(consts))
            .select(
                "node",
                "n",
                (
                    (F.col("c") - F.col("deg")) * F.col("v")
                    + F.coalesce("nsum", F.lit(0))
                ).cast("long").alias("w"),
            )
        )
        # ONE scalar pass per round (r11; was two: a sum for the mean
        # deflation, then a max|x| over the projected frame): x =
        # n*w - tot is monotone in w, so max|x| = max(n*max(w) - tot,
        # tot - n*min(w)) — the deflation total, the renormalization
        # divisor and the projected iterate all come off a single
        # (sum, max, min) aggregate of w. Same exact integer algebra:
        # the divisor expression below is byte-identical to the old
        # two-job form on the same max|x| value.
        stats = w.agg(
            F.sum("w").cast("long").alias("tot"),
            F.max("w").cast("long").alias("maxw"),
            F.min("w").cast("long").alias("minw"),
        )
        mx = F.greatest(
            F.col("n") * F.col("maxw") - F.col("tot"),
            F.col("tot") - F.col("n") * F.col("minw"),
        )
        v = (
            w.crossJoin(F.broadcast(stats))
            .select(
                "node",
                (F.col("n") * F.col("w") - F.col("tot")).alias("x"),
                F.greatest(
                    F.lit(1).cast("long"),
                    ((mx - mx % target) / target).cast("long"),
                ).alias("d"),
            )
            # `div` is integral long division (exact at any magnitude;
            # a double `/` would lose exactness past 2^53 on graphs
            # big enough that n * w overflows the mantissa)
            .select(
                "node",
                F.expr("(x - ((x % d) + d) % d) div d").cast("long").alias("v"),
            )
            .localCheckpoint()
        )
    return v.select(
        "node",
        F.col("v").alias("fiedler_q"),
        F.when(F.col("v") > 0, 1)
        .when(F.col("v") < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("side"),
    )


def boruvka_msf(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    weight_col: str = "w",
) -> DataFrame:
    """Minimum spanning forest by Borůvka's algorithm — THE
    distributed MST (Kruskal/Prim are inherently sequential): every
    round, each component selects its minimum outgoing edge under
    the total order (weight, md5 edge key) — the tie-break makes
    weights effectively distinct, so the MSF is UNIQUE and any
    correct algorithm must produce this exact edge set (which is
    what lets the oracle verify via the Kruskal cut property instead
    of replaying rounds). Selected edges join the forest; components
    merge by star contraction (`components._star_fixpoint`) over the
    (component, component) graph of the selected edges, so each node
    takes the minimum label of its merged component. Each round at
    least halves the number of components that still have crossing
    edges, so ⌈log2 |V|⌉ + 1 rounds always end with none, and the
    contraction runs on component-count-sized data, never the edge
    list.

    Returns the forest edges (a, b, w). A RuntimeError is raised if
    cross-component edges survive that budget (a backstop) or a
    contraction does not converge.
    """
    a, b = F.col(a_col).cast("string"), F.col(b_col).cast("string")
    e = (
        edges.select(
            F.least(a, b).alias("a"),
            F.greatest(a, b).alias("b"),
            F.col(weight_col).alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .withColumn("ekey", F.md5(F.concat_ws("|", "a", "b")))
        .localCheckpoint()
    )
    ck = IterCheckpointer(prefix="onionnet_boruvka_")
    labels, n = ck.cut_count(
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    rounds, forest = max(n - 1, 0).bit_length() + 1, []
    pick = F.min_by(
        F.struct("a", "b", "w", "la", "lb"),
        F.struct(F.col("w").alias("pw"), F.col("ekey").alias("pk")),
    ).alias("m")
    for _ in range(rounds):
        el, n_cross = ck.cut_count(
            e.join(labels.select(F.col("node").alias("a"), F.col("lbl").alias("la")), on="a")
            .join(labels.select(F.col("node").alias("b"), F.col("lbl").alias("lb")), on="b")
            .filter(F.col("la") != F.col("lb"))
        )
        if not n_cross:
            return reduce(DataFrame.unionByName, forest, e.select("a", "b", "w").limit(0))
        # each component's min edge over BOTH endpoint views; the two
        # components an edge joins can both pick it, hence the distinct
        # (a later round never re-picks a forest edge: its endpoints
        # share a label by then)
        sel = ck.cut(
            el.select(F.col("la").alias("lbl"), "a", "b", "w", "ekey", "la", "lb")
            .unionByName(el.select(F.col("lb").alias("lbl"), "a", "b", "w", "ekey", "la", "lb"))
            .groupBy("lbl")
            .agg(pick)
            .select("m.*")
            .distinct(),
            eager=False,
        )
        forest.append(sel.select("a", "b", "w"))
        merged = _star_fixpoint(
            sel.select(F.col("la").alias("a"), F.col("lb").alias("b")), name="boruvka_msf"
        ).select(F.col("a").alias("lbl"), F.col("b").alias("m"))
        labels = ck.cut(
            labels.join(merged, on="lbl", how="left").select(
                "node", F.coalesce("m", "lbl").alias("lbl")
            ),
            eager=False,
        )
    raise RuntimeError(
        f"boruvka_msf did not converge within {rounds} rounds ({n_cross} "
        "cross-component edges still live); each round at least halves the "
        "components with crossing edges"
    )


def greedy_coloring(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Jones-Plassmann distributed greedy graph coloring: each round,
    every uncolored node whose deterministic md5 priority is STRICTLY
    greater than all of its uncolored neighbors' takes the smallest
    color unused by its already-colored neighbors (the mex). Two
    adjacent nodes can never win the same round, so the coloring is
    proper by construction; colors are bounded by max degree + 1
    (greedy bound).

    `_retire` over the uncolored nodes, each carrying the colors its
    colored neighbors took so far: per round, one neighbor-max
    aggregation over the uncolored nodes, the mex of each winner's
    taken colors (a fold over the sorted distinct array — per-node
    work bounded by degree), and one aggregation that hands the
    winners' colors to their uncolored neighbors. No global ordering
    anywhere. Returns (node, color).
    """
    sym = _sym(edges, a_col, b_col)
    none = F.array().cast("array<int>")
    mex = F.aggregate(
        F.array_sort("taken"),
        F.lit(0),
        lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
    )

    def step(live: DataFrame):
        rival = (
            sym.join(live.select(F.col("node").alias("v")), on="v", how="left_semi")
            .groupBy(F.col("u").alias("node"))
            .agg(F.max(F.md5("v")).alias("mx"))
        )
        wins = (
            live.join(rival, on="node", how="left")
            .filter(F.col("mx").isNull() | (F.md5("node") > F.col("mx")))
            .select("node", mex.alias("color"))
        )

        def stay(wins: DataFrame) -> DataFrame:
            told = (
                sym.join(wins.select(F.col("node").alias("v"), "color"), on="v")
                .groupBy(F.col("u").alias("node"))
                .agg(F.collect_set("color").alias("new"))
            )
            return (
                live.join(wins, on="node", how="left_anti")
                .join(told, on="node", how="left")
                .select("node", F.array_union("taken", F.coalesce("new", none)).alias("taken"))
            )

        return wins, stay

    nodes = sym.select(F.col("u").alias("node")).distinct()
    return _retire(nodes.withColumn("taken", none), step, "greedy_coloring")


def attribute_assortativity(
    edges: DataFrame,
    attrs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    node_col: str = "node",
    attr_col: str = "attr",
) -> DataFrame:
    """Categorical (attribute) assortativity — Newman 2003's trace
    formula over the mixing matrix: with e_ij the fraction of
    undirected edge ENDS joining category i to j, a_i its row sums,
    r = (sum_i e_ii - sum_i a_i^2) / (1 - sum_i a_i^2). Positive =
    like links to like (homophily); -1..0 = disassortative.

    Exact by construction: every e/a term is an integer edge-end
    count over 2m ends; the formula is evaluated as ONE deterministic
    double combination of integer sums (the degree_assortativity
    discipline), so any engine computes the same bits. Two joins of
    the attrs table onto the edge list, a |categories|^2 aggregation.
    Returns one row (n_edges, n_same, r).
    """
    at = attrs.select(F.col(node_col).alias("n"), F.col(attr_col).alias("c"))
    lab = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .join(at.select(F.col("n").alias("u"), F.col("c").alias("ca")), on="u")
        .join(at.select(F.col("n").alias("v"), F.col("c").alias("cb")), on="v")
    )
    # symmetric edge-end counts: each undirected edge contributes one
    # end to (ca, cb) and one to (cb, ca)
    ends = lab.select("ca", "cb").unionByName(
        lab.select(F.col("cb").alias("ca"), F.col("ca").alias("cb"))
    )
    mix = ends.groupBy("ca", "cb").agg(F.count("*").alias("m"))
    row = mix.groupBy("ca").agg(F.sum("m").alias("ra"))
    tot = mix.agg(F.sum("m").alias("t"))
    sums = (
        mix.filter(F.col("ca") == F.col("cb"))
        .agg(F.sum("m").alias("diag"))
        .crossJoin(
            row.crossJoin(tot).agg(
                F.sum(F.col("ra") * F.col("ra")).alias("sq"),
                F.first("t").alias("t"),
            )
        )
    )
    return sums.select(
        (F.col("t") / 2).cast("bigint").alias("n_edges"),
        (F.coalesce("diag", F.lit(0)) / 2).cast("bigint").alias("n_same"),
        (
            (
                F.coalesce("diag", F.lit(0)) * F.col("t") - F.col("sq")
            ).cast("double")
            / (F.col("t") * F.col("t") - F.col("sq")).cast("double")
        ).alias("r"),
    )


def degree_assortativity(graph: OnionGraph) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation between source-node and destination-node total
    degree over all directed edges. Positive = hubs link to hubs.

    All five sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact
    integers (degrees are integers), so the final double-precision
    coefficient is a deterministic function of the graph in any
    engine/summation order. One degree aggregation, two joins to
    annotate edges, one 1-row reduce.
    """
    # int-keyed interior (r10): the degree groupBy and both
    # annotation joins carry 8-byte collision-checked xxhash64 longs
    # instead of (layer, node_id) string pairs. The output is sums
    # over edges only — no node key surfaces — so injective keying
    # (checked at build; string fallback on a clash) preserves every
    # group and join match exactly.
    ie = graph.cached_int_endpoints("downstream")
    if ie is not None:
        e_int, _ = ie
        deg_i = (
            e_int.select(F.col("s").alias("node"))
            .unionByName(e_int.select(F.col("d").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        annotated = e_int.join(
            deg_i.select(F.col("node").alias("s"), F.col("deg").alias("dx")),
            on="s",
        ).join(
            deg_i.select(F.col("node").alias("d"), F.col("deg").alias("dy")),
            on="d",
        )
    else:
        e = graph.edge_endpoints()
        deg = (
            e.select(
                F.col("src_layer").alias("layer"), F.col("src_id").alias("node_id")
            )
            .unionByName(
                e.select(
                    F.col("dst_layer").alias("layer"),
                    F.col("dst_id").alias("node_id"),
                )
            )
            .groupBy("layer", "node_id")
            .agg(F.count("*").alias("deg"))
        )
        annotated = (
            e.join(
                deg.select(
                    F.col("layer").alias("src_layer"),
                    F.col("node_id").alias("src_id"),
                    F.col("deg").alias("dx"),
                ),
                on=["src_layer", "src_id"],
            )
            .join(
                deg.select(
                    F.col("layer").alias("dst_layer"),
                    F.col("node_id").alias("dst_id"),
                    F.col("deg").alias("dy"),
                ),
                on=["dst_layer", "dst_id"],
            )
        )
    sums = annotated.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    da = n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    db = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return sums.select(
        F.col("n").cast("bigint").alias("n_edges"),
        F.when((da > 0) & (db > 0), F.round(num / F.sqrt(da * db), 6)).alias(
            "assortativity"
        ),
    )


def reciprocity(graph: OnionGraph) -> DataFrame:
    """Directed reciprocity: the fraction of edges whose reverse
    edge also exists. One distinct pass + one self semi-join on the
    reversed key — both shuffles on the endpoint-pair key.
    """
    # int-keyed interior (r10): the dedup distinct and the reversed
    # self semi-join shuffle two 8-byte longs per edge instead of
    # four strings. Output is two counts — injective node keying
    # (collision-checked; string fallback) preserves both exactly.
    ie = graph.cached_int_endpoints("downstream")
    if ie is not None:
        e = ie[0].select("s", "d").distinct()
        rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
        recip = e.join(rev, on=["s", "d"], how="left_semi")
    else:
        e = graph.edge_endpoints().select(
            "src_layer", "src_id", "dst_layer", "dst_id"
        ).distinct()
        rev = e.select(
            F.col("dst_layer").alias("src_layer"),
            F.col("dst_id").alias("src_id"),
            F.col("src_layer").alias("dst_layer"),
            F.col("src_id").alias("dst_id"),
        )
        recip = e.join(
            rev,
            on=["src_layer", "src_id", "dst_layer", "dst_id"],
            how="left_semi",
        )
    return e.agg(F.count("*").alias("n_edges")).crossJoin(
        recip.agg(F.count("*").alias("n_reciprocal"))
    ).select(
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.col("n_reciprocal").cast("bigint").alias("n_reciprocal"),
        F.round(
            F.col("n_reciprocal") / F.col("n_edges"), 6
        ).alias("reciprocity"),
    )


def modularity(graph: OnionGraph, assignment: DataFrame) -> DataFrame:
    """Newman modularity Q of a community assignment over the
    SYMMETRIZED simple graph (the graph LPA communities are defined
    on): with A the doubled edge list (each undirected edge in both
    directions, |A| = 2m),
      Q = sum_c [ e_c/|A| - (d_c/|A|)^2 ]
    where e_c counts A-rows internal to c and d_c sums A-out-degrees
    of c's members. Every accumulator is an exact integer count, so
    the single final double combination is engine-stable at 6 dp.

    `assignment` must carry (layer, node_id, community). Returns one
    row: (n_communities, modularity).
    """
    # the deduped forward+reversed union IS cached_symmetrized()'s
    # result set (the invariant only decides whether the dedup
    # exchange is a no-op), so reuse the shared persisted view —
    # callers like graph_modularity already materialized it for LPA
    sym = graph.cached_symmetrized().select(
        "src_layer", "src_id", "dst_layer", "dst_id"
    )
    a = assignment.select(
        F.col("layer").alias("src_layer"),
        F.col("node_id").alias("src_id"),
        F.col("community").alias("cu"),
    )
    b = assignment.select(
        F.col("layer").alias("dst_layer"),
        F.col("node_id").alias("dst_id"),
        F.col("community").alias("cv"),
    )
    annotated = sym.join(a, on=["src_layer", "src_id"]).join(
        b, on=["dst_layer", "dst_id"]
    )
    per_c = annotated.groupBy("cu").agg(
        F.count("*").alias("d_c"),
        F.sum(F.when(F.col("cu") == F.col("cv"), 1).otherwise(0)).alias("e_c"),
    )
    totals = per_c.agg(
        F.count("*").alias("n_communities"),
        F.sum("d_c").alias("m2"),
        F.sum("e_c").alias("e_in"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("d_sq"),
    )
    m2 = F.col("m2").cast("double")
    return totals.select(
        F.col("n_communities").cast("bigint").alias("n_communities"),
        F.round(
            F.col("e_in").cast("double") / m2
            - F.col("d_sq").cast("double") / (m2 * m2),
            6,
        ).alias("modularity"),
    )


def louvain_move_round(graph: OnionGraph) -> DataFrame:
    """One synchronous Louvain sweep from singleton communities —
    the distributed first phase of Louvain community detection
    (Blondel et al. 2008; synchronized-move variant per the
    distributed adaptations, e.g. Sotera DGA): every node evaluates
    the modularity gain of joining each neighbor's community and
    moves to the best strictly-positive one.

    From singletons the gain of i joining {j} reduces (up to the
    community-independent removal term and the global 1/(2m)^2
    scale) to the INTEGER modularity-matrix entry
        gain_num = 2m - k_i * k_j          (w_ij = 1, simple graph)
    so the move rule is exact integer arithmetic: argmax over
    neighbors = min k_j, tie-break min neighbor key. Synchronous
    sweeps can oscillate on symmetric pairs (i<->j swap forever), so
    moves are restricted to neighbors with a SMALLER node key — the
    standard distributed symmetry break; one sweep strictly
    increases modularity whenever any gain is positive.

    Shuffles: one symmetrize+distinct, one degree aggregation, one
    join + per-node window partitioned by node. Returns
    (layer, node_id, community, moved, gain_num); community is the
    chosen neighbor's 'layer:id' key (own key when no positive-gain
    smaller-key neighbor exists). Compose with `modularity` to
    measure the sweep.
    """
    from pyspark.sql import Window

    # the deduped forward+reversed union IS cached_symmetrized()'s
    # result set (see modularity) — reuse the shared persisted view
    # instead of hand-rebuilding it: the three consumers below (deg,
    # m2, cand) scan ONE materialization instead of each re-running
    # the union+distinct, and under the edges_unique_undirected
    # invariant the dedup exchange is skipped outright
    sym = graph.cached_symmetrized().filter(
        (F.col("src_layer") != F.col("dst_layer"))
        | (F.col("src_id") != F.col("dst_id"))
    )
    ukey = F.concat_ws(":", "src_layer", "src_id")
    vkey = F.concat_ws(":", "dst_layer", "dst_id")
    pairs = sym.select(ukey.alias("u"), vkey.alias("v"))
    deg = pairs.groupBy("u").agg(F.count("*").alias("k"))
    m2 = pairs.agg(F.count("*").alias("m2"))
    cand = (
        pairs.filter(F.col("v") < F.col("u"))
        .join(deg.withColumnRenamed("k", "ki"), on="u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("k").alias("kj")),
            on="v",
        )
        .crossJoin(F.broadcast(m2))
        .withColumn("gain_num", F.col("m2") - F.col("ki") * F.col("kj"))
        .filter(F.col("gain_num") > 0)
    )
    w = Window.partitionBy("u").orderBy("kj", "v")
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("u", F.col("v").alias("bc"), "gain_num")
    )
    nodes = graph.nodes.select(
        "layer", "node_id", F.concat_ws(":", "layer", "node_id").alias("u")
    )
    return nodes.join(best, on="u", how="left").select(
        "layer",
        "node_id",
        F.coalesce(F.col("bc"), F.col("u")).alias("community"),
        F.col("bc").isNotNull().alias("moved"),
        F.coalesce(F.col("gain_num"), F.lit(0)).cast("bigint").alias("gain_num"),
    )


def count_paths_to(
    graph: OnionGraph, target: tuple[str, str], max_len: int = 5
) -> DataFrame:
    """Distinct directed paths from every node to `target`, counted
    exactly by path length — the DAG dynamic program behind lineage
    multiplicity ("how many derivation chains hit this entity"),
    provenance fan-in, and BOM explosion counts.

    paths(v) = Σ_k (#length-k paths v -> target), built as k rounds
    of one `_push` from dst to src each (the k-th frame holds
    length-k path counts; BIGINT sums are engine-exact). `max_len`
    must be >= the DAG depth for exact totals (raise it for deeper
    graphs; each round is the same join+agg plan). On a cyclic graph
    counts of length <= max_len are still exact — the bounded-length
    semantics every provenance system uses. Returns (layer, node_id,
    n_paths) for nodes with >= 1 path, target excluded (no
    zero-length path).

    Each round's count frame is node-keyed, so under the broadcast
    budget it is broadcast over the persisted edge cache, which is
    never exchanged or sorted. Like the BFS loop, a round is a lazy
    cut counted in one job (`IterCheckpointer.cut_count`), and an
    empty round ends the loop.
    """
    small_state = graph.cached_n_nodes() <= BROADCAST_MAX
    e = graph.cached_endpoints("downstream").select(*EDGE_KEY)
    tl, ti = target[0], str(target[1])
    cur = _push(
        e.filter((F.col("dst_layer") == tl) & (F.col("dst_id") == ti)),
        None, "dst", "src", F.count("*").cast("bigint").alias("c"),
    ).localCheckpoint()
    total = cur
    ck = IterCheckpointer(prefix="onionnet_paths_")
    for _ in range(max_len - 1):
        cur, n = ck.cut_count(
            _push(
                e, cur, "dst", "src", F.sum("c").cast("bigint").alias("c"),
                bcast=small_state,
            )
        )
        if not n:
            break
        total = total.unionByName(cur)
    return total.groupBy(*NODE_KEY).agg(F.sum("c").cast("bigint").alias("n_paths"))


def bowtie_structure(graph: OnionGraph) -> DataFrame:
    """Broder bow-tie decomposition (the web-graph structure map):
    CORE = the largest SCC (ties: min component label), IN = nodes
    that reach the core without belonging to it, OUT = nodes the
    core reaches, OTHER = tendrils/disconnected. The canonical
    answer to "what does this directed graph look like at 10,000
    feet" — crawl frontiers, citation graphs, money flows.

    Composition of audited pieces: FW-BW-Trim SCC labeling, then TWO
    multi-source BFS runs seeded from the core AS A DATAFRAME (never
    a driver-side list — a web-scale core is millions of nodes);
    classification is two left-semi membership joins. A node both
    reaching and reached by the core would share its SCC, so the
    classes are disjoint by construction. Returns
    (layer, node_id, bowtie_class).
    """
    from onionnet_spark.operators.components import (
        strongly_connected_components,
    )
    from onionnet_spark.operators.traversal import bfs_distances

    scc = strongly_connected_components(graph).localCheckpoint()
    sizes = scc.groupBy("component").agg(F.count("*").alias("n"))
    top = sizes.orderBy(F.desc("n"), "component").limit(1)
    core = scc.join(
        F.broadcast(top.select("component")), on="component"
    ).select("layer", "node_id")
    down = bfs_distances(graph, core, "downstream").select("layer", "node_id")
    up = bfs_distances(graph, core, "upstream").select("layer", "node_id")
    nodes = graph.nodes.select("layer", "node_id")
    in_core = core.withColumn("_c", F.lit(1))
    in_down = down.withColumn("_d", F.lit(1))
    in_up = up.withColumn("_u", F.lit(1))
    lab = (
        nodes.join(in_core, on=["layer", "node_id"], how="left")
        .join(in_down, on=["layer", "node_id"], how="left")
        .join(in_up, on=["layer", "node_id"], how="left")
    )
    cls = (
        F.when(F.col("_c") == 1, F.lit("core"))
        .when(F.col("_u") == 1, F.lit("in"))
        .when(F.col("_d") == 1, F.lit("out"))
        .otherwise(F.lit("other"))
    )
    return lab.select("layer", "node_id", cls.alias("bowtie_class"))


def ego_stats(graph: OnionGraph) -> DataFrame:
    """Per-node 1-hop ego-network summary over the symmetrized
    graph: neighbor count, distinct neighbor layers, and mean
    neighbor degree (the assortativity raw material, per node).
    Two node-keyed aggregations + one join — no iteration.
    """
    sym = graph.cached_symmetrized().select(
        F.col("src_layer").alias("layer"),
        F.col("src_id").alias("node_id"),
        F.col("dst_layer").alias("n_layer"),
        F.col("dst_id").alias("n_id"),
    )
    deg = sym.groupBy(
        F.col("layer"), F.col("node_id")
    ).agg(F.count("*").alias("deg"))
    # NOT broadcast-gated: unlike the iterative operators, this is a
    # ONE-SHOT join — an adjacent A/B (r10 session 4) read 4.3s ->
    # 5.7s median with deg broadcast, the un-amortized ~786k-row
    # broadcast build costing more than the exchange it saved.
    #
    # The join attaches deg on the SOURCE side — the same key deg
    # itself aggregates on — so the probe-side exchange of sym by
    # (layer, node_id) is the identical subtree to the one under deg
    # and ReuseExchange ships sym ONCE for both (r11; was: join keyed
    # on the neighbor side = a second full sym exchange on a
    # different key). By symmetry of the symmetrized view, grouping
    # the NEIGHBOR side with source degrees attached is exactly
    # grouping the source side with neighbor degrees attached: rows
    # with n = (L, I) are precisely the pairs (u, n), u in N(n).
    src_deg = sym.join(deg, on=["layer", "node_id"]).select(
        F.col("layer").alias("u_layer"),
        F.col("n_layer").alias("layer"),
        F.col("n_id").alias("node_id"),
        F.col("deg").alias("u_deg"),
    )
    return src_deg.groupBy("layer", "node_id").agg(
        F.count("*").cast("bigint").alias("n_neighbors"),
        F.count_distinct("u_layer").cast("bigint").alias("n_neighbor_layers"),
        F.round(F.sum("u_deg") / F.count("*"), 6).alias("mean_neighbor_degree"),
    )


def coreness(
    edges: DataFrame,
    k_max: int = 12,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Full k-core decomposition: every node's core number (the
    largest k for which it survives k-core peeling), read off the
    onion decomposition's peel (`_onion_peel`), which labels every
    node with the core value it fell at. A RuntimeError is raised
    if a node's coreness reaches k_max (nodes remain after the k_max
    phase of the classic k-rising peel).

    Returns (node, coreness).
    """
    out, k_top, rounds = _onion_peel(edges, a_col, b_col)
    if k_top >= k_max:
        raise RuntimeError(
            f"coreness: nodes remain after k_max={k_max} (top core "
            f"number {k_top} after {rounds} rounds); raise k_max"
        )
    return out.select("node", "coreness")


def neighbor_agg(
    graph: OnionGraph,
    prop: str,
    direction: str = "downstream",
    quantize_scale: float | None = None,
) -> DataFrame:
    """GNN-style neighbor feature aggregation (one message-passing
    layer): per node, aggregate a numeric node property over its
    neighbors — n_nbrs, sum, mean (6dp), min, max. The workhorse of
    GraphSAGE-mean / feature smoothing, expressed as the one `_push`
    it really is: join the neighbor's property onto the edge list,
    then groupBy the receiving node (Catalyst runs the partial
    aggregation map-side).

    direction: 'downstream' aggregates over edge targets (pushes
    dst -> src), 'upstream' over edge sources (src -> dst), 'sym' over
    both (dst -> src on the symmetrized view). NULL properties
    are skipped by sum/mean/min/max (Spark and ANSI SQL agree);
    n_nbrs counts all neighbor edges (multi-edges count per edge —
    message passing sends one message per edge). Nodes with no
    neighbors report n_nbrs=0 and NULL aggregates.

    `quantize_scale` (e.g. 100 for cent-precision properties) sums
    floor(v*scale+0.5) integers instead of raw doubles: double
    summation is ORDER-dependent, so two engines (or two Spark runs
    with different partition merges) can disagree in the last ulp —
    integer sums cannot. min/max/count need no such guard.

    Scale: one shuffle to join the property, one keyed aggregation.
    At 100 TB the join co-locates if nodes and edges share the node
    bucketing; hub receivers are plain aggregation skew, which AQE
    splits (no per-key state beyond the five accumulators).
    """
    if direction not in ("downstream", "upstream", "sym"):
        raise ValueError("direction must be downstream/upstream/sym")
    e = graph.cached_symmetrized() if direction == "sym" else graph.edge_endpoints()
    frm, to = ("src", "dst") if direction == "upstream" else ("dst", "src")
    nbr_prop = graph.nodes.select(*NODE_KEY, F.col(prop).alias("_p"))
    if quantize_scale is not None:
        q = F.floor(F.col("_p") * quantize_scale + F.lit(0.5)).cast("bigint")
        sum_expr = F.round(F.sum(q) / quantize_scale, 6).alias("sum_val")
        mean_expr = F.round(
            F.sum(q) / quantize_scale / F.count("_p"), 6
        ).alias("mean_val")
    else:
        sum_expr = F.round(F.sum("_p"), 6).alias("sum_val")
        mean_expr = F.round(F.avg("_p"), 6).alias("mean_val")
    agg = _push(
        e.select(*EDGE_KEY), nbr_prop, frm, to,
        F.count("*").cast("bigint").alias("n_nbrs"),
        sum_expr,
        mean_expr,
        F.min("_p").alias("min_val"),
        F.max("_p").alias("max_val"),
    )
    return (
        graph.nodes.select(*NODE_KEY)
        .join(agg, on=NODE_KEY, how="left")
        .withColumn("n_nbrs", F.coalesce("n_nbrs", F.lit(0)))
    )


def link_prediction(
    graph: OnionGraph,
    layer: str,
    min_common: int = 2,
    max_nbr_df: int | None = 1000,
) -> DataFrame:
    """Link-prediction scores for candidate pairs of `layer` nodes
    sharing >= `min_common` undirected neighbors: common-neighbor
    count, Jaccard, and Adamic-Adar (sum over shared neighbors of
    1/ln(df)). The classic triad of similarity heuristics —
    candidates come only from shared-neighbor buckets (the
    node_jaccard shape), never an all-pairs product; `max_nbr_df`
    drops hub neighbors exactly like node_jaccard.

    Cross-engine exactness: each neighbor's 1/ln(df) weight is
    floor-quantized to a 1e-6 integer grid BEFORE the per-pair sum,
    so the sum is an order-independent integer add (double summation
    order would otherwise differ between engines); df >= 2 is
    guaranteed for shared neighbors, so ln(df) > 0.

    Returns (id_a, id_b, common, jaccard, adamic_adar), id_a < id_b.
    """
    sym = graph.cached_symmetrized()
    # one materialization barrier: nbr feeds FOUR consumers (dfreq,
    # sizes, both self-join sides) whose projections differ, so
    # without it the filter+distinct exchange over sym re-runs per
    # consumer (ReuseExchange can't match the differing subtrees) —
    # the ngram_jaccard single-barrier pattern from r8
    nbr = (
        sym.filter(F.col("src_layer") == layer)
        .select(
            F.col("src_id").alias("id"),
            F.concat_ws(":", "dst_layer", "dst_id").alias("nbr"),
        )
        .distinct()
        .localCheckpoint()
    )
    dfreq = nbr.groupBy("nbr").agg(F.count("*").alias("df"))
    if max_nbr_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_nbr_df)
    # integer-quantized Adamic-Adar weight per neighbor. df == 1
    # neighbors never produce a pair (so never enter an AA sum) but
    # would make 1/ln(df) infinite — weight them 0 instead.
    wtab = dfreq.withColumn(
        "w_q",
        F.when(
            F.col("df") >= 2,
            F.floor(F.lit(1e6) / F.log(F.col("df").cast("double"))).cast("bigint"),
        ).otherwise(F.lit(0)),
    )
    nbr_w = nbr.join(F.broadcast(wtab), on="nbr")
    sizes = nbr_w.groupBy("id").agg(F.count("*").alias("n"))
    pair = (
        nbr_w.alias("a")
        .join(nbr_w.select("nbr", F.col("id").alias("id_b")).alias("b"), on="nbr")
        .filter(F.col("a.id") < F.col("id_b"))
        .groupBy(F.col("a.id").alias("id_a"), "id_b")
        .agg(
            F.count("*").cast("bigint").alias("common"),
            F.sum("w_q").alias("aa_q"),
        )
        .filter(F.col("common") >= min_common)
    )
    return (
        pair.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ).alias("jaccard"),
            F.round(F.col("aa_q") / 1e6, 6).alias("adamic_adar"),
        )
    )


def degree_distribution(graph: OnionGraph) -> DataFrame:
    """Undirected degree histogram: (degree, n_nodes), isolated
    nodes included at degree 0. Two aggregations over the canonical
    degree view — the first profile anyone runs on a new graph, and
    the input to the power-law fit below."""
    deg = graph.canonical_degrees().select(F.col("n").alias("node"), "d")
    all_nodes = graph.nodes.select(
        F.concat_ws(":", "layer", "node_id").alias("node")
    )
    full = all_nodes.join(deg, on="node", how="left").select(
        F.coalesce("d", F.lit(0)).alias("degree")
    )
    return full.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )


def powerlaw_alpha(graph: OnionGraph, d_min: int = 2) -> DataFrame:
    """Continuous-MLE power-law exponent of the undirected degree
    tail (Clauset-Shalizi-Newman eq. 3.1 with the standard -0.5
    continuity correction): alpha = 1 + n / sum(ln(d_i/(d_min-0.5)))
    over nodes with degree >= d_min. One aggregation; the per-node
    ln is floor-quantized to a 1e-6 integer grid before the sum so
    the result is engine-exact (double summation order is not).

    Returns one row (n_tail, d_min, alpha) — alpha 6dp, NULL if the
    tail is empty or degenerate."""
    deg = graph.canonical_degrees().filter(F.col("d") >= d_min)
    lq = F.floor(
        F.log(F.col("d").cast("double") / (d_min - 0.5)) * 1e6
    ).cast("bigint")
    return deg.agg(
        F.count("*").cast("bigint").alias("n_tail"),
        F.lit(d_min).cast("int").alias("d_min"),
        F.round(
            1.0 + F.count("*") / (F.sum(lq) / F.lit(1e6)), 6
        ).alias("alpha"),
    )


def rich_club(graph: OnionGraph, k_values: list[int]) -> DataFrame:
    """Rich-club coefficient phi(k) = 2*E_k / (n_k*(n_k-1)): the
    density of the subgraph induced by nodes of degree > k, for each
    k in `k_values` — the 'do hubs stick together' diagnostic.

    Plan: per-edge min endpoint degree once, then each k is two
    broadcast-filterable aggregates (n_k from the degree view, E_k =
    edges whose min endpoint degree > k) unioned via a tiny exploded
    k-table join — no per-k scan of the graph. Division is a single
    correctly-rounded IEEE op; returns (k, n_nodes, n_edges, phi),
    phi NULL when n_k < 2.
    """
    sess = graph.nodes.sparkSession
    ks = literal_frame(sess, [(int(k),) for k in k_values], "k int")
    deg = graph.canonical_degrees().select(F.col("n").alias("node"), "d")
    canon = graph.canonical_edges()
    edge_mind = (
        canon.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
        .select(F.least("da", "db").alias("mind"))
    )
    nk = (
        ks.crossJoin(deg)
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )
    ek = (
        ks.crossJoin(edge_mind)
        .filter(F.col("mind") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
    )
    return (
        ks.join(nk, on="k", how="left")
        .join(ek, on="k", how="left")
        .select(
            "k",
            F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.when(
                F.coalesce(F.col("n_nodes"), F.lit(0)) >= 2,
                F.round(
                    2.0 * F.coalesce("n_edges", F.lit(0))
                    / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1))),
                    6,
                ),
            ).alias("phi"),
        )
    )


def salsa_scores(
    graph: OnionGraph,
    hub_layers: list[str] | None = None,
    authority_layers: list[str] | None = None,
) -> DataFrame:
    """SALSA stationary authority scores (Lempel & Moran 2000) — the
    random-walk cousin of HITS used for link-based recommendation
    ("people you may know"-class workloads).

    SALSA's stationary distribution has a CLOSED FORM, so unlike
    HITS/PageRank no power iteration is needed: within each connected
    component c of the hub/authority bipartite graph, the stationary
    authority weight of node j is

        score(j) = (|A_c| / |A|) * (indeg(j) / sum_{k in c} indeg(k))

    (component share times in-degree share within the component).
    Implemented by NODE-SPLITTING — every node becomes a hub-copy
    ('h:'+layer) and an authority-copy ('a:'+layer), edges run
    hub-copy -> authority-copy — then ONE weak-CC fixpoint over the
    split graph (reusing connected_components and its cached
    symmetrized plan) plus two aggregations. At 100 TB you pay
    diameter rounds of the already-optimized CC plan instead of ~30
    power-iteration rounds, and the component labels come out as a
    useful by-product.

    Scores are emitted as exact integers: score_ppm =
    (1_000_000 * |A_c| * indeg) div (|A| * comp_indeg) — integer
    division, so no float boundary exists for an oracle to disagree
    on. Returns (layer, node_id, indeg, component, score_ppm) for
    every authority (node with indeg >= 1 in the slice).

    Reference scope note: the reference engine has no SALSA; this
    extends SURVEY §2's centrality family (HITS row) with the
    iteration-free member.
    """
    from onionnet_spark.operators.components import connected_components

    e = graph.edge_endpoints()
    if hub_layers is not None:
        e = e.filter(F.col("src_layer").isin(list(hub_layers)))
    if authority_layers is not None:
        e = e.filter(F.col("dst_layer").isin(list(authority_layers)))
    # Hub copies are never emitted (only authorities are scored) and
    # never win the component min-label ('a:' sorts before 'h:'), so
    # instead of CC over the full split graph we CONTRACT every hub
    # away: a hub connects exactly its own authorities, which a
    # CHAIN of |authorities(h)| - 1 edges connects identically.
    # This removes |hubs| nodes and turns hub fan-out into linear
    # chain edges (233s -> the authority-graph CC at sf0.1 in the r8
    # sweep), with labels provably unchanged. Chain — NOT a per-hub
    # star from the min authority — was re-validated in r10 by an
    # interleaved A/B (chain median 13.1s vs star 23.2s at sf0.1):
    # overlapping stars route thousands of hubs to the SAME few min
    # authorities, so the very first large-star window lands one
    # giant neighborhood in one task (the window-skew trap documented
    # on connected_components), while chain keeps every
    # contracted degree <= 2 and the extra O(log chain) rounds are
    # cheaper than the skewed task. Star contraction (not min-label
    # BFS) because chains through shared parts/suppliers give the
    # co-occurrence graph a large label eccentricity.
    from pyspark.sql import Window

    # NO dedup exchange here (r10): the chain lag tolerates duplicate
    # (hub, authority) rows because the window SORTS — dups are
    # adjacent, so a dup pair lags to a self-edge (dropped by CC's
    # a != b filter) while the FIRST occurrence of each new authority
    # still lags to the previous distinct one, keeping every
    # consecutive-distinct pair connected. Labels are therefore
    # identical to the deduped build, and dropping .distinct() saves
    # a full 3x|edges| exchange (the slice has no dups anyway — one
    # edge per (lineitem, endpoint); CC's own edge distinct dedups
    # the chain pairs that shared (o,p)/(p,s) authorities produce).
    ha = e.select(
        F.concat_ws(":", F.col("src_layer"), F.col("src_id")).alias("h"),
        F.concat(F.lit("a:"), F.col("dst_layer")).alias("a_layer"),
        F.col("dst_id").alias("a_id"),
    )
    # Int-keyed CC interior (r10, the cached_int_sym pattern): the
    # chain window and every star-round exchange carry one xxhash64
    # long per authority instead of two strings. The keying is
    # COLLISION-CHECKED over the distinct authority set (count vs
    # count_distinct, one agg job); a clash falls back to the exact
    # string-keyed path below so results can never silently merge.
    # Chain connectivity is ORDER-INDEPENDENT (any total order of a
    # hub's authorities chains the same component, and duplicate
    # (hub, authority) rows stay adjacent under any key), so the
    # per-hub window can sort by the 8-byte hash directly. The
    # component label — min 'a:layer:id' STRING per component, the
    # star-CC contract the oracle pins — is re-derived after the
    # fixpoint by one min-per-component agg over the label table,
    # exactly the resolve_entities numeric-min pattern.
    auth = (
        ha.select("a_layer", "a_id")
        .distinct()
        .select(
            "a_layer",
            "a_id",
            F.concat_ws(":", "a_layer", "a_id").alias("akey"),
            F.xxhash64("a_layer", "a_id").alias("ah"),
        )
        .localCheckpoint(eager=False)
    )
    chk = auth.agg(
        F.count("*").alias("n"), F.count_distinct("ah").alias("nh")
    ).collect()[0]
    if chk["n"] == chk["nh"]:
        from onionnet_spark.operators.components import _star_fixpoint

        hah = ha.select("h", F.xxhash64("a_layer", "a_id").alias("ah"))
        w_hub = Window.partitionBy("h").orderBy("ah")
        chain_h = (
            hah.select("ah", F.lag("ah").over(w_hub).alias("ph"))
            .filter(F.col("ph").isNotNull() & (F.col("ph") != F.col("ah")))
            .select(F.col("ph").alias("a"), F.col("ah").alias("b"))
            .distinct()
        )
        fix = _star_fixpoint(chain_h, name="salsa_scores")
        labels = auth.join(
            fix.withColumnRenamed("a", "ah").withColumnRenamed("b", "comp_h"),
            on="ah",
            how="left",
        ).select(
            "a_layer",
            "a_id",
            "akey",
            F.coalesce("comp_h", "ah").alias("comp_h"),
        )
        comp_min = labels.groupBy("comp_h").agg(
            F.min("akey").alias("component")
        )
        auth_cc = labels.join(comp_min, on="comp_h").select(
            F.expr("substring(a_layer, 3)").alias("layer"),
            F.col("a_id").alias("node_id"),
            F.expr("substring(component, 3)").alias("component"),
        )
    else:
        w_hub = Window.partitionBy("h").orderBy("a_layer", "a_id")
        chain = ha.select(
            "a_layer",
            "a_id",
            F.lag("a_layer").over(w_hub).alias("p_layer"),
            F.lag("a_id").over(w_hub).alias("p_id"),
        ).filter(F.col("p_layer").isNotNull())
        auth_nodes = ha.select(
            F.col("a_layer").alias("layer"), F.col("a_id").alias("node_id")
        ).distinct()
        auth_edges = chain.select(
            F.col("p_layer").alias("src_layer"),
            F.col("p_id").alias("src_id"),
            F.col("a_layer").alias("dst_layer"),
            F.col("a_id").alias("dst_id"),
        )
        cc = connected_components(OnionGraph(auth_nodes, auth_edges))
        auth_cc = cc.select(
            F.expr("substring(layer, 3)").alias("layer"),
            "node_id",
            F.expr("substring(component, 3)").alias("component"),
        )
    indeg = e.groupBy(
        F.col("dst_layer").alias("layer"), F.col("dst_id").alias("node_id")
    ).agg(F.count("*").cast("bigint").alias("indeg"))
    joined = auth_cc.join(indeg, on=["layer", "node_id"])
    comp_stats = joined.groupBy("component").agg(
        F.count("*").cast("bigint").alias("comp_auth"),
        F.sum("indeg").cast("bigint").alias("comp_indeg"),
    )
    total = indeg.agg(F.count("*").cast("bigint").alias("n_auth"))
    return (
        joined.join(F.broadcast(comp_stats), on="component")
        .crossJoin(F.broadcast(total))
        .select(
            "layer",
            "node_id",
            "indeg",
            "component",
            F.expr(
                "(1000000 * comp_auth * indeg) div (n_auth * comp_indeg)"
            ).cast("bigint").alias("score_ppm"),
        )
    )


def edge_embeddedness(graph: OnionGraph) -> DataFrame:
    """Per-edge embeddedness: |N(u) ∩ N(v)| on the undirected view —
    the tie-strength signal of Granovetter-style link analysis (an
    embeddedness-0 edge is a LOCAL BRIDGE: removing it leaves no
    length-2 path between its endpoints).

    Plan shape: each edge joins the symmetrized adjacency once per
    endpoint, matched on the shared neighbor, then one count
    aggregation — the same Σ deg(u)·deg(v) candidate space as
    triangle counting (embeddedness IS the per-edge triangle count);
    at 100 TB the degree-ordered variant in triangle_count bounds it
    by Σ min-degree, worth switching to if the graph has power-law
    hubs. Returns the edge key columns + embeddedness (0 for local
    bridges, kept via left join).
    """
    e = graph.edge_endpoints().select(
        "src_layer",
        "src_id",
        "dst_layer",
        "dst_id",
        F.concat_ws(":", "src_layer", "src_id").alias("ku"),
        F.concat_ws(":", "dst_layer", "dst_id").alias("kv"),
    )
    adj = graph.cached_symmetrized().select(
        F.concat_ws(":", "src_layer", "src_id").alias("k"),
        F.concat_ws(":", "dst_layer", "dst_id").alias("cn"),
    )
    a1 = adj.select(F.col("k").alias("ku"), F.col("cn").alias("cn"))
    a2 = adj.select(F.col("k").alias("kv"), F.col("cn").alias("cn"))
    common = (
        e.select("ku", "kv")
        .join(a1, on="ku")
        .join(a2, on=["kv", "cn"])
        .groupBy("ku", "kv")
        .agg(F.count("*").cast("bigint").alias("embeddedness"))
    )
    return (
        e.join(common, on=["ku", "kv"], how="left")
        .select(
            "src_layer",
            "src_id",
            "dst_layer",
            "dst_id",
            F.coalesce("embeddedness", F.lit(0))
            .cast("bigint")
            .alias("embeddedness"),
        )
    )


def wl_refinement(
    edges: DataFrame,
    rounds: int = 3,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement: every node's
    color is iteratively rehashed from (own color, multiset of
    neighbor colors) — the classic graph-isomorphism/GNN-expressivity
    primitive (WL kernels, structural role discovery).

    Colors are md5 hex STRINGS end to end: round 0 hashes the
    degree; round t hashes ``old || '|' || sorted-joined neighbor
    colors`` — a canonical multiset encoding both engines reproduce
    byte-identically (array_sort + concat_ws here, string_agg ORDER
    BY in SQL). Per round: one join keyed on node ids, one
    aggregation — adjacency never rebuilt, colors are the only
    moving table. `rounds` is fixed (not run-to-fixpoint) so an
    unrolled SQL oracle stays in lockstep.

    Input: undirected edge list, canonicalized/deduped here.
    Returns (node_id, color) for every endpoint node.
    """
    adj = _sym(edges, a_col, b_col)
    colors = adj.groupBy("u").agg(
        F.md5(F.count("*").cast("string")).alias("c")
    )
    for _ in range(rounds):
        nbr = (
            adj.join(
                colors.select(F.col("u").alias("v"), F.col("c").alias("cv")),
                on="v",
            )
            .groupBy("u")
            .agg(
                F.concat_ws(",", F.array_sort(F.collect_list("cv"))).alias("s")
            )
        )
        colors = colors.join(nbr, on="u").select(
            "u", F.md5(F.concat(F.col("c"), F.lit("|"), F.col("s"))).alias("c")
        )
    return colors.select(F.col("u").alias("node_id"), F.col("c").alias("color"))


def square_count(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Global 4-cycle (C4) census via wedge-endpoint aggregation
    (Chiba-Nishizeki): count wedges u-v-w per unordered endpoint
    pair (u, w); every 4-cycle contributes C(c,2) at each of its two
    diagonal pairs, so n_squares = sum(C(c,2)) / 2 exactly.

    Shape: adjacency self-join keyed on the wedge CENTER (one
    shuffle on node ids), then one aggregation on endpoint pairs —
    never an explicit 4-way join. Wedge volume is sum(deg²); at
    power-law scale cap or salt hub centers (the same guard the
    triangle path uses) — counts per (u, w) pair stay tiny either
    way. Returns one row: (n_wedges, n_squares), both BIGINT-exact.
    """
    canon = _pairs(edges, a_col, b_col)
    adj = canon.select(F.col("a").alias("v"), F.col("b").alias("x")).unionByName(
        canon.select(F.col("b").alias("v"), F.col("a").alias("x"))
    )
    wedges = (
        adj.select("v", F.col("x").alias("u"))
        .join(adj.select("v", F.col("x").alias("w")), on="v")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count("*").alias("c"))
    )
    # sum(c*(c-1)) = 4 * n_squares exactly (each C4 adds C(c,2) at
    # both diagonal pairs); integral `div` keeps the path BIGINT-only
    return wedges.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_wedges"),
        F.coalesce(F.sum(F.col("c") * (F.col("c") - 1)), F.lit(0))
        .cast("bigint")
        .alias("cc"),
    ).select(
        "n_wedges", F.expr("CAST(cc div 4 AS BIGINT)").alias("n_squares")
    )


def hyperanf(
    graph: OnionGraph,
    radius: int = 3,
    m: int = 64,
    direction: str = "downstream",
) -> DataFrame:
    """HyperANF proper (Boldi, Rosa & Vigna 2011): the neighborhood
    function with HYPERLOGLOG registers — the scale path next to the
    k-mins variant (neighborhood_function_sketch). Registers win at
    100 TB because state per node is m 6-bit saturating counters
    (vs k doubles), union is an elementwise MAX (idempotent, so the
    fixpoint propagation is a semilattice exactly like k-mins), and
    accuracy is the standard 1.04/sqrt(m) with the linear-counting
    small-range regime handling the (ubiquitous) tiny balls.

    Layout mirrors the k-mins operator: m register COLUMNS, one join
    keyed on edge endpoints + one groupBy MAX per round — wide rows,
    never an exploded (node, register) table. Hashing is md5-derived
    (deterministic, engine-portable): register index = first hex
    nibbles, rho = leading zeros of the following 52-bit field + 1.

    Estimator: alpha_m * m^2 / sum(2^-M_j), replaced by linear
    counting m*ln(m/V) when E < 2.5m and V (zero registers) > 0 —
    the published HLL recipe. The register sum is computed as
    sum(2^(53-M_j)) — an exact BIGINT (M_j <= 53, 64 terms <= 2^59)
    — so the whole pipeline is engine-exact up to ONE final IEEE
    division (or one ln in the linear-counting branch): like the
    k-mins ANF, the APPROXIMATION is deterministic and fully
    hash-oracle-able; only its relation to the true ball is
    statistical (pytest-bounded). est_ball estimates |ball(v,
    radius)| INCLUDING v itself. Returns (layer, node_id, est_ball)
    rounded to 6 dp.
    """
    if direction not in ("downstream", "upstream"):
        raise ValueError("direction must be 'upstream' or 'downstream'")
    if m not in (16, 32, 64, 128, 256):
        raise ValueError("m must be a power of two in [16, 256]")
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    key = graph.node_key_col()
    hx = F.md5(key)
    # register index from the first 2 hex chars (0..255 covers m<=256)
    idx = F.pmod(F.conv(F.substring(hx, 1, 2), 16, 10).cast("int"), F.lit(m))
    # 52-bit field from the next 13 hex chars; rho = leading zeros + 1
    suffix = F.conv(F.substring(hx, 3, 13), 16, 10).cast("bigint")
    rho = F.when(suffix == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(suffix))
    )
    rcols = [f"r{j}" for j in range(m)]
    init = [
        F.when(idx == j, rho).otherwise(F.lit(0)).cast("int").alias(f"r{j}")
        for j in range(m)
    ]
    s = _sketch_propagate(graph, radius, direction, init, rcols, F.max)[-1]
    inv_sum = None  # exact BIGINT: sum over j of 2^(53 - M_j)
    zeros = None
    for j, c in enumerate(rcols):
        term = F.expr(f"shiftleft(CAST(1 AS BIGINT), 53 - {c})")
        z = F.when(F.col(c) == 0, 1).otherwise(0)
        inv_sum = term if inv_sum is None else inv_sum + term
        zeros = z if zeros is None else zeros + z
    raw = F.lit(alpha * m * m * float(2**53)) / inv_sum.cast("double")
    est = F.when(
        (raw < 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return s.select("layer", "node_id", F.round(est, 6).alias("est_ball"))


def clique4_count(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Global 4-clique (K4) census by degree-ordered DAG extension —
    the next rung above triangle_count on the clique ladder (graph
    density / community-cohesion profiling).

    Same hub-taming trick as the triangle path: the listing
    `_triangles` orients every undirected edge from the (degree,
    key)-smaller endpoint to the larger, a DAG in which each K4
    appears exactly once as its sorted 4-tuple, and lists each
    triangle x->y->z once (cut lazily and counted in one job). The
    4th vertex extends the triangle's TOP vertex z (z->w) and must
    close back to x and y — two semi-joins on the cut orientation.
    Every join is an equi-join on node keys; the candidate volume is
    sum over triangles of outdeg(z), with outdegree bounded by the
    orientation (a celebrity never fans out). Returns one row
    (n_triangles, n_4cliques), BIGINT-exact.
    """
    canon = _pairs(edges, a_col, b_col)
    deg = (
        canon.select(F.col("a").alias("n"))
        .unionByName(canon.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    o, tri = _triangles(canon, deg)
    tri, n_tri = IterCheckpointer().cut_count(tri)

    def arcs(u: str, v: str) -> DataFrame:
        return o.select(F.col("src").alias(u), F.col("dst").alias(v))

    # extend the triangle's TOP vertex: z->w, then close x->w and y->w
    k4 = (
        tri.join(arcs("z", "w"), on="z")
        .join(arcs("x", "w"), on=["x", "w"], how="left_semi")
        .join(arcs("y", "w"), on=["y", "w"], how="left_semi")
    )
    return k4.agg(
        F.lit(n_tri).cast("bigint").alias("n_triangles"),
        F.count("*").cast("bigint").alias("n_4cliques"),
    )


def _onion_peel(
    edges: DataFrame, a_col: str, b_col: str
) -> tuple[DataFrame, int, int]:
    """The one node peel: (ledger (node, layer, coreness), top core
    number, rounds run) of the onion decomposition of `edges`' pairs.

    Per round: one degree aggregation over the remaining node universe
    (left join, so nodes stripped to degree 0 are still seen), cut
    lazily and read by ONE action for its min, max and count. The core
    value k ratchets up to the min degree; the round drops every node
    of degree <= k as one layer, and the peel ends once the max degree
    is <= k. Each round drops at least one node, so |V| + 1 rounds
    always suffice; the budget error is a backstop. Deep peels rebase
    through IterCheckpointer (see ckpt.py)."""
    pairs = _pairs(edges, a_col, b_col)
    ck = IterCheckpointer(prefix="onionnet_onion_")
    adj = ck.cut(pairs.union(pairs.select("b", "a")), eager=False)
    nodes = adj.select(F.col("a").alias("n")).distinct()
    drops, k, budget = [], 0, None
    while True:
        deg = ck.cut(
            nodes.join(
                adj.groupBy(F.col("a").alias("n")).agg(F.count("*").alias("d")),
                on="n",
                how="left",
            ).select("n", F.coalesce("d", F.lit(0)).alias("d")),
            eager=False,
        )
        lo, hi, n = deg.agg(F.min("d"), F.max("d"), F.count("*")).first()
        if not n:  # first round only: no pair of distinct nodes
            schema = "node string, layer int, coreness int"
            return literal_frame(edges.sparkSession, [], schema), 0, 0
        budget = budget or n + 1
        if len(drops) == budget:
            raise RuntimeError(
                f"onion_decomposition did not converge within {budget} rounds "
                f"({n} nodes remain)"
            )
        k = max(k, lo)
        drops.append(
            deg.filter(F.col("d") <= k).select(
                F.col("n").alias("node"),
                F.lit(len(drops) + 1).alias("layer"),
                F.lit(k).alias("coreness"),
            )
        )
        if hi <= k:
            return reduce(DataFrame.unionByName, drops), k, len(drops)
        nodes = deg.filter(F.col("d") > k).select("n")
        adj = ck.cut(
            adj.join(nodes.select(F.col("n").alias("a")), on="a", how="left_semi")
            .join(nodes.select(F.col("n").alias("b")), on="b", how="left_semi"),
            eager=False,
        )


def onion_decomposition(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Onion decomposition (Hébert-Dufresne, Grochow & Allard 2016):
    the layer-by-layer refinement of k-core peeling — and this
    repo's namesake structure. Each round simultaneously removes
    every node whose remaining degree is <= the current core value
    k (k itself ratchets up to the minimum remaining degree), and
    all nodes removed in the same round share an onion LAYER; the
    layer index localizes a node WITHIN its core shell (center vs
    periphery of the core), which plain coreness cannot express.
    The rounds are `_onion_peel`'s; `coreness` reads the same peel.

    Returns (node, layer, coreness); layers are 1-based in removal
    order, coreness is the k at which the node fell (its core
    number). An edge set with no pair of distinct nodes gives an
    empty frame.
    """
    return _onion_peel(edges, a_col, b_col)[0]


def simrank(
    edges: DataFrame,
    rounds: int = 3,
    c_num: int = 8,
    c_den: int = 10,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """SimRank (Jeh & Widom 2002) on an undirected graph: two nodes
    are similar if their NEIGHBORS are similar —
    s(a,b) = C/(|N(a)||N(b)|) * sum over neighbor pairs of s(u,v),
    s(a,a) = 1. The structural-similarity complement of the local
    overlap scores (Jaccard/Adamic-Adar see only direct co-neighbors;
    SimRank propagates through the graph).

    Integer-exact iterates: scores live on a 1e-6 grid and each
    round applies s' = (c_num * S) div (c_den * da * db) — pure
    BIGINT arithmetic, so every iterate is engine-identical and the
    unrolled SQL oracle hash-matches (same discipline as
    eigenvector/Katz/spectral). The pair table stays SPARSE: only
    pairs with nonzero score exist, and each round derives new pairs
    by joining the score table through adjacency on BOTH sides (two
    node-keyed shuffles + one pair aggregation per round).

    100 TB contract: all-pairs SimRank is inherently quadratic in
    the worst case; at scale you run it on a landmark subset or cap
    per-node pair lists (the published scalable variants) — the
    per-round dataflow here is already that shape, the cap is a
    caller-side filter on the score frame between rounds.

    Returns (node_a, node_b, simrank_micro) for a < b with nonzero
    score (diagonal omitted: it is 1.0 by definition).
    """
    adj = _sym(edges, a_col, b_col)
    deg = adj.groupBy("u").agg(F.count("*").alias("d")).localCheckpoint()
    nodes = deg.select(F.col("u").alias("n"))
    # scores: SPARSE symmetric table incl. the diagonal (needed by
    # the recurrence); micro-unit integers
    s = nodes.select(
        F.col("n").alias("x"), F.col("n").alias("y"), F.lit(1_000_000).alias("s")
    ).localCheckpoint()
    for _ in range(rounds):
        # sum s(u,v) over u in N(a), v in N(b): route the score table
        # through adjacency on both endpoints
        contrib = (
            s.join(adj.select(F.col("v").alias("x"), F.col("u").alias("na")), on="x")
            .join(adj.select(F.col("v").alias("y"), F.col("u").alias("nb")), on="y")
            .filter(F.col("na") != F.col("nb"))
            .groupBy(F.col("na").alias("x"), F.col("nb").alias("y"))
            .agg(F.sum("s").alias("S"))
        )
        off = (
            contrib.join(deg.select(F.col("u").alias("x"), F.col("d").alias("da")), on="x")
            .join(deg.select(F.col("u").alias("y"), F.col("d").alias("db")), on="y")
            .select(
                "x",
                "y",
                F.expr(f"CAST(({c_num} * S) div ({c_den} * da * db) AS BIGINT)").alias(
                    "s"
                ),
            )
            .filter(F.col("s") > 0)
        )
        s = (
            nodes.select(
                F.col("n").alias("x"),
                F.col("n").alias("y"),
                F.lit(1_000_000).alias("s"),
            )
            .unionByName(off)
            .localCheckpoint()
        )
    return (
        s.filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("node_a"),
            F.col("y").alias("node_b"),
            F.col("s").cast("bigint").alias("simrank_micro"),
        )
    )


def voterank(graph: OnionGraph, k: int = 5) -> DataFrame:
    """VoteRank influential-spreader selection (Zhang et al. 2016):
    elect k seed nodes one at a time — each node's score is the sum
    of its neighbors' remaining voting ability; electing a node
    zeroes its own ability and suppresses each neighbor's by
    delta = 1/<k_avg> — so the elected set spreads out instead of
    clustering around one hub (the seed-selection step of influence
    maximization / campaign targeting).

    EXACT integer algebra: abilities are scaled by 2m (the
    undirected degree sum), making delta = n exactly — va starts at
    2m, every suppression subtracts n (floored at 0), and scores are
    BIGINT sums, so election order is deterministic on both engines
    (ties break on the node key). Each round is one `_push` of the
    abilities over the shared symmetrized view (the neighbor-vote
    sums), a global top-1 (TakeOrdered — never a full sort), one
    `_push` of the winner to its neighbors and a broadcast winner
    update; the ability table (n rows) is eagerly checkpointed per
    round to keep lineage flat. k is a constant, so the plan is k
    bounded rounds at any graph size.

    Returns (rank, layer, node_id, score_scaled, score) for the k
    elected nodes; score = score_scaled / 2m is the conventional
    vote count.

    Multi-edge note: votes ride the symmetrized edge view, so a
    parallel edge between the same endpoints counts its neighbor's
    ability once per edge (the registered gate slice is simple, so
    its SQL oracle's set-semantics UNION agrees); pre-dedup the
    edge view if per-neighbor-once semantics are wanted on a
    multigraph.

    Reference scope note: the reference has no influence-max
    surface; this extends SURVEY §2's centrality family with its
    seed-selection member.
    """
    und = graph.cached_symmetrized()
    # two scalars (exact BIGINTs) — the repo's accepted scalar-collect
    # pattern; everything else stays distributed
    n_nodes = graph.cached_n_nodes()
    m2 = row_count(und)  # = 2m: symmetrized view holds both directions
    va = graph.nodes.select(
        "layer",
        "node_id",
        F.lit(m2).cast("bigint").alias("va"),
        F.lit(False).alias("el"),
    ).localCheckpoint()
    # Same broadcast-the-state-while-small regime as pagerank/katz:
    # under the gate both n-row sides broadcast and the cached
    # symmetrized edge view is scanned, never exchanged or re-sorted,
    # in any of the k rounds; past the gate the joins shuffle as before.
    small_state = n_nodes <= BROADCAST_MAX
    winners = []
    for r in range(1, k + 1):
        # neighbor-vote sums first (aggregate before the node join —
        # guide's partial-aggregation shape), then attach to the
        # non-elected nodes; voteless nodes coalesce to 0.
        nbr = _push(und, va, "src", "dst", F.sum("va").alias("nsum"), bcast=small_state)
        if small_state:
            nbr = F.broadcast(nbr)
        score = va.filter(~F.col("el")).join(nbr, NODE_KEY, "left").select(
            "layer",
            "node_id",
            F.coalesce(F.col("nsum"), F.lit(0).cast("bigint")).alias("score"),
        )
        winners.append(
            score.orderBy(F.col("score").desc(), F.concat_ws(":", "layer", "node_id"))
            .limit(1)
            .select(
                F.lit(r).cast("int").alias("rank"),
                "layer",
                "node_id",
                F.col("score").cast("bigint").alias("score_scaled"),
            )
            .localCheckpoint()
        )
        won = winners[-1].select(*NODE_KEY)
        nb = _push(und, won, "dst", "src", F.lit(True).alias("is_nb"), bcast=True)
        va = (
            va.join(F.broadcast(won.withColumn("is_w", F.lit(True))), NODE_KEY, "left")
            .join(F.broadcast(nb), NODE_KEY, "left")
            .select(
                "layer",
                "node_id",
                F.when(F.col("is_w"), F.lit(0))
                .when(F.col("is_nb"), F.greatest(F.col("va") - n_nodes, F.lit(0)))
                .otherwise(F.col("va"))
                .cast("bigint")
                .alias("va"),
                (F.col("el") | F.col("is_w").isNotNull()).alias("el"),
            )
            .localCheckpoint()
        )
    out = reduce(DataFrame.unionByName, winners)
    return out.select(
        "rank",
        "layer",
        "node_id",
        "score_scaled",
        F.round(F.col("score_scaled") * 1.0 / m2, 6).alias("score"),
    )
