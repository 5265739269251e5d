"""Traversals: k-hop ego search, reachability, on-shortest-path, and
the relaxation fixpoints (weighted distances, topological levels,
time-respecting arrival).

Reference parity: ``onionnet/searcher.py``:
  - search (searcher.py:157-242): k-hop ego subgraph in
    'downstream' / 'upstream' / 'bi' direction via graph-tool
    shortest_distance with max_dist.
  - _bfs_traversal (searcher.py:119-155): unbounded reachability.
  - compute_on_shortest (searcher.py:26-117): mark vertices v with
    d_fwd(source, v) + d_rev(v, targets) in {d_fwd(source, t)}.

Every hop-count BFS here (`bfs_distances`, `k_hop`, `reachable`,
`pseudo_diameter`'s sweeps, `multi_source_bfs` and both arms of
`on_shortest_path`) runs ONE level loop, `_bfs_levels`, in two
phases. An ego search touches a few dozen nodes per level, where a
Spark round's cost is its jobs, not its data:

  - Driver levels. While the frontier is a driver-side key list of at
    most core.DRIVER_FRONTIER_MAX keys, a level is ONE bounded Spark
    job: the persisted edge endpoints, filtered by one literal IN
    predicate on the frontier's keys, collected through one partition
    with at most DRIVER_FRONTIER_MAX + 1 rows. The driver dedups them,
    drops visited keys and tests the stop keys. A search that stays
    on the driver runs one job per level plus its result's action
    (perfbench `ego_search`: `traversal.jobs_per_level` 4.1 -> 1.25,
    seed 1, `--trace 1`).
  - Spark rounds. A DataFrame seed, or a level whose collect hits the
    bound (or would, at the last level's growth rate, so it is not
    scanned), and every level after it, joins the frontier against the
    edge endpoints, dedups on the node key and anti-joins the visited
    levels, the driver levels among them as one literal frame. The
    frontier and the visited side are broadcast while their counted
    sizes fit core.BROADCAST_MAX, so the edge side is never shuffled;
    past it the joins fall back to shuffles. Each level is a lazy
    checkpoint counted in the job that materializes it
    (`IterCheckpointer.cut_count`), and every tenth cut is a parquet
    rebase, so plans stay flat at any depth. A round runs about four
    jobs (frontier and visited broadcasts, the dedup stage, the
    count).

The driver levels come back as one literal frame of (carry, key,
dist), so what callers build on a small search (`k_hop`'s `bi`
minimum, `on_shortest_path`'s join) runs over literal frames.

Every fixpoint of the form best(v) = agg(cand(u, e)) runs ONE
frontier relaxation loop, `_relax`, the Pregelix shape of an
iterated join/group-by over the vertex relation and the live
messages: the nodes that improved last round join the edges, the
candidates aggregate at the far end, and only the improved nodes go
on. Its callers: `weighted_sssp` (min of dist + w),
`topological_levels` (max of level + 1), `temporal_earliest_arrival`
(min of t over edges with t >= arrival) and the forward coloring of
`components.strongly_connected_components` (min of color).

Driver-side seeds, target sets and small results are JVM literal
frames (core.literal_frame), never a Python list passed to
`spark.createDataFrame`: that is a Python RDD, and every scan of it
forks Python worker tasks.

The loop runs over given key columns: the string keying
(layer, node_id), or the int keying, one xxhash64 long per node
(core.cached_int_*). The int keying is used only where it measured
faster, and never on a node set whose 64-bit keys collide.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from onionnet_spark.core import (
    BROADCAST_MAX,
    DRIVER_FRONTIER_MAX,
    EDGE_KEY,
    NODE_KEY,
    OnionGraph,
    build_cache,
    literal_frame,
)
from onionnet_spark.operators.ckpt import IterCheckpointer


def _directed_endpoints(graph: OnionGraph, direction: str) -> DataFrame:
    """Edge endpoints oriented for the requested traversal direction,
    persisted once per graph (core.cached_endpoints).

    'downstream' follows src->dst (out-edges, searcher.py:217-219),
    'upstream' follows dst->src (in-edges, searcher.py:205-211);
    'sym' traverses the undirected (symmetrized) view — both caches
    are persisted once per graph instance.
    """
    if direction == "sym":
        return graph.cached_symmetrized()
    return graph.cached_endpoints(direction)


def _uniq(nodes) -> list[tuple[str, str]]:
    """Driver-side (layer, id) list with string ids, duplicates
    dropped, first-seen order kept."""
    return list(dict.fromkeys((l, str(i)) for (l, i) in nodes))


def _lit(v) -> str:
    """A key value as a SQL literal that round-trips under any parser
    settings: a string as its UTF-8 bytes in hex cast back to a string
    (no quoting or escape rule applies), a long as a BIGINT literal."""
    if isinstance(v, str):
        return f"CAST(X'{v.encode().hex()}' AS STRING)"
    return f"{int(v)}L"


def _in_keys(cols: list[str], keys) -> Column:
    """ONE predicate: the columns `cols` hold one of `keys` (value
    tuples parallel to `cols`, at least one), as one IN list over the
    last column per value of the leading ones (per layer)."""
    groups: dict[tuple, list] = {}
    for k in keys:
        groups.setdefault(tuple(k[:-1]), []).append(k[-1])
    terms = []
    for head, tails in groups.items():
        conds = [f"`{c}` = {_lit(v)}" for c, v in zip(cols, head)]
        conds.append(f"`{cols[-1]}` IN ({', '.join(map(_lit, tails))})")
        terms.append(f"({' AND '.join(conds)})")
    return F.expr(" OR ".join(terms))


def _driver_level(
    edges: DataFrame, src: list[str], dst: list[str], level: list[tuple], nc: int,
    seen: set,
) -> list[tuple] | None:
    """The level after the driver frontier `level` (carry + key
    tuples, `nc` carry values first): its unseen keys in first-seen
    order, from ONE Spark job that collects at most
    DRIVER_FRONTIER_MAX + 1 edge rows. None when the level does not
    fit that budget."""
    by_src: dict[tuple, list[tuple]] = {}
    for k in level:
        by_src.setdefault(k[nc:], []).append(k[:nc])
    rows = (
        edges.filter(_in_keys(src, by_src))
        .select(*src, *dst)
        # one partition, so the row bound is one job: `limit` over
        # many partitions scans them batch after batch, a job each
        .coalesce(1)
        .limit(DRIVER_FRONTIER_MAX + 1)
        .collect()
    )
    if len(rows) > DRIVER_FRONTIER_MAX:
        return None
    ns = len(src)
    nxt: dict[tuple, None] = {}
    for r in map(tuple, rows):
        for c in by_src[r[:ns]]:
            k = (*c, *r[ns:])
            if k not in seen:
                nxt[k] = None
    return list(nxt) if len(nxt) <= DRIVER_FRONTIER_MAX else None


def _bfs_levels(
    edges: DataFrame,
    seed: DataFrame,
    key: list[str],
    src: list[str],
    dst: list[str],
    carry: tuple[str, ...] = (),
    undirected: bool = False,
    max_dist: int | None = None,
    stop=None,
    found_depths: list[int] | None = None,
    keys: list[tuple] | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """The level-synchronous BFS loop from `seed` (carry + key + dist
    rows, dist 0). Returns (reached, last, depth): every level as one
    frame, each node at its least depth; the deepest non-empty level;
    and that depth.

    `edges` maps the node key columns `src` to `dst`, both parallel
    to `key`. `carry` columns (a source id) ride along and are part
    of a node's identity, so each carry value gets its own BFS in the
    same sweep. `keys` is the seed's rows (carry + key tuples,
    distinct) when the driver holds them: the loop then runs driver
    levels while a level fits DRIVER_FRONTIER_MAX, and hands the
    rest to Spark rounds; None checkpoints and counts the seed frame
    and runs Spark rounds only. `stop` is a collection of key tuples:
    the loop ends at the level where the last of them is found, and
    `found_depths` (optional, caller-owned) receives the depth at
    which each is found.
    """
    ident = [*carry, *key]
    nc = len(carry)
    remaining = None if stop is None else set(stop)

    def found(hits, depth: int) -> bool:
        # records the stop keys among `hits`; True once all are found
        if remaining is None:
            return False
        hit = remaining & hits
        remaining.difference_update(hit)
        if found_depths is not None:
            found_depths.extend([depth] * len(hit))
        return not remaining

    def spark_hits(level: DataFrame) -> set:
        if not remaining:
            return set()
        probe = level.filter(_in_keys(key, remaining)).select(*key)
        return set(map(tuple, probe.collect()))

    def capped(depth: int) -> bool:
        return max_dist is not None and depth >= max_dist

    ck = IterCheckpointer(prefix="onionnet_bfs_")
    depth, fixed, n_fixed = 0, [], 0
    if keys is None:
        frontier, n = ck.cut_count(seed)
        levels, counts = [frontier], [n]
        stopped = found(spark_hits(frontier), 0)
    else:
        level, seen = list(keys), set(keys)
        rows = [(*k, 0) for k in level]
        stopped = found({k[nc:] for k in level}, 0)
        nxt, grew = [], 1.0
        if level and not stopped and not capped(0):
            build_cache(edges)
        while level and not stopped and not capped(depth):
            # a level that would outgrow the budget at the last level's
            # growth rate hands off without its driver scan: a collect
            # that hits the bound is a wasted single-task scan of the
            # edges (sf0.1 int keying: 0.2-0.3 s a level)
            if len(level) * grew > DRIVER_FRONTIER_MAX:
                nxt = None
                break
            nxt = _driver_level(edges, src, dst, level, nc, seen)
            if not nxt:
                break
            depth += 1
            grew = len(nxt) / len(level)
            level = nxt
            seen.update(level)
            rows.extend((*k, depth) for k in level)
            stopped = found({k[nc:] for k in level}, depth)
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in seed.schema)
        drv = literal_frame(seed.sparkSession, rows, ddl)
        frontier = drv.filter(F.col("dist") == depth)
        if nxt is not None:  # the driver levels are the whole BFS
            return drv, frontier, depth
        # hand-off: the frontier did not fit the driver budget, so this
        # level and every later one run as Spark rounds, which anti-join
        # the driver levels as one literal frame
        fixed, n_fixed, n = [drv], len(rows), len(level)
        levels, counts = [], []
    last = frontier
    while n and not stopped and not capped(depth):
        f = frontier.select(*carry, *(F.col(k).alias(s) for k, s in zip(key, src)))
        if n <= BROADCAST_MAX:
            f = F.broadcast(f)
        # An undirected edge spans at most one level, so level d+1 can
        # only re-touch levels d and d-1: the anti-join needs the last
        # two levels, which keeps its broadcast bounded by two level
        # sizes (the graph_pseudo_diameter constant, VERDICT r8 item
        # 3). A directed edge can reach back to any earlier level. The
        # driver levels are anti-joined whole (each fits the driver
        # budget).
        back = slice(-2 if undirected else 0, None)
        visited = reduce(
            DataFrame.unionByName, (lv.select(*ident) for lv in fixed + levels[back])
        )
        if n_fixed + sum(counts[back]) <= BROADCAST_MAX:
            visited = F.broadcast(visited)
        # dedup on the anti-join key, so the dedup exchange is
        # hash-partitioned on it and reused: one shuffle per level.
        # (Measured r9: anti-joining BEFORE the dedup costs more — the
        # broadcast probe over the full expansion beats the bytes it
        # saves.)
        nxt = (
            edges.join(f, on=src)
            .select(
                *carry,
                *(F.col(d).alias(k) for k, d in zip(key, dst)),
                F.lit(depth + 1).alias("dist"),
            )
            .dropDuplicates(ident)
            .join(visited, on=ident, how="left_anti")
        )
        frontier, n = ck.cut_count(nxt)
        if n:
            depth += 1
            levels.append(frontier)
            counts.append(n)
            last = frontier
            stopped = found(spark_hits(frontier), depth)
    return reduce(DataFrame.unionByName, fixed + levels), last, depth


def _relax(
    edges: DataFrame,
    seed: DataFrame,
    key: list[str],
    src: list[str],
    dst: list[str],
    val: str,
    cand: Column,
    agg: str,
    name: str,
    rounds: int,
    hint: str,
    keep: Column | None = None,
    hops: int = 1,
    n_seed: int | None = None,
) -> DataFrame:
    """The frontier relaxation loop: best(v) = agg(cand(u, e)) over
    edges e = (u, v) to fixpoint, as (key + val) rows.

    `edges` maps the node key columns `src` to `dst`, both parallel to
    `key`; `cand` is an expression over the edge columns and the
    frontier's `val`, `keep` an optional edge predicate over the same,
    and `agg` is "min" or "max". `seed` is the initial best (key +
    val); `n_seed` is its row count when the caller knows it is
    distinct, else the loop drops duplicate keys and counts it.

    Each round joins the frontier (the nodes that improved last round;
    the seed at first) onto the edges at `src`, broadcast while its
    counted size fits core.BROADCAST_MAX, and aggregates `cand` at
    `dst`, chaining `hops` such hops lazily before the merge. A
    candidate is kept when its node is new to best or it strictly
    beats a non-NULL current value (a NULL value never improves). That
    delta is a lazy cut counted in one job; an empty delta ends the
    loop. It folds into best by a broadcast anti-join plus a union, so
    best is never rewritten whole and the round's aggregation is
    referenced once (a merge that read it twice evaluated it twice).
    Best is cut every 2nd round. A round budget of `rounds` that runs
    out raises a RuntimeError naming `name`, the count and `hint`.
    """
    ck = IterCheckpointer(prefix="onionnet_relax_")
    if n_seed is None:
        seed, n_seed = ck.cut_count(seed.dropDuplicates(key))
    best = frontier = seed
    n = n_seed
    fold = F.min if agg == "min" else F.max
    beats = F.col(val) < F.col("_cur") if agg == "min" else F.col(val) > F.col("_cur")
    for rnd in range(1, rounds + 1):
        hop, reached = frontier, []
        for h in range(hops):
            # an intra-round hop's size is unknown until the round is
            # cut: its broadcast keeps fan-out headroom
            f = hop.select(*(F.col(k).alias(s) for k, s in zip(key, src)), val)
            if n <= (BROADCAST_MAX if h == 0 else BROADCAST_MAX // 8):
                f = F.broadcast(f)
            j = edges.join(f, on=src)
            if keep is not None:
                j = j.filter(keep)
            hop = j.groupBy(*(F.col(d).alias(k) for k, d in zip(key, dst))).agg(
                fold(cand).alias(val)
            )
            reached.append(hop)
        cands = reduce(DataFrame.unionByName, reached).groupBy(*key).agg(
            fold(val).alias(val)
        )
        cur = best.select(*key, F.col(val).alias("_cur"), F.lit(1).alias("_seen"))
        delta, n = ck.cut_count(
            cands.join(cur, on=key, how="left")
            .filter(F.col("_seen").isNull() | (F.col("_cur").isNotNull() & beats))
            .select(*key, val)
        )
        if not n:
            return best
        gone = delta.select(*key)
        best = best.join(
            F.broadcast(gone) if n <= BROADCAST_MAX else gone, on=key, how="left_anti"
        ).unionByName(delta)
        # every query over best re-broadcasts the deltas folded since
        # its last cut: a cut every 4th round made topological_levels
        # and weighted_sssp 15-40% slower at sf0.1 (4 vCPU)
        if rnd % 2 == 0:
            best = ck.cut(best, eager=False)
        frontier = delta
    raise RuntimeError(
        f"{name} did not converge within {rounds} rounds ({n} values still "
        f"improving); {hint}"
    )


def _keyed_levels(
    graph: OnionGraph,
    seeds: DataFrame,
    keys: list[tuple] | None,
    direction: str,
    use_int: bool,
    carry: tuple[str, ...] = (),
    max_dist: int | None = None,
    stop=None,
    found_depths: list[int] | None = None,
) -> tuple[DataFrame, DataFrame, int, DataFrame | None]:
    """`_bfs_levels` from a string-keyed seed frame (carry, layer,
    node_id, dist) whose rows are `keys` when the driver holds them:
    in the int keying when `use_int` and the graph's 64-bit node keys
    do not collide, else in the string keying. Returns (reached, last,
    depth, node index); the index is None for string levels. `stop`
    holds string keys, so a stop run takes the string keying."""
    intp = None
    if use_int and stop is None:
        intp = (
            graph.cached_int_sym()
            if direction == "sym"
            else graph.cached_int_endpoints(direction)
        )
    undirected = direction == "sym"
    if intp is None:
        return (
            *_bfs_levels(
                _directed_endpoints(graph, direction), seeds, NODE_KEY,
                ["src_layer", "src_id"], ["dst_layer", "dst_id"],
                carry, undirected, max_dist, stop, found_depths, keys,
            ),
            None,
        )
    edges, nidx = intp
    seed = seeds.select(*carry, F.xxhash64(*NODE_KEY).alias("node"), "dist")
    if keys is not None:
        # the driver levels run on the seeds' 64-bit keys: one job
        keys = [tuple(r)[:-1] for r in seed.collect()]
    return (
        *_bfs_levels(
            edges, seed, ["node"], ["s"], ["d"], carry, undirected, max_dist,
            keys=keys,
        ),
        nidx,
    )


def _string_keyed(
    reached: DataFrame, depth: int, nidx: DataFrame | None, seeds: DataFrame
) -> DataFrame:
    """`_keyed_levels` output in the string keying. Int levels past the
    seed map back through the node index, which holds every edge
    endpoint (a graph with a dangling endpoint gets no index, see
    OnionGraph._int_nodes); the seed level is the string seed frame
    itself, so a seed absent from the node table survives exactly as
    in the string keying."""
    if nidx is None:
        return reached
    if depth == 0:
        return seeds
    deep = reached.filter(F.col("dist") > 0)
    mapped = deep.join(nidx, deep["node"] == nidx["idx"]).select(*seeds.columns)
    return seeds.unionByName(mapped)


def _seed_frame(spark: SparkSession, keys: list[tuple], ddl: str) -> DataFrame:
    """The driver-side seed rows `keys` at dist 0 as a literal frame of
    `ddl` (carry + key columns)."""
    return literal_frame(spark, [(*k, 0) for k in keys], f"{ddl}, dist int")


def bfs_distances(
    graph: OnionGraph,
    sources: list[tuple[str, str]],
    direction: str = "downstream",
    max_dist: int | None = None,
    stop_nodes: list[tuple[str, str]] | None = None,
    found_depths: list[int] | None = None,
) -> DataFrame:
    """Min hop distance from the source set to every reachable node.

    Returns DataFrame(layer, node_id, dist) including the sources at
    dist 0. Multi-source: dist is the minimum over sources, which is
    exactly the artificial-source construction the reference uses in
    compute_on_shortest (searcher.py:75-86).

    `sources` is a driver-side list of (layer, id) tuples (the ego
    search shape) or a DataFrame with (layer, node_id) columns — the
    multi-source-from-a-computed-set shape (e.g. 'everything
    reachable from the giant SCC'), which must never round-trip
    through the driver at scale, so it runs Spark rounds only.

    Early termination (VERDICT r2 perf item): ``stop_nodes`` stops
    the expansion once EVERY stop node has been reached — on-shortest
    membership only needs distances up to max(target dists), so
    expanding past the last target's level is wasted work
    (O(ego-radius) rounds instead of O(diameter) on a deep graph).
    If some stop node is unreachable the loop degrades gracefully to
    the normal fixpoint. ``found_depths`` (optional caller-owned
    list) receives the depth at which each stop node was first seen.
    """
    if isinstance(sources, DataFrame):
        keys = None
        seeds = sources.select("layer", "node_id", F.lit(0).alias("dist"))
    else:
        keys = _uniq(sources)
        seeds = _seed_frame(
            graph.nodes.sparkSession, keys, "layer string, node_id string"
        )
    # The int keying carries one 8-byte long per frontier, broadcast
    # and exchange row instead of two strings, but pays one node-index
    # join at the end. It is used only for DEEP UNCAPPED fixpoints from
    # a driver-side seed list (the `reachable` shape), where the many
    # narrow levels amortize that join. Capped sweeps (k_hop), stop-node
    # runs (on_shortest_path) and DataFrame seed sets (bow-tie)
    # measured NET SLOWER on it (r10 session-4 A/B: khop_upstream
    # 1.21->1.57s, on_shortest_path 3.39->4.79s, graph_bowtie
    # 5.12->5.35s, vs reachability 4.88->3.17s, sssp_hops 2.35->1.85s).
    use_int = max_dist is None and stop_nodes is None and keys is not None
    reached, _, depth, nidx = _keyed_levels(
        graph, seeds, keys, direction, use_int, max_dist=max_dist,
        stop=None if stop_nodes is None else _uniq(stop_nodes),
        found_depths=found_depths,
    )
    return _string_keyed(reached, depth, nidx, seeds)


def k_hop(
    graph: OnionGraph,
    start: tuple[str, str],
    max_dist: int,
    direction: str = "downstream",
    include_upstream_children: bool = False,
) -> DataFrame:
    """Ego subgraph node set within max_dist hops of start.

    Reference search (searcher.py:157-242). direction='bi' unions
    upstream and downstream reachable sets (searcher.py:222-223);
    dist is then the min of the two directions.

    ``include_upstream_children`` (bi mode only, reference
    searcher.py:212-216): additionally union the OUT-neighbors of
    every upstream node — the reference's "children of ancestors"
    widening. The reference returns membership only; here a
    child-only node carries dist = min over its upstream parents of
    (parent dist + 1), and nodes already reached keep the smaller of
    that and their BFS dist. One extra single-hop join against the
    cached downstream endpoints — no extra BFS fixpoint.
    """
    if include_upstream_children and direction != "bi":
        raise ValueError(
            "include_upstream_children applies only to direction='bi' "
            "(reference searcher.py:212)"
        )
    if direction == "bi":
        down = bfs_distances(graph, [start], "downstream", max_dist)
        up = bfs_distances(graph, [start], "upstream", max_dist)
        parts = down.unionByName(up)
        if include_upstream_children:
            out_edges = _directed_endpoints(graph, "downstream")
            children = (
                out_edges.join(
                    up.select(
                        F.col("layer").alias("src_layer"),
                        F.col("node_id").alias("src_id"),
                        "dist",
                    ),
                    on=["src_layer", "src_id"],
                )
                .select(
                    F.col("dst_layer").alias("layer"),
                    F.col("dst_id").alias("node_id"),
                    (F.col("dist") + F.lit(1)).alias("dist"),
                )
            )
            parts = parts.unionByName(children)
        return parts.groupBy(*NODE_KEY).agg(F.min("dist").alias("dist"))
    return bfs_distances(graph, [start], direction, max_dist)


def reachable(
    graph: OnionGraph, start: tuple[str, str], direction: str = "downstream"
) -> DataFrame:
    """Full reachability fixpoint (reference _bfs_traversal,
    searcher.py:119-155)."""
    return bfs_distances(graph, [start], direction, max_dist=None)


def pseudo_diameter(
    graph: OnionGraph, start: tuple[str, str], n_sweeps: int = 2
) -> DataFrame:
    """Pseudo-diameter by iterated double-sweep BFS on the undirected
    view (graph-tool `pseudo_diameter` parity): BFS from `start`,
    jump to the farthest node (ties broken by smallest (layer,
    node_id)), BFS again; the last sweep's eccentricity is a lower
    bound on the true diameter that is exact on trees and near-exact
    in practice. `n_sweeps` is FIXED (default 2, the classic double
    sweep) so the result is engine-reproducible — graph-tool's
    iterate-to-no-improvement variant would make the answer depend
    on BFS tie-breaking.

    Returns one row: (start_layer, start_id, peak_layer, peak_id,
    pseudo_diameter) where peak is the farthest node found by the
    final sweep. Each sweep is the shared level loop, in the int
    keying when the 64-bit node keys do not collide (~2.5x per level
    at sf0.1); its last level holds exactly the nodes at the
    eccentricity, so only those map back to strings for the
    (layer, node_id) tie-break, and the chosen peak is the same in
    either keying.
    """
    if n_sweeps < 1:
        raise ValueError(f"n_sweeps must be >= 1, got {n_sweeps}")
    spark = graph.nodes.sparkSession
    src = (start[0], str(start[1]))
    far = None
    ecc = 0
    for _ in range(n_sweeps):
        seed = _seed_frame(spark, [src], "layer string, node_id string")
        _, peak, depth, nidx = _keyed_levels(graph, seed, [src], "sym", True)
        if nidx is not None:
            peak = peak.join(nidx, peak["node"] == nidx["idx"])
        rows = peak.orderBy("layer", "node_id").limit(1).collect()
        if not rows:
            # phantom seed in the int keying (a seed absent from the
            # node table has no index row): eccentricity 0 at itself,
            # matching the string keying's seed-only result
            far, ecc = src, 0
            break
        far, ecc = (rows[0]["layer"], rows[0]["node_id"]), depth
        src = far
    return literal_frame(
        spark,
        [(start[0], str(start[1]), far[0], far[1], ecc)],
        "start_layer string, start_id string, peak_layer string, "
        "peak_id string, pseudo_diameter int",
    )


def weighted_sssp(
    graph: OnionGraph,
    sources: list[tuple[str, str]],
    direction: str = "downstream",
    weight_col: str = "weight",
    max_iterations: int = 50,
) -> DataFrame:
    """Single/multi-source shortest WEIGHTED distances (non-negative
    weights) by frontier Bellman-Ford relaxation: `_relax` with
    dist(v) = min(dist(u) + w(u, v)).

    Extends the reference's hop-count traversals (searcher.py uses
    graph-tool shortest_distance, which also accepts edge weights)
    to weighted edges. Each round relaxes only edges out of nodes
    whose distance improved last round, so rounds needed = longest
    shortest-path edge count + 1, NOT graph size; a budget of
    `max_iterations` rounds that runs out raises RuntimeError.
    Negative weights raise ValueError. Repeated sources count once.

    Returns DataFrame(layer, node_id, dist: double).
    """
    if direction not in ("downstream", "upstream"):
        raise ValueError("direction must be 'upstream' or 'downstream'")
    edges = graph.edges.select(*EDGE_KEY, F.col(weight_col).alias("w")).persist()
    try:
        # the delta relaxation reaches true shortest distances only
        # with non-negative weights: check up front (one cheap agg
        # over the persisted edges)
        min_w = edges.agg(F.min("w")).first()[0]
        if min_w is not None and min_w < 0:
            raise ValueError(
                f"weighted_sssp requires non-negative edge weights; "
                f"found min weight {min_w}"
            )
        uniq = _uniq(sources)
        seed = literal_frame(
            graph.nodes.sparkSession,
            [(l, i, 0.0) for (l, i) in uniq],
            "layer string, node_id string, dist double",
        )
        ends = (EDGE_KEY[:2], EDGE_KEY[2:])
        src, dst = ends if direction == "downstream" else ends[::-1]
        # the result reads only the seed and the cut deltas, so the
        # edges can go once the loop returns
        return _relax(
            edges, seed, NODE_KEY, src, dst, "dist", F.col("dist") + F.col("w"),
            "min", "weighted_sssp", max_iterations,
            "a shortest path exceeds the round cap, raise max_iterations",
            n_seed=len(uniq),
        )
    finally:
        edges.unpersist()


def on_shortest_path(
    graph: OnionGraph,
    source: tuple[str, str],
    targets: list[tuple[str, str]],
) -> DataFrame:
    """Nodes lying on some shortest path from source to any target.

    Reference compute_on_shortest (searcher.py:26-117): forward BFS
    from source; reverse BFS from an artificial vertex wired to all
    targets with weight 0 (== multi-source reverse BFS); keep v with
    d_f(v) + d_r(v) ∈ { d_f(t) : t ∈ targets }. We reproduce those
    semantics exactly, including the quirk that d_r is the min over
    ALL targets while membership is tested against the full set of
    target distances.

    Neither arm needs its full fixpoint: a member v has
    d_f(v) + d_r(v) = td for some target distance td <= D, the
    largest distance of a found target, so d_f(v) <= D and
    d_r(v) <= D. The two arms run one after the other: the forward
    BFS stops once every target is found (its last level is D), then
    the reverse BFS runs capped at D (VERDICT r2: O(ego-radius)
    rounds instead of O(diameter)).
    """
    found_depths: list[int] = []
    fwd = bfs_distances(
        graph, [source], "downstream",
        stop_nodes=targets, found_depths=found_depths,
    ).withColumnRenamed("dist", "d_f")
    # unreachable targets have no td, so they do not raise the cap
    rev = bfs_distances(
        graph, targets, "upstream", max_dist=max(found_depths, default=0)
    ).withColumnRenamed("dist", "d_r")
    # the target distances {d_f(t)} are the found depths: the loop's
    # stop check records each found target once, at its d_f
    return (
        fwd.join(rev, on=NODE_KEY)
        .filter((F.col("d_f") + F.col("d_r")).isin(sorted(set(found_depths))))
        .select("layer", "node_id", "d_f", "d_r")
    )


def on_shortest_path_weighted(
    graph: OnionGraph,
    source: tuple[str, str],
    targets: list[tuple[str, str]],
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted variant of on_shortest_path: nodes v with
    d_f(source, v) + d_r(v, targets) equal to some target's weighted
    distance (reference compute_on_shortest runs over graph-tool
    shortest_distance, which honors edge weights when given).

    Distances come from two concurrent Bellman-Ford fixpoints;
    membership compares ROUNDED (6 dp) sums so float associativity
    cannot flake the equality. Returns (layer, node_id, d_f, d_r).
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fwd = pool.submit(weighted_sssp, graph, [source], "downstream", weight_col)
        f_rev = pool.submit(weighted_sssp, graph, targets, "upstream", weight_col)
        fwd = f_fwd.result().withColumnRenamed("dist", "d_f")
        rev = f_rev.result().withColumnRenamed("dist", "d_r")
    spark = graph.nodes.sparkSession
    target_df = F.broadcast(
        literal_frame(
            spark, [(l, str(i)) for (l, i) in targets], "layer string, node_id string"
        )
    )
    target_dists = (
        fwd.join(target_df, on=NODE_KEY)
        .select(F.round("d_f", 6).alias("td"))
        .distinct()
    )
    return (
        fwd.join(rev, on=NODE_KEY)
        .withColumn("d_sum", F.round(F.col("d_f") + F.col("d_r"), 6))
        .join(F.broadcast(target_dists), F.col("d_sum") == F.col("td"), "left_semi")
        .select(
            "layer",
            "node_id",
            F.round("d_f", 6).alias("d_f"),
            F.round("d_r", 6).alias("d_r"),
        )
    )


def multi_source_bfs(
    graph: OnionGraph,
    sources: list[tuple[str, str]],
    direction: str = "downstream",
    max_dist: int | None = None,
) -> DataFrame:
    """Per-source BFS distances for ALL sources in ONE
    level-synchronous sweep: the frontier is keyed by (sid, node),
    so each level is still a single join + dedup + anti-join round
    and the per-level job count is independent of the source count
    (running k separate bfs_distances calls would cost k times the
    scheduling). sid is the source's 'layer:node_id' key; duplicate
    sources collapse to one sid.

    Unlike bfs_distances (which MERGES sources into a min-distance
    field), this keeps the per-source distance — the primitive for
    sampled centralities (harmonic closeness, betweenness pivots)
    and landmark distance labelings.

    The sweep carries a small int source id; directed sweeps run in
    the int keying when the 64-bit node keys do not collide, since
    their visited union reaches k x |reach| rows.

    Returns DataFrame(sid, layer, node_id, dist).
    """
    spark = graph.nodes.sparkSession
    uniq = _uniq(sources)
    keys = [(si, l, i) for si, (l, i) in enumerate(uniq)]
    seeds = _seed_frame(spark, keys, "sid_i int, layer string, node_id string")
    reached, _, depth, nidx = _keyed_levels(
        graph, seeds, keys, direction, direction != "sym", ("sid_i",), max_dist
    )
    sid = F.broadcast(
        literal_frame(
            spark,
            [(si, f"{l}:{i}") for si, (l, i) in enumerate(uniq)],
            "sid_i int, sid string",
        )
    )
    return (
        _string_keyed(reached, depth, nidx, seeds)
        .join(sid, on="sid_i")
        .select("sid", "layer", "node_id", "dist")
    )


def temporal_earliest_arrival(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "ts",
    max_rounds: int = 4,
    hops_per_round: int = 1,
) -> DataFrame:
    """Time-respecting reachability: earliest arrival time at every
    node over paths whose edge timestamps never decrease — an edge
    (u, v, t) is traversable only if you arrived at u by time t.

    Relaxes  arrival(v) = min{ t of (u,v,t) : t >= arrival(u) }
    to fixpoint through `_relax`: only nodes whose arrival improved
    last round join the edge list in the next. Sources (the first
    column of `sources`, duplicates dropped) have arrival NULL: it
    reads as -infinity, so all their edges qualify, and it is never
    improved. The loop stops on an empty delta; a RuntimeError is
    raised if round `max_rounds` + 1 still finds improvements (silent
    truncation would report too-late arrivals).

    `hops_per_round` > 1 expands the frontier that many hops INSIDE
    one round (lazy join chain, no barrier between hops) before the
    single delta merge, so the number of materialization barriers
    drops by ~k. Sound because relaxation is monotone
    label-correcting: an intra-round hop relaxes from a CANDIDATE
    arrival that may be worse than (or tie) the node's final best,
    which can only under-qualify edges — never admit an invalid path
    — and any node whose best improves lands in the round's delta, so
    its out-edges are re-relaxed with the improved value next round.
    The fixpoint is therefore the same under any hops_per_round;
    total depth <= max_rounds * hops_per_round.
    """
    e = edges.select(
        F.col(src_col).alias("u"),
        F.col(dst_col).alias("v"),
        F.col(ts_col).alias("t"),
    ).localCheckpoint()
    seed = sources.select(
        F.col(sources.columns[0]).alias("node"),
        F.lit(None).cast(e.schema["t"].dataType).alias("arrival"),
    )
    return _relax(
        e, seed, ["node"], ["u"], ["v"], "arrival", F.col("t"), "min",
        "temporal_earliest_arrival", max_rounds + 1, "raise `max_rounds`",
        keep=F.col("arrival").isNull() | (F.col("t") >= F.col("arrival")),
        hops=max(1, hops_per_round),
    )


def topological_levels(graph: OnionGraph, max_iterations: int = 20) -> DataFrame:
    """Topological generation of every node in a DAG: level(v) =
    length of the LONGEST directed path reaching v (sources sit at
    0) — the layer scheduler's view of an onion graph (everything at
    level k depends only on levels < k), and a cycle detector for
    free: a cycle keeps relaxing forever, so a budget of
    `max_iterations` rounds that runs out raises RuntimeError.

    `_relax` with level(v) = max(level(u) + 1) from every node at
    level 0 (the node table holds each node once, so the seed needs
    no dedup), over the graph's cached downstream endpoints: only
    nodes whose level changed last round join the edge list in the
    next. Monotone relaxation reaches the same fixpoint under any
    schedule, in longest-path-depth + 1 rounds. Returns (layer,
    node_id, level).
    """
    return _relax(
        graph.cached_endpoints("downstream"),
        graph.nodes.select(*NODE_KEY, F.lit(0).alias("level")),
        NODE_KEY, EDGE_KEY[:2], EDGE_KEY[2:], "level", F.col("level") + 1, "max",
        "topological_levels", max_iterations,
        "the graph has a cycle, or raise max_iterations",
        n_seed=graph.cached_n_nodes(),
    )
