"""Reference answers for every benchmark op, computed off the clock.

The graph is rebuilt from the same generated source tables in DuckDB,
through the project's own oracle SQL (``tpch_graph.NODES_SQL`` /
``EDGES_SQL``). Traversals and views are answered with DuckDB
(recursive CTEs, like ``graph_queries._bfs_oracle``); the fixpoint ops
with plain driver-side algorithms (union-find, power iteration,
peeling) over the collected view.
"""

from __future__ import annotations

import hashlib
import zlib
from collections import defaultdict

import duckdb
import pandas as pd

from onionnet_spark.sources.tpch_graph import EDGES_SQL, NODES_SQL


def key_digest(rows) -> str:
    """Order-independent digest of an iterable of tuples."""
    h = hashlib.sha256()
    for r in sorted(tuple("" if v is None else str(v) for v in r) for r in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


class Oracle:
    """The graph built from ``tables``, grown by the ``deltas`` batches."""

    def __init__(self, tables: dict[str, pd.DataFrame], deltas: list[dict] = ()):
        self.con = duckdb.connect()
        self._tables = tables
        self._deltas = deltas
        self.reset()

    def reset(self) -> None:
        """Back to the graph built from the set-up tables."""
        for name, df in self._tables.items():
            self.con.register(f"src_{name}", df)
            self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM src_{name}")
        self.con.execute(f"CREATE OR REPLACE TABLE nodes_g AS {NODES_SQL}")
        self.con.execute(f"CREATE OR REPLACE TABLE edges_g AS {EDGES_SQL}")

    def grow(self, batch: int) -> None:
        """Apply delta batch ``batch`` with merge_onion semantics: new
        node keys are appended (existing ones win), new edge keys are
        appended when both endpoints exist."""
        for name, df in self._deltas[batch].items():
            self.con.register(f"delta_{name}", df)
            self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM delta_{name}")
        self.con.execute(f"""INSERT INTO nodes_g SELECT * FROM ({NODES_SQL}) d
            WHERE NOT EXISTS (SELECT 1 FROM nodes_g n
                              WHERE n.layer = d.layer AND n.node_id = d.node_id)""")
        self.con.execute(f"""INSERT INTO edges_g SELECT DISTINCT ON
              (src_layer, src_id, dst_layer, dst_id) * FROM ({EDGES_SQL}) d
            WHERE NOT EXISTS (SELECT 1 FROM edges_g e
                WHERE e.src_layer = d.src_layer AND e.src_id = d.src_id
                  AND e.dst_layer = d.dst_layer AND e.dst_id = d.dst_id)
              AND EXISTS (SELECT 1 FROM nodes_g n
                          WHERE n.layer = d.src_layer AND n.node_id = d.src_id)
              AND EXISTS (SELECT 1 FROM nodes_g n
                          WHERE n.layer = d.dst_layer AND n.node_id = d.dst_id)""")

    def set_property(self, layer: str, node_id: str, prop: str, value) -> None:
        self.con.execute(
            f"UPDATE nodes_g SET {prop} = ? WHERE layer = ? AND node_id = ?",
            [value, layer, node_id],
        )

    def fingerprint(self) -> tuple[int, int, int, int]:
        """(nodes, edges, node-key checksum, edge-key checksum), the
        checksum being the sum of CRC-32s of the \\x1f-joined keys."""
        def agg(sql):
            rows = self.con.execute(sql).fetchall()
            return len(rows), sum(zlib.crc32("\x1f".join(r).encode()) for r in rows)

        n, nh = agg("SELECT layer, node_id FROM nodes_g")
        e, eh = agg("SELECT src_layer, src_id, dst_layer, dst_id FROM edges_g")
        return n, e, nh, eh

    # ---- views ---------------------------------------------------------
    def _view_sql(self, layers) -> tuple[str, str]:
        """(nodes, edges) SELECTs of the induced layer view."""
        names = ", ".join(f"'{ln}'" for ln in layers)
        return (
            f"SELECT * FROM nodes_g WHERE layer IN ({names})",
            f"SELECT * FROM edges_g WHERE src_layer IN ({names}) AND dst_layer IN ({names})",
        )

    def view_counts(self, layers) -> tuple[int, int]:
        n, e = self._view_sql(layers)
        return (
            self.con.execute(f"SELECT count(*) FROM ({n})").fetchone()[0],
            self.con.execute(f"SELECT count(*) FROM ({e})").fetchone()[0],
        )

    def filter_counts(self, threshold: float) -> tuple[int, int]:
        """filter_view_by_property('val', threshold, '>', prune=True)."""
        row = self.con.execute(f"""
            WITH n AS (SELECT layer, node_id FROM nodes_g WHERE val > {threshold!r}),
            e AS (SELECT e.* FROM edges_g e
                  SEMI JOIN n s ON e.src_layer = s.layer AND e.src_id = s.node_id
                  SEMI JOIN n d ON e.dst_layer = d.layer AND e.dst_id = d.node_id),
            t AS (SELECT src_layer AS layer, src_id AS node_id FROM e
                  UNION SELECT dst_layer, dst_id FROM e)
            SELECT (SELECT count(*) FROM n SEMI JOIN t USING (layer, node_id)),
                   (SELECT count(*) FROM e)""").fetchone()
        return row[0], row[1]

    def bipartite_counts(self, l1: str, l2: str) -> tuple[int, int]:
        row = self.con.execute(f"""
            WITH e AS (SELECT * FROM edges_g
                       WHERE (src_layer = '{l1}' AND dst_layer = '{l2}')
                          OR (src_layer = '{l2}' AND dst_layer = '{l1}')),
            t AS (SELECT src_layer AS layer, src_id AS node_id FROM e
                  UNION SELECT dst_layer, dst_id FROM e)
            SELECT (SELECT count(*) FROM nodes_g SEMI JOIN t USING (layer, node_id)
                    WHERE layer IN ('{l1}', '{l2}')),
                   (SELECT count(*) FROM e)""").fetchone()
        return row[0], row[1]

    def export_edges(self, layers) -> tuple[int, str]:
        _, e = self._view_sql(layers)
        rows = self.con.execute(
            f"SELECT src_layer, src_id, dst_layer, dst_id, etype, weight FROM ({e})"
        ).fetchall()
        return len(rows), key_digest(rows)

    def lookup(self, layer: str, node_id: str) -> dict:
        df = self.con.execute(
            "SELECT * FROM nodes_g WHERE layer = ? AND node_id = ?", [layer, node_id]
        ).df()
        if df.empty:
            return {}
        return {k: (None if pd.isna(v) else v) for k, v in df.iloc[0].items()}

    # ---- traversals ----------------------------------------------------
    def _bfs(self, seeds: list[tuple[str, str]], direction: str, max_dist) -> dict:
        fwd = direction == "downstream"
        join_on = (
            "e.src_layer = b.layer AND e.src_id = b.node_id"
            if fwd else "e.dst_layer = b.layer AND e.dst_id = b.node_id"
        )
        nxt = "e.dst_layer, e.dst_id" if fwd else "e.src_layer, e.src_id"
        depth = f"WHERE b.dist < {max_dist}" if max_dist is not None else ""
        seed_sql = " UNION ALL ".join(
            f"SELECT '{ly}' AS layer, '{nid}' AS node_id, 0 AS dist" for ly, nid in seeds
        )
        rows = self.con.execute(f"""WITH RECURSIVE bfs AS (
              {seed_sql}
              UNION
              SELECT {nxt}, b.dist + 1 FROM bfs b JOIN edges_g e ON {join_on} {depth}
            )
            SELECT layer, node_id, CAST(MIN(dist) AS INT) FROM bfs
            GROUP BY layer, node_id""").fetchall()
        return {(ly, nid): d for ly, nid, d in rows}

    def khop(self, start, max_dist: int, direction: str) -> set:
        if direction != "bi":
            out = self._bfs([start], direction, max_dist)
        else:
            out = self._bfs([start], "downstream", max_dist)
            for k, d in self._bfs([start], "upstream", max_dist).items():
                out[k] = min(d, out.get(k, d))
        return {(ly, nid, d) for (ly, nid), d in out.items()}

    def on_shortest(self, source, targets) -> set:
        fwd = self._bfs([source], "downstream", None)
        rev = self._bfs(list(targets), "upstream", None)
        tds = {fwd[t] for t in targets if t in fwd}
        return {
            (ly, nid, df_, rev[(ly, nid)])
            for (ly, nid), df_ in fwd.items()
            if (ly, nid) in rev and df_ + rev[(ly, nid)] in tds
        }

    # ---- fixpoints over a collected view --------------------------------
    def view_graph(self, layers) -> tuple[list[str], list[tuple[str, str]]]:
        n, e = self._view_sql(layers)
        keys = [r[0] for r in self.con.execute(
            f"SELECT layer || ':' || node_id FROM ({n})").fetchall()]
        edges = self.con.execute(
            f"SELECT src_layer || ':' || src_id, dst_layer || ':' || dst_id FROM ({e})"
        ).fetchall()
        return keys, edges


def weak_components(keys, edges) -> dict[str, str]:
    parent = {k: k for k in keys}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {k: find(k) for k in keys}


def pagerank(keys, edges, n_iter: int = 5, damping: float = 0.85) -> dict[str, float]:
    """analytics.pagerank's recurrence: uniform 1/N start, dangling
    mass dropped, rank = (1-d)/N + d * incoming contributions."""
    n = len(keys)
    base = (1.0 - damping) / n
    outdeg = defaultdict(int)
    for a, _ in edges:
        outdeg[a] += 1
    contrib = None
    for _ in range(n_iter):
        nxt = defaultdict(float)
        for a, b in edges:
            pr = 1.0 / n if contrib is None else base + damping * contrib.get(a, 0.0)
            nxt[b] += pr / outdeg[a]
        contrib = nxt
    return {k: base + damping * contrib.get(k, 0.0) for k in keys}

