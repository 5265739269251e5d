"""Multi-layer graph over the TPC-H-ish test tables.

This is the analogue of the reference's example datasets (the
moreno-sociograms CSVs under /root/reference/.data): a deterministic
multi-layer network every traversal/view operator is exercised on.

Layers and edges (child -> parent reference edges, so 'downstream'
walks toward dimensions and 'upstream' fans out toward facts):

    lineitem -> orders   (etype 'li_order',  weight l_extendedprice)
    lineitem -> part     (etype 'li_part',   weight l_quantity)
    lineitem -> supplier (etype 'li_supp',   weight l_quantity)
    orders   -> customer (etype 'placed_by', weight o_totalprice)
    customer -> nation   (etype 'cust_nation', weight 1.0)
    supplier -> nation   (etype 'supp_nation', weight 1.0)
    nation   -> region   (etype 'in_region',   weight 1.0)

Node props: name (string), val (double, nullable).
The DuckDB oracle constructs the *same* graph in SQL via the
NODES_SQL / EDGES_SQL CTE bodies below — keep both definitions in
lockstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onionnet_spark.builder import grow_onion
from onionnet_spark.core import OnionGraph
from onionnet_spark.memo import session_memo

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # Cached per (session, dir): spark.read.parquet eagerly reads the
    # file footer for the schema, so constructing the readers fresh
    # in every query charges ~10 footer reads per query — measurable
    # across a 79-query harness run. DataFrames are immutable plans;
    # sharing them is safe.
    return dict(
        session_memo(spark).get(
            ("tables", sf_dir), lambda: _read_tables(spark, sf_dir)
        )
    )


def _read_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    out = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TABLES}
    # events.ts is parquet TIMESTAMP(NANOS), surfaced as long nanos via
    # spark.sql.legacy.parquet.nanosAsLong; convert to a real timestamp.
    # Integer division (not /1000.0): nano epochs ~1.7e18 overflow the
    # 53-bit double mantissa and would corrupt low-order digits.
    if dict(out["events"].dtypes).get("ts") == "bigint":
        out["events"] = out["events"].withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # Parquet TIMESTAMP_MICROS with isAdjustedToUTC=false infers as
    # TIMESTAMP_NTZ (Spark >= 3.4). Batch semantics are identical
    # under the fixed UTC session zone, but event-time watermarks
    # require TIMESTAMP, so normalize here — the cast reinterprets
    # the same wall-clock instant in UTC, changing no values.
    elif dict(out["events"].dtypes).get("ts") == "timestamp_ntz":
        out["events"] = out["events"].withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    return out


def _s(c) -> F.Column:
    return F.col(c).cast("string")


def _li_id() -> F.Column:
    """Unique deterministic lineitem node id.

    (l_orderkey, l_linenumber) is NOT unique in the generated data,
    so the id is the full integer tuple okey-ln-pk-sk-qty-cents
    (quantity is integral, extendedprice is exact cents) — identical
    string in Spark and DuckDB (LI_ID_SQL below).
    """
    return F.concat_ws(
        "-",
        _s("l_orderkey"),
        _s("l_linenumber"),
        _s("l_partkey"),
        _s("l_suppkey"),
        F.col("l_quantity").cast("bigint").cast("string"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").cast("string"),
    )


LI_ID_SQL = (
    "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '-' || "
    "CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR) || '-' || "
    "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || '-' || "
    "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)"
)


def node_frames(t: dict[str, DataFrame]) -> DataFrame:
    """Union of per-layer node frames: (layer, node_id, name, val)."""
    parts = [
        t["region"].select(
            F.lit("region").alias("layer"), _s("r_regionkey").alias("node_id"),
            F.col("r_name").alias("name"), F.lit(None).cast("double").alias("val"),
        ),
        t["nation"].select(
            F.lit("nation").alias("layer"), _s("n_nationkey").alias("node_id"),
            F.col("n_name").alias("name"), F.lit(None).cast("double").alias("val"),
        ),
        t["customer"].select(
            F.lit("customer").alias("layer"), _s("c_custkey").alias("node_id"),
            F.col("c_name").alias("name"), F.col("c_acctbal").alias("val"),
        ),
        t["supplier"].select(
            F.lit("supplier").alias("layer"), _s("s_suppkey").alias("node_id"),
            F.col("s_name").alias("name"), F.col("s_acctbal").alias("val"),
        ),
        t["orders"].select(
            F.lit("orders").alias("layer"), _s("o_orderkey").alias("node_id"),
            F.col("o_orderpriority").alias("name"), F.col("o_totalprice").alias("val"),
        ),
        t["part"].select(
            F.lit("part").alias("layer"), _s("p_partkey").alias("node_id"),
            F.col("p_name").alias("name"), F.col("p_retailprice").alias("val"),
        ),
        t["lineitem"].select(
            F.lit("lineitem").alias("layer"),
            _li_id().alias("node_id"),
            F.col("l_returnflag").alias("name"), F.col("l_extendedprice").alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def edge_frames(t: dict[str, DataFrame]) -> DataFrame:
    """Union of reference edges: (src_layer, src_id, dst_layer, dst_id, etype, weight)."""
    li_id = _li_id()

    def edge(df, sl, sid, dl, did, etype, weight):
        return df.select(
            F.lit(sl).alias("src_layer"), sid.alias("src_id"),
            F.lit(dl).alias("dst_layer"), did.alias("dst_id"),
            F.lit(etype).alias("etype"), weight.cast("double").alias("weight"),
        )

    parts = [
        edge(t["lineitem"], "lineitem", li_id, "orders", _s("l_orderkey"),
             "li_order", F.col("l_extendedprice")),
        edge(t["lineitem"], "lineitem", li_id, "part", _s("l_partkey"),
             "li_part", F.col("l_quantity")),
        edge(t["lineitem"], "lineitem", li_id, "supplier", _s("l_suppkey"),
             "li_supp", F.col("l_quantity")),
        edge(t["orders"], "orders", _s("o_orderkey"), "customer", _s("o_custkey"),
             "placed_by", F.col("o_totalprice")),
        edge(t["customer"], "customer", _s("c_custkey"), "nation", _s("c_nationkey"),
             "cust_nation", F.lit(1.0)),
        edge(t["supplier"], "supplier", _s("s_suppkey"), "nation", _s("s_nationkey"),
             "supp_nation", F.lit(1.0)),
        edge(t["nation"], "nation", _s("n_nationkey"), "region", _s("n_regionkey"),
             "in_region", F.lit(1.0)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_graph(spark: SparkSession, sf_dir: str, validate: bool = False) -> OnionGraph:
    """Build the multi-layer TPC-H graph.

    validate=False by default: the generator guarantees referential
    integrity, so the two endpoint semi-joins (builder parity with
    reference builder.py:219-224) would be pure overhead at scale.
    Tests cover validate=True separately.
    """
    t = load_tables(spark, sf_dir)
    g = grow_onion(
        node_frames(t),
        edge_frames(t),
        node_prop_cols=["name", "val"],
        edge_prop_cols=["etype", "weight"],
        drop_duplicates=False,  # source keys are unique by construction
        validate_endpoints=validate,
    )
    # Builder-asserted invariant: every edge type above joins two
    # DIFFERENT layers, each (src, dst) pair is key-unique within its
    # type (src is the source table's primary key), and no two types
    # connect the same layer pair in opposite directions — so each
    # undirected node pair appears in exactly one edge row and there
    # are no self-loops. Lets canonical/symmetrized views skip their
    # dedup shuffle (the biggest exchange in every undirected
    # analytic at scale).
    g.edges_unique_undirected = True
    return g


# ---------------------------------------------------------------------------
# DuckDB oracle CTE bodies — MUST mirror node_frames/edge_frames above.
# ---------------------------------------------------------------------------
NODES_SQL = f"""
  SELECT 'region' AS layer, CAST(r_regionkey AS VARCHAR) AS node_id,
         r_name AS name, CAST(NULL AS DOUBLE) AS val FROM region
  UNION ALL
  SELECT 'nation', CAST(n_nationkey AS VARCHAR), n_name, CAST(NULL AS DOUBLE) FROM nation
  UNION ALL
  SELECT 'customer', CAST(c_custkey AS VARCHAR), c_name, c_acctbal FROM customer
  UNION ALL
  SELECT 'supplier', CAST(s_suppkey AS VARCHAR), s_name, s_acctbal FROM supplier
  UNION ALL
  SELECT 'orders', CAST(o_orderkey AS VARCHAR), o_orderpriority, o_totalprice FROM orders
  UNION ALL
  SELECT 'part', CAST(p_partkey AS VARCHAR), p_name, p_retailprice FROM part
  UNION ALL
  SELECT 'lineitem', {LI_ID_SQL}, l_returnflag, l_extendedprice FROM lineitem
"""

EDGES_SQL = f"""
  SELECT 'lineitem' AS src_layer, {LI_ID_SQL} AS src_id,
         'orders' AS dst_layer, CAST(l_orderkey AS VARCHAR) AS dst_id,
         'li_order' AS etype, CAST(l_extendedprice AS DOUBLE) AS weight FROM lineitem
  UNION ALL
  SELECT 'lineitem', {LI_ID_SQL}, 'part', CAST(l_partkey AS VARCHAR), 'li_part',
         CAST(l_quantity AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT 'lineitem', {LI_ID_SQL}, 'supplier', CAST(l_suppkey AS VARCHAR), 'li_supp',
         CAST(l_quantity AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT 'orders', CAST(o_orderkey AS VARCHAR), 'customer', CAST(o_custkey AS VARCHAR),
         'placed_by', CAST(o_totalprice AS DOUBLE) FROM orders
  UNION ALL
  SELECT 'customer', CAST(c_custkey AS VARCHAR), 'nation', CAST(c_nationkey AS VARCHAR),
         'cust_nation', 1.0 FROM customer
  UNION ALL
  SELECT 'supplier', CAST(s_suppkey AS VARCHAR), 'nation', CAST(s_nationkey AS VARCHAR),
         'supp_nation', 1.0 FROM supplier
  UNION ALL
  SELECT 'nation', CAST(n_nationkey AS VARCHAR), 'region', CAST(n_regionkey AS VARCHAR),
         'in_region', 1.0 FROM nation
"""


def graph_ctes() -> str:
    """WITH-clause body defining nodes_g / edges_g for oracle SQL."""
    return f"nodes_g AS ({NODES_SQL}), edges_g AS ({EDGES_SQL})"
