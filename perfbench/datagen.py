"""Seeded TPC-H-shaped source tables for the graph-session benchmark.

The tables carry exactly the columns ``sources.tpch_graph.node_frames``
and ``edge_frames`` read, so the benchmark builds its graph through the
same layer definitions as the rest of the project (7 layers: region,
nation, customer, supplier, part, orders, lineitem). Everything is a
pure function of ``(seed, scale)``: the same seed gives byte-identical
tables, so two runs of one seed see identical inputs.

Shapes follow TPC-H where the graph depends on them: 25 nations over 5
regions, one third of customers never order (custkey % 3 == 0), 1-7
lineitems per order, each lineitem pointing at one part and one
supplier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# (name, regionkey) in TPC-H nationkey order
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLOURS = ["almond", "azure", "blush", "coral", "ivory", "khaki", "linen", "olive"]

# rows per unit of scale (scale 1.0 == TPC-H sf0.01 cardinalities)
BASE = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000}


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pd.DataFrame]:
    """The seven source tables as pandas frames, keyed like TPC-H."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE.items()}

    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int64),
        "r_name": REGIONS,
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int64),
        "n_name": [nm for nm, _ in NATIONS],
        "n_regionkey": np.array([rk for _, rk in NATIONS], dtype=np.int64),
    })
    custkey = np.arange(1, n["customer"] + 1, dtype=np.int64)
    customer = pd.DataFrame({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
        "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int64),
    })
    suppkey = np.arange(1, n["supplier"] + 1, dtype=np.int64)
    supplier = pd.DataFrame({
        "s_suppkey": suppkey,
        "s_name": [f"Supplier#{k:09d}" for k in suppkey],
        "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"]),
        "s_nationkey": rng.integers(0, 25, n["supplier"], dtype=np.int64),
    })
    partkey = np.arange(1, n["part"] + 1, dtype=np.int64)
    c1 = rng.integers(0, len(COLOURS), n["part"])
    c2 = rng.integers(0, len(COLOURS), n["part"])
    part = pd.DataFrame({
        "p_partkey": partkey,
        "p_name": [f"{COLOURS[a]} {COLOURS[b]}" for a, b in zip(c1, c2)],
        "p_retailprice": _cents(rng, 900.0, 2100.0, n["part"]),
    })

    # TPC-H: customers whose key is a multiple of 3 place no orders
    buyers = custkey[custkey % 3 != 0]
    orderkey = np.arange(1, n["orders"] + 1, dtype=np.int64)
    o_custkey = rng.choice(buyers, n["orders"])
    n_lines = rng.integers(1, 8, n["orders"])
    l_orderkey = np.repeat(orderkey, n_lines)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int64)
    n_li = len(l_orderkey)
    l_partkey = rng.integers(1, n["part"] + 1, n_li, dtype=np.int64)
    l_suppkey = rng.integers(1, n["supplier"] + 1, n_li, dtype=np.int64)
    l_quantity = rng.integers(1, 51, n_li).astype(np.float64)
    price = part["p_retailprice"].to_numpy()[l_partkey - 1]
    l_extendedprice = np.round(l_quantity * price, 2)
    lineitem = pd.DataFrame({
        "l_orderkey": l_orderkey,
        "l_linenumber": l_linenumber,
        "l_partkey": l_partkey,
        "l_suppkey": l_suppkey,
        "l_quantity": l_quantity,
        "l_extendedprice": l_extendedprice,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
    })
    totals = lineitem.groupby("l_orderkey")["l_extendedprice"].sum().round(2)
    orders = pd.DataFrame({
        "o_orderkey": orderkey,
        "o_custkey": o_custkey,
        "o_orderpriority": rng.choice(np.array(PRIORITIES), n["orders"]),
        "o_totalprice": totals.reindex(orderkey).to_numpy(),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem,
    }


def split_orders(
    tables: dict[str, pd.DataFrame], seed: int, base_share: float, n_batches: int
) -> tuple[dict[str, pd.DataFrame], list[dict[str, pd.DataFrame]]]:
    """Split the order facts into a base set and ``n_batches`` deltas.

    A seeded ``base_share`` of orders (with their lineitems) goes to
    the base tables; the rest is dealt round-robin into delta batches
    that each hold only orders + lineitems. Dimension tables stay in
    the base, so every delta edge has its endpoints in base + delta.
    """
    rng = np.random.default_rng([seed, 1])
    okeys = tables["orders"]["o_orderkey"].to_numpy()
    in_base = rng.random(len(okeys)) < base_share
    rest = rng.permutation(okeys[~in_base])
    base = dict(tables)
    base["orders"] = tables["orders"][in_base].reset_index(drop=True)
    base["lineitem"] = tables["lineitem"][
        tables["lineitem"]["l_orderkey"].isin(okeys[in_base])
    ].reset_index(drop=True)
    deltas = []
    for i in range(n_batches):
        keys = rest[i::n_batches]
        deltas.append({
            "orders": tables["orders"][tables["orders"]["o_orderkey"].isin(keys)]
            .reset_index(drop=True),
            "lineitem": tables["lineitem"][tables["lineitem"]["l_orderkey"].isin(keys)]
            .reset_index(drop=True),
        })
    return base, deltas
