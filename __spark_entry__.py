"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)     -> flagship multilayer k-hop ego query on sf0.001.
queries()        -> every implemented operator from SURVEY.md §2.
oracle_sql()     -> DuckDB-equivalent SQL per query (where
                    SQL-expressible; approximate/streaming-native ops
                    are rows-only by design).

Both list their keys in `evidence_order`: a driver that verifies only
the first keys of each round verifies the stalest evidence first.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)


def _prepare(spark: SparkSession) -> None:
    """Session confs our queries rely on, applied defensively (the
    driver owns the session): nanos-parquet reads + UTC windows."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multilayer ego search (reference searcher.search) —
    2-hop upstream expansion from region 0 on the sf0.001 graph."""
    _prepare(spark)
    from onionnet_spark.queries.graph_queries import khop_upstream

    return khop_upstream(spark, "/root/testdata/sf0.001")


def _is_green(row, oracle: str | None) -> bool:
    """A passing correctness row: a hash match with no error, or, for
    a key with no oracle, a `no_oracle` row that produced rows."""
    if not isinstance(row, dict):
        return False
    if row.get("hash_match") and not row.get("err"):
        return True
    return (
        oracle is None
        and row.get("err") == "no_oracle"
        and row.get("spark_rows") is not None
    )


def evidence_order(registry: dict, root: str = _HERE) -> list[str]:
    """The registry's keys, stalest correctness evidence first, read
    from the `CORRECTNESS_r<round>.json` records in `root`: keys with
    no green row, then keys by the round of their newest green row
    (oldest first), ties by name; keys with no oracle (rows-only)
    always last."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        with open(path) as f:
            rows = json.load(f)
        for key, row in rows.items():
            if key in registry and _is_green(row, registry[key][1]):
                newest[key] = max(newest.get(key, 0), int(m.group(1)))
    return sorted(
        registry,
        key=lambda k: (registry[k][1] is None, k in newest, newest.get(k, 0), k),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _make = lambda fn: (lambda spark, sf_dir: (_prepare(spark), fn(spark, sf_dir))[1])
    from onionnet_spark.queries import load_all

    reg = load_all()
    return {name: _make(reg[name][0]) for name in evidence_order(reg)}


def oracle_sql() -> dict[str, str]:
    from onionnet_spark.queries import load_all

    reg = load_all()
    return {
        name: reg[name][1] for name in evidence_order(reg) if reg[name][1] is not None
    }
