"""Query registry: every SURVEY §2 operator exposed as a
(spark, sf_dir) -> DataFrame callable plus (where SQL-expressible)
a DuckDB oracle SQL string.

Modules register into REGISTRY: name -> (callable, oracle_sql | None).
`load_all()` imports them all and returns REGISTRY in registration
order. The order in which a driver verifies the keys is not kept
here: `__spark_entry__.evidence_order` computes it from the committed
`CORRECTNESS_r*.json` records (keys with no green row first, then the
stalest evidence, rows-only keys last).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class _Registry(dict):
    """Dict that refuses silent overwrites: round 2 shipped a
    duplicated graph_pagerank_weighted block where the second
    registration silently won (VERDICT r2 'what's wrong' #1)."""

    def __setitem__(self, key, value):  # noqa: D105
        if key in self and self[key][0] is not value[0]:
            # Attaching a generated oracle to the SAME callable
            # (register(name, None) then _REG[name] = (fn, sql)) is the
            # supported two-step pattern; a different callable is a
            # genuine duplicate definition.
            raise ValueError(f"duplicate query registration: {key!r}")
        dict.__setitem__(self, key, value)


REGISTRY: dict[str, tuple[QueryFn, str | None]] = _Registry()


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def load_all() -> dict[str, tuple[QueryFn, str | None]]:
    """Every registered query, after importing the modules that
    register them."""
    from onionnet_spark.queries import (  # noqa: F401
        relational,
        streaming_queries,
        pipeline_queries,
        graph_queries,
    )

    return REGISTRY
