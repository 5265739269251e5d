"""Plan-shape guards (VERDICT r7 item 9): unpartitioned windows.

Every `Window.orderBy(...)` without a partitionBy funnels its input
through ONE task — the classic 100-TB killer. All current sites are
audited-bounded (post-limit(k) frames, |nations|²-sized grids, P-row
partition-offset scans, decile/month series) and each carries a
boundedness comment. This guard makes that audit executable:

  1. every call site must have a boundedness marker (the words
     'bounded', 'tiny', 'P-row', or 'two-phase', case-insensitive)
     within the 12 lines above it;
  2. the per-file site counts are pinned — adding a NEW global
     window anywhere fails this test until the author both bounds
     it in a comment and updates the expected map, i.e. makes the
     scale argument consciously.

tokenize_to_ids and lineitem_layout_skipping (the r7 'weak (plan)'
pair) were converted to the range-partitioned two-phase
global_rank_range this round; this test keeps that class of
regression from re-entering.
"""

import ast
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "onionnet_spark",
)

# file (relative to the package) -> audited count of unpartitioned
# Window.orderBy call sites. Update ONLY together with a boundedness
# comment at the new site.
EXPECTED = {
    "functions/corpus.py": 4,
    "functions/encoding.py": 1,
    "functions/ranking.py": 1,
    "functions/text.py": 5,
    # +1 in r10: graph_centrality_spearman's doubled-rank cumulation
    # (VALUE-grid window: 6dp pagerank <= 1e6+1 rows / distinct degrees)
    "queries/graph_queries.py": 4,
    "queries/pipeline_queries.py": 4,
    # +1 in r10: basket_rules' post-limit(100) rank (bounded, the
    # basket_pairs pattern)
    "queries/relational.py": 11,
    # +2 in r10: events_kpss_test's row_number + cumulative-sum
    # windows (calendar daily grid, same bounded class as runs_test)
    "queries/streaming_queries.py": 5,
    "streaming/events.py": 1,
}

_MARKER = re.compile(r"bounded|tiny|p-row|two-phase", re.IGNORECASE)


def _unpartitioned_window_sites(path):
    src = open(path).read()
    lines = src.splitlines()
    sites = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "orderBy"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
        ):
            ctx = "\n".join(
                lines[max(0, node.lineno - 13) : node.end_lineno + 1]
            )
            sites.append((node.lineno, bool(_MARKER.search(ctx))))
    return sites


def test_unpartitioned_windows_are_bounded_and_pinned():
    found = {}
    unmarked = []
    for root, _dirs, fns in os.walk(PKG):
        for fn in fns:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            sites = _unpartitioned_window_sites(path)
            if sites:
                found[rel] = len(sites)
            unmarked += [
                f"{rel}:{ln}" for ln, marked in sites if not marked
            ]
    assert not unmarked, (
        "unpartitioned Window.orderBy without a boundedness comment "
        f"within 12 lines above: {unmarked} — either partition the "
        "window, use corpus.global_rank_range, or state why the "
        "input is bounded"
    )
    assert found == EXPECTED, (
        "unpartitioned-window site counts changed: "
        f"{found} != {EXPECTED} — new global windows need a "
        "conscious scale argument (bound it in a comment AND update "
        "EXPECTED here); removed ones should shrink the map"
    )


def test_weak_plan_operators_use_two_phase_rank():
    """The two r7 'weak (plan)' sites stay fixed: tokenize_to_ids
    and lineitem_layout_skipping must route through
    global_rank_range, not a bare global ROW_NUMBER."""
    text = open(os.path.join(PKG, "functions/text.py")).read()
    fn = text[text.index("def tokenize_to_ids") :]
    fn = fn[: fn.index("\ndef ")]
    assert "global_rank_range" in fn
    rel = open(os.path.join(PKG, "queries/relational.py")).read()
    fn = rel[rel.index("def lineitem_layout_skipping_q") :]
    fn = fn[: fn.index("\ndef ")]
    assert "global_rank_range" in fn
    assert ".count()" not in fn  # n_rows rides the bounds aggregate


def test_star_round_fuses_min_into_window_exchange(spark):
    """VERDICT r9 item 7: the large-star/small-star round computes
    min-over-neighborhood INSIDE the same hash exchange that groups
    the edges (one Window per star). A refactor back to the
    groupBy(min)+rejoin shape would reintroduce two extra shuffles
    per star — this pins the per-round physical plan: exactly 2
    Window operators, exactly 2 single-key window exchanges, and 1
    more for the final distinct (3 exchanges total). The skew trade
    (a hub's whole neighborhood in one task, AQE cannot split window
    partitions) is documented at the connected_components
    docstring."""
    from onionnet_spark.operators.components import _star_round

    e = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c")], "a string, b string"
    )
    plan = _star_round(e)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    windows = [ln for ln in lines if ln.lstrip("+-: ").startswith("Window")]
    exchanges = [ln for ln in lines if "Exchange hashpartitioning" in ln]
    single_key = [ln for ln in exchanges if ", b#" not in ln]
    assert len(windows) == 2, plan
    assert len(single_key) == 2 and len(exchanges) == 3, plan
