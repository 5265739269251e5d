"""Registry invariants: duplicate-key guard, driver-window rotation,
and that every library module is reachable from what the system runs.

The driver records correctness for only the first 50 registered
queries per round, so load_all()'s ordering IS the evidence plan;
and round 2 shipped a silently-overwritten duplicate registration
(graph_pagerank_weighted), which the guard now makes impossible.
"""

import ast
import json
import os

import pytest

from onionnet_spark import queries as q


def test_duplicate_registration_raises():
    reg = q._Registry()
    fn_a = lambda spark, sf: None  # noqa: E731
    fn_b = lambda spark, sf: None  # noqa: E731
    reg["k"] = (fn_a, None)
    with pytest.raises(ValueError, match="duplicate query registration"):
        reg["k"] = (fn_b, "SELECT 1")


def test_oracle_attachment_to_same_fn_allowed():
    reg = q._Registry()
    fn = lambda spark, sf: None  # noqa: E731
    reg["k"] = (fn, None)
    reg["k"] = (fn, "SELECT 1")  # the two-step generated-oracle pattern
    assert reg["k"][1] == "SELECT 1"


def test_load_all_is_registry_superset_and_ordered():
    reg = q.load_all()
    assert set(reg) == set(q.REGISTRY)
    # round-11 priority: the 17 _R10_NEW keys (the only registry keys
    # with no driver-recorded green row) lead, then 33 of the stalest
    # r02-only keys, then the recorded rotation history
    present_priority = []
    for k in (
        q._R11_WINDOW + q._R10_WINDOW + q._R10_NEW + q._R9_WINDOW
        + q._R9_NEW + q._R8_WINDOW + q._R7_WINDOW + q._R6_WINDOW
    ):
        if k in reg and k not in present_priority:
            present_priority.append(k)
    assert list(reg)[: len(present_priority)] == present_priority


def test_r10_window_resweeps_stalest_evidence():
    """Evidence-plan invariants (VERDICT r9 next-round item 1): the
    first sweep cycle is complete — the union of driver records
    r01-r09 must cover the WHOLE registry green — so the round-10
    window starts the bit-rot re-sweep: its 50 slots are exactly the
    keys whose only green row is r01 (8 rounds of refactors old),
    plus the 2 oldest r02-only keys, in registration order first."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green_rounds: dict[str, set[int]] = {}
    red = set()
    for rnd in (1, 2, 3, 5, 6, 7, 8, 9, 10):
        path = os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json")
        if not os.path.exists(path):
            continue
        for k, v in json.load(open(path)).items():
            if not isinstance(v, dict):
                continue
            hashed = v.get("hash_match") and not v.get("err")
            has_oracle = (
                k in q.REGISTRY and q.REGISTRY[k][1] is not None
            )
            rows_only = (
                v.get("err") == "no_oracle"
                and v.get("spark_rows") is not None
                and not has_oracle
            )
            if hashed or rows_only:
                green_rounds.setdefault(k, set()).add(rnd)
            else:
                red.add(k)
    red -= set(green_rounds)
    red &= set(q.REGISTRY)  # drop keys retired from the registry
    assert not red, f"keys with a red driver record left unfixed: {red}"
    reg = q.load_all()
    # zero evidence debt: every key ever registered has a green row
    # (keys added THIS round are allowed to be pending, queued in
    # _R10_NEW behind the sweep)
    unrecorded = [
        k for k in reg if k not in green_rounds and k not in q._R10_NEW
    ]
    assert not unrecorded, f"keys with no driver record: {unrecorded}"
    # the r11 window closes the last coverage gap first (the 17
    # _R10_NEW keys are the only ones with no driver green row), then
    # re-records the stalest remaining evidence (r02-only keys)
    r02_only = {k for k, rs in green_rounds.items() if rs == {2}}
    window = q._R11_WINDOW
    assert list(reg)[: len(window)] == window
    assert window[:17] == q._R10_NEW
    assert set(window[17:]) <= r02_only and len(window) == 50


def test_survey_inventory_matches_registry():
    """SURVEY §2 is the judge's coverage checklist: every registry
    key must appear there as a backticked token, and row numbers
    must be unique (VERDICT r7 item 8 — the inventory is the audit
    trail, keep it clean)."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    txt = open(os.path.join(root, "SURVEY.md")).read()
    s2 = txt[txt.index("## §2") : txt.index("## §3")]
    ticks = set(re.findall(r"`([a-z0-9_]+)`", s2))
    q.load_all()
    missing = sorted(set(q.REGISTRY) - ticks)
    assert not missing, f"registry keys absent from SURVEY §2: {missing}"
    row_ids = re.findall(r"^\| (\d+[a-z]{0,2}) \|", txt, re.MULTILINE)
    dupes = sorted({r for r in row_ids if row_ids.count(r) > 1})
    assert not dupes, f"duplicate SURVEY row numbers: {dupes}"


def test_every_oracle_parses_and_binds_in_duckdb():
    """EXPLAIN every oracle against the real table schemas: catches
    SQL typos, unbound columns, and dialect slips in one pass
    without executing anything expensive."""
    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    bad = []
    for name, (_fn, sql) in q.load_all().items():
        if sql is None:
            continue
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            bad.append((name, str(e)[:120]))
    assert not bad, bad


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# modules (relative to the package) that nothing the system runs
# imports, each kept for a stated reason; a module that becomes
# reachable must leave this map
UNREACHED_ALLOWED = {
    "sources/graph_io.py": "reference surface: read_graph, write_graph "
    "and graph_from_csv (it also reaches sources/bucketed.py)",
    "sources/docs_io.py": "IO layout left for its own audit",
    "sources/timeseries_io.py": "IO layout left for its own audit",
}


def _module_of(path):
    name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
    return name[: -len(".__init__")] if name.endswith(".__init__") else name


def _imported_names(path):
    """Every dotted name `path` imports, relative imports resolved."""
    pkg = _module_of(path)
    if not path.endswith("__init__.py"):
        pkg = pkg.rpartition(".")[0]
    out = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            out.add(base)
            out |= {f"{base}.{a.name}" for a in node.names}
    return out


def _unreached(extra_roots):
    """Package modules no static import chain reaches from the queries,
    the facade, bench.py, __spark_entry__.py, perfbench, tools or
    `extra_roots` (package-relative paths)."""
    pkg = os.path.join(ROOT, "onionnet_spark")
    modules = {
        _module_of(os.path.join(d, f)): os.path.join(d, f)
        for d, _, files in os.walk(pkg)
        for f in files
        if f.endswith(".py")
    }
    roots = [os.path.join(pkg, "facade.py"), os.path.join(ROOT, "bench.py"),
             os.path.join(ROOT, "__spark_entry__.py")]
    for d in (os.path.join(pkg, "queries"), os.path.join(ROOT, "perfbench"),
              os.path.join(ROOT, "tools")):
        roots += [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".py")]
    roots += [os.path.join(pkg, r) for r in extra_roots]
    seen = {_module_of(r) for r in roots}
    todo = list(roots)
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in modules and m not in seen:
                    seen.add(m)
                    todo.append(modules[m])
    return sorted(
        os.path.relpath(p, pkg) for m, p in modules.items() if m not in seen
    )


def test_every_library_module_is_reachable_from_what_the_system_runs():
    """A library module only tests import is code nothing runs: it
    either gets a caller or goes."""
    unreached = _unreached(UNREACHED_ALLOWED)
    assert not unreached, (
        "modules no entry point imports (delete them, or pin them "
        f"with a reason in UNREACHED_ALLOWED): {unreached}"
    )
    stale = sorted(set(UNREACHED_ALLOWED) - set(_unreached([])))
    assert not stale, f"reachable now, drop from UNREACHED_ALLOWED: {stale}"
