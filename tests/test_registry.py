"""Registry invariants: duplicate-key guard, the evidence order, and
that every library module is reachable from what the system runs.

The driver records correctness for only the first 50 keys of
`__spark_entry__.queries()` per round, so their order IS the evidence
plan. It is computed, not kept by hand: `evidence_order` reads the
committed CORRECTNESS_r<round>.json records and puts keys with no
green row first, then keys by the round of their newest green row,
oldest first, ties by name, and rows-only keys last. The tests here
pin those rules as properties of the order and on synthetic records.
Round 2 shipped a silently-overwritten duplicate registration
(graph_pagerank_weighted), which the guard now makes impossible.
"""

import ast
import glob
import json
import os
import re

import pytest

import __spark_entry__ as entry
from onionnet_spark import queries as q

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def _driver_records():
    """(key -> rounds with a green driver row, keys with a red row)
    over every committed CORRECTNESS_r<round>.json, parsed here rather
    than through the ordering under test."""
    green_rounds: dict[str, set[int]] = {}
    red = set()
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
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
    return green_rounds, red


def test_driver_records_have_no_red_key_and_no_evidence_debt():
    reg = q.load_all()
    green_rounds, red = _driver_records()
    red -= set(green_rounds)
    red &= set(reg)  # drop keys retired from the registry
    assert not red, f"keys with a red driver record left unfixed: {red}"
    unrecorded = [k for k in reg if k not in green_rounds]
    assert not unrecorded, f"keys with no driver record: {unrecorded}"


def test_evidence_order_leads_with_the_stalest_evidence():
    """The driver verifies the first 50 keys of `queries()` each
    round: they must be the keys whose newest green record is oldest,
    and never a rows-only key (a rows-only row proves nothing)."""
    reg = q.load_all()
    order = list(entry.queries())
    assert sorted(order) == sorted(reg) and len(order) == len(reg)
    assert order == list(entry.queries()) == entry.evidence_order(reg)
    assert list(entry.oracle_sql()) == [k for k in order if reg[k][1] is not None]
    green_rounds, _ = _driver_records()
    newest = {k: max(green_rounds.get(k, {0})) for k in reg}
    rows_only = {k for k in reg if reg[k][1] is None}
    head, rest = order[:50], [k for k in order[50:] if k not in rows_only]
    assert not rows_only & set(head)
    assert max(newest[k] for k in head) <= min(newest[k] for k in rest)
    assert set(order[-len(rows_only):]) == rows_only


def test_evidence_order_rules_on_synthetic_records(tmp_path):
    def fn(spark, sf):
        return None

    sql = "SELECT 1"
    reg = {
        k: (fn, None if k.startswith("rows_only") else sql)
        for k in ("rows_only", "new", "old_b", "old_a", "red_only",
                  "never", "rows_only_unrun", "err_hash", "sql_no_oracle")
    }
    green = {"hash_match": True, "spark_rows": 3, "err": None}
    red = {"hash_match": False, "spark_rows": 3, "err": None}
    no_oracle = {"hash_match": None, "spark_rows": 3, "err": "no_oracle"}
    records = {
        "CORRECTNESS_r03.json": {
            "old_a": green, "old_b": green, "new": green, "red_only": red,
            "err_hash": dict(green, err="timeout"), "rows_only": no_oracle,
            "sql_no_oracle": no_oracle, "retired": green,
        },
        "CORRECTNESS_r12.json": {"new": green, "old_b": red},
        # not a round record: ignored
        "CORRECTNESS_r12_partial.json": {"old_a": green},
    }
    for name, rows in records.items():
        (tmp_path / name).write_text(json.dumps(rows))
    assert entry.evidence_order(reg, str(tmp_path)) == [
        # 1. no green row (a red row, an errored hash match and a
        # no_oracle row for a key that has an oracle are not green);
        # 3. ties by name
        "err_hash", "never", "red_only", "sql_no_oracle",
        # 2. by the round of the newest green row, oldest first (a
        # later red row does not make old_b's evidence newer)
        "old_a", "old_b", "new",
        # 4. rows-only keys last, under the same rules among themselves
        "rows_only_unrun", "rows_only",
    ]


def test_survey_inventory_matches_registry():
    """SURVEY §2 is the judge's coverage checklist: every registry
    key must appear there as a backticked token, and row numbers
    must be unique (VERDICT r7 item 8 — the inventory is the audit
    trail, keep it clean)."""
    txt = open(os.path.join(ROOT, "SURVEY.md")).read()
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


# modules (relative to the package) that nothing the system runs
# imports, each kept for a stated reason; a module that becomes
# reachable must leave this map
UNREACHED_ALLOWED = {
    "sources/graph_io.py": "reference surface: read_graph, write_graph "
    "and graph_from_csv (it also reaches sources/bucketed.py)",
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
