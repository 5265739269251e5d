"""The build-once cache (`onionnet_spark.memo`): its contract, its two
owners (each OnionGraph and each live SparkContext), and a guard that
no module-level memo keyed on a session's identity comes back."""

import ast
import os
import pathlib
import re
import subprocess
import sys
import threading
import time

import pytest

from onionnet_spark.builder import grow_onion
from onionnet_spark.memo import Memo

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_memo_caches_none_and_retries_a_failed_build():
    memo, calls = Memo(), []

    def none_build():
        calls.append("none")
        return None

    assert memo.get("k", none_build) is None
    assert memo.get("k", none_build) is None
    assert calls == ["none"] and "k" in memo

    def failing():
        calls.append("fail")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo.get("f", failing)
    assert "f" not in memo
    assert memo.get("f", lambda: 7) == 7
    assert calls == ["none", "fail"]


def test_memo_builds_each_key_once_under_thread_stress():
    """16 threads race `get` over 4 keys with a tiny switch interval:
    a lost update in the check-then-build would build a key twice or
    hand two callers different values."""
    memo, builds, lock = Memo(), {}, threading.Lock()

    def build(key):
        with lock:
            builds[key] = builds.get(key, 0) + 1
        time.sleep(0.001)
        return object()

    got = {}

    def worker(i):
        for n in range(40):
            key = (i + n) % 4
            value = memo.get(key, lambda: build(key))
            with lock:
                got.setdefault(key, set()).add(id(value))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert builds == {0: 1, 1: 1, 2: 1, 3: 1}
    assert all(len(ids) == 1 for ids in got.values()) and len(got) == 4


def _is_cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_graph_views_are_built_once_and_released(spark):
    nodes = spark.createDataFrame(
        [("L", x) for x in "abc"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "b"), ("L", "b", "L", "c")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = grow_onion(nodes, edges)
    views = [
        g.cached_symmetrized(),
        g.canonical_degrees(),
        g.cached_endpoints("upstream"),
        *g.cached_int_sym(),
    ]
    assert g.cached_symmetrized() is views[0]
    assert g.canonical_degrees() is views[1]
    assert g.cached_endpoints("upstream") is views[2]
    assert all(_is_cached(v) for v in views)
    g.unpersist()
    assert not any(_is_cached(v) for v in views)
    assert g.cached_symmetrized() is not views[0]  # rebuilt on demand

    memo, df = Memo(), spark.range(3).persist()
    memo.get("pair", lambda: (df, {"g": g}))
    assert _is_cached(df)
    memo.release()
    assert not _is_cached(df) and len(memo) == 0


def test_a_shared_view_is_released_by_its_last_holder(spark):
    """Two graphs over the same frames persist identical view plans,
    which Spark's CacheManager keeps as one cached relation: releasing
    the first graph must not uncache the second graph's view."""
    from onionnet_spark.core import OnionGraph

    nodes = spark.createDataFrame(
        [("S", x) for x in "abc"], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("S", "a", "S", "b"), ("S", "b", "S", "c")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g1, g2 = OnionGraph(nodes, edges), OnionGraph(nodes, edges)
    assert g1.cached_symmetrized().count() == g2.cached_symmetrized().count() == 4
    view = g2.cached_symmetrized()
    cache = spark._jsparkSession.sharedState().cacheManager()

    def cached():
        return cache.lookupCachedData(view._jdf).isDefined()

    g1.unpersist()
    assert cached(), "releasing g1 uncached g2's view"
    g2.unpersist()
    assert not cached()


def test_shared_relation_holds_survive_concurrent_release(spark):
    """12 memos take and release holds on one cached relation from
    threads under a tiny switch interval: a lost update in the hold
    count would uncache it while held, or never."""
    cache = spark._jsparkSession.sharedState().cacheManager()

    def view():  # a new frame with the same plan on every call
        return spark.range(7).selectExpr("id * 3 AS x")

    def cached():
        return cache.lookupCachedData(view()._jdf).isDefined()

    memos = [Memo() for _ in range(12)]

    def run(work):
        threads = [threading.Thread(target=work, args=(m,)) for m in memos[:-1]]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        run(lambda m: m.get("v", lambda: view().persist()))
        memos[-1].get("v", lambda: view().persist())
        run(lambda m: m.release())
    finally:
        sys.setswitchinterval(old)
    assert cached(), "released while the last memo still holds it"
    memos[-1].release()
    assert not cached()


_NEW_SESSION_SCRIPT = """
import sys
from onionnet_spark import memo
from onionnet_spark.queries.graph_queries import get_graph
from onionnet_spark.session import get_spark
from onionnet_spark.sources.tpch_graph import load_tables

sf = sys.argv[1]
old_spark = get_spark("memo-old-session")
old_graph = get_graph(old_spark, sf)
old_graph.cached_symmetrized().count()
load_tables(old_spark, sf)
old_memo = memo.session_memo(old_spark)
assert ("graph", sf) in old_memo and ("tables", sf) in old_memo
old_spark.stop()

spark = get_spark("memo-new-session")
graph = get_graph(spark, sf)
assert graph is not old_graph
assert memo.session_memo(spark) is not old_memo
assert len(old_memo) == 0, "the stopped context's entries survived"
assert graph.nodes.count() > 0
assert graph.cached_symmetrized().count() > 0
assert load_tables(spark, sf)["orders"].count() > 0
spark.stop()
print("new-session-ok")
"""


def test_stop_then_new_session_serves_live_frames(sf_dir, tmp_path):
    """After `spark.stop()` and a fresh session, get_graph and
    load_tables hand out frames of the new context, never the stopped
    one's. Runs in a subprocess so the suite's session survives."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([str(REPO), os.environ.get("PYTHONPATH", "")]),
        ONIONNET_SHUFFLE_PARTITIONS="4",
        ONIONNET_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION_SCRIPT, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "new-session-ok" in out.stdout


def _session_identity_memos(root: pathlib.Path) -> list[str]:
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        where = f"{path.relative_to(root.parent)}"
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "id"
                and node.args
                and re.search(r"spark|session", ast.unparse(node.args[0]), re.I)
            ):
                found.append(f"{where}:{node.lineno}: {ast.unparse(node)}")
        for node in tree.body:
            value = getattr(node, "value", None)
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and value and (
                "WeakKeyDictionary" in ast.unparse(value)
            ):
                found.append(f"{where}:{node.lineno}: module WeakKeyDictionary")
    return found


def test_no_module_memo_keyed_on_session_identity():
    """Session-wide state lives in `memo.session_memo`, keyed on the
    SparkContext's application id. A memo keyed on `id()` of a session
    can serve a stopped session's frames to a new session that reuses
    the id, and a module-level WeakKeyDictionary is a second,
    unowned cache."""
    assert _session_identity_memos(REPO / "onionnet_spark") == []
