"""Unit gates for the round-4 closing-session operators: SCC
condensation, the k-means cluster report, and distributed BPE
training — invariants and exact toy answers the oracle fixtures
can't reach."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from onionnet_spark.core import OnionGraph
from onionnet_spark.functions import similarity, text
from onionnet_spark.operators.components import condensation_graph


@pytest.fixture(scope="module")
def scc_toy(spark):
    # SCC {a, b, c} (3-cycle); d and e singletons; TWO edges from the
    # SCC to e (a->e, c->e) so the condensed edge has multiplicity 2.
    nodes = spark.createDataFrame(
        [("L", x) for x in "abcde"], ["layer", "node_id"]
    )
    edges = spark.createDataFrame(
        [
            ("L", "a", "L", "b"),
            ("L", "b", "L", "c"),
            ("L", "c", "L", "a"),
            ("L", "d", "L", "a"),
            ("L", "a", "L", "e"),
            ("L", "c", "L", "e"),
        ],
        ["src_layer", "src_id", "dst_layer", "dst_id"],
    )
    return OnionGraph(nodes, edges)


def test_condensation_contracts_scc_and_counts_multiplicity(scc_toy):
    rows = {
        (r["src_component"], r["dst_component"]): r
        for r in condensation_graph(scc_toy).collect()
    }
    # component label = min node key
    assert set(rows) == {("L:d", "L:a"), ("L:a", "L:e")}
    into = rows[("L:d", "L:a")]
    assert into["n_edges"] == 1 and into["src_size"] == 1
    assert into["dst_size"] == 3
    out = rows[("L:a", "L:e")]
    assert out["n_edges"] == 2  # a->e and c->e both leave the SCC
    assert out["src_size"] == 3 and out["dst_size"] == 1


def test_condensation_weak_mode_drops_all_edges_when_connected(scc_toy):
    # weakly, the toy is ONE component -> every edge is intra-component
    assert condensation_graph(scc_toy, connectivity="weak").count() == 0


def test_kmeans_report_partitions_all_vectors(spark):
    import numpy as np

    rng = np.random.RandomState(4)
    data = [
        (int(i), [float(x) for x in rng.randn(6)]) for i in range(60)
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    rep = similarity.kmeans_cluster_report(df, k=4, iterations=2).collect()
    assert sum(r["n_vectors"] for r in rep) == 60
    assert 1 <= len(rep) <= 4
    for r in rep:
        # cohesion is a mean of 6dp cosines in ppm
        assert -1_000_000.0 <= r["mean_cos_ppm"] <= 1_000_000.0
        assert abs(r["mean_cos_ppm"] * r["n_vectors"] - r["sum_cos_ppm"]) < 1


def test_bpe_train_learns_expected_merges(spark):
    df = spark.createDataFrame(
        [
            (1, "aaaa aaaa banana banana banana bandana"),
            (2, "aaaa low lower lowest low low"),
        ],
        "doc_id long, text string",
    )
    merges = [
        (r["left_sym"], r["right_sym"], r["pair_count"])
        for r in text.bpe_train(df, n_merges=5)
        .orderBy("merge_rank")
        .collect()
    ]
    # aaaa x3 contributes 3 (a,a) pairs each; banana x3 + bandana
    # contribute 8 (a,n); then (l,o) / (lo,w) at 5 from the low family,
    # and (an,a) = 4 once a+n has merged.
    assert merges == [
        ("a", "a", 9),
        ("a", "n", 8),
        ("l", "o", 5),
        ("lo", "w", 5),
        ("an", "a", 4),
    ]


def test_bpe_train_merge_application_is_greedy_left_to_right(spark):
    # 'aaaaa' after merging (a,a) must become [aa, aa, a] (greedy
    # left-to-right), NOT [aa, a, aa]: round 2 then sees pairs
    # (aa,aa) and (aa,a) — tie at count 1 broken to (aa,a) by pair
    # order. The [aa,a,aa] mis-application would instead offer
    # (a,aa) and lose the tie-break differently.
    df = spark.createDataFrame([(1, "aaaaa")], "doc_id long, text string")
    merges = [
        (r["left_sym"], r["right_sym"], r["pair_count"])
        for r in text.bpe_train(df, n_merges=2).orderBy("merge_rank").collect()
    ]
    assert merges == [("a", "a", 4), ("aa", "a", 1)]


def test_bpe_train_skips_non_alnum_words(spark):
    df = spark.createDataFrame(
        [(1, "foo-bar foo-bar foo-bar zz zz")], "doc_id long, text string"
    )
    merges = text.bpe_train(df, n_merges=1).collect()
    # 'foo-bar' is filtered (regex-unsafe '-'); only 'zz' remains
    assert merges[0]["left_sym"] == "z" and merges[0]["right_sym"] == "z"
    assert merges[0]["pair_count"] == 2


def test_bpe_encode_segments_and_ids(spark):
    df = spark.createDataFrame(
        [(1, "banana banana band x!"), (2, "ban nab")],
        "doc_id long, text string",
    )
    # merge 1 = (a,n) [count 6], merge 2 = (b,an) [count 4];
    # segmentations: banana -> [ban, an, a], band -> [ban, d],
    # ban -> [ban], nab -> [n, a, b]. Vocab by occurrence:
    # ban(4)=1, a(3)=2, an(2)=3, b(1)=4, d(1)=5, n(1)=6.
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in text.bpe_train(df, n_merges=2).orderBy("merge_rank").collect()
    ]
    assert merges == [("a", "n"), ("b", "an")]
    enc = {r["doc_id"]: r for r in text.bpe_encode(df, n_merges=2).collect()}
    # doc 1: 4 words; 'x!' is OOV ('!' fails the trainer's alnum filter)
    assert enc[1]["n_words"] == 4 and enc[1]["n_encoded_words"] == 3
    assert enc[2]["n_words"] == 2 and enc[2]["n_encoded_words"] == 2
    assert list(enc[1]["ids"]) == [1, 3, 2, 1, 3, 2, 1, 5]
    assert list(enc[2]["ids"]) == [1, 6, 2, 4]
    assert enc[1]["n_subword_tokens"] == 8
    assert enc[2]["n_subword_tokens"] == 4


def test_bpe_encode_empty_and_oov_docs(spark):
    df = spark.createDataFrame(
        [(1, "!!! ??? --"), (2, "hello hello")], "doc_id long, text string"
    )
    enc = {r["doc_id"]: r for r in text.bpe_encode(df, n_merges=1).collect()}
    assert enc[1]["n_encoded_words"] == 0
    assert enc[1]["n_subword_tokens"] == 0 and list(enc[1]["ids"]) == []
    assert enc[2]["n_encoded_words"] == 2
    # both 'hello' occurrences encode to the same segment ids
    ids = list(enc[2]["ids"])
    assert len(ids) % 2 == 0
    assert ids[: len(ids) // 2] == ids[len(ids) // 2 :]


def test_mis_is_independent_and_maximal(spark):
    import random

    rnd = random.Random(7)
    edges = list({
        tuple(sorted(rnd.sample(range(40), 2))) for _ in range(120)
    })
    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], ["a", "b"]
    )
    from onionnet_spark.operators.analytics import maximal_independent_set

    mis = {r["node"] for r in maximal_independent_set(df, rounds=8).collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(f"n{a}", set()).add(f"n{b}")
        adj.setdefault(f"n{b}", set()).add(f"n{a}")
    # independent: no two MIS members adjacent
    for n in mis:
        assert not (adj.get(n, set()) & mis), n
    # maximal: every non-member has a member neighbor
    for n in adj:
        if n not in mis:
            assert adj[n] & mis, n


def test_count_min_never_underestimates(spark):
    from onionnet_spark.functions.corpus import count_min_topk

    rows = [(f"k{i % 7}",) for i in range(300)] + [
        (f"rare{i}",) for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["key"])
    out = count_min_topk(df, "key", depth=4, width=16, k=10).collect()
    assert len(out) == 10
    for r in out:
        assert r["est"] >= r["exact"]  # the CMS invariant
    # with 57 keys in 16 buckets the hot keys still rank on top
    top = {r["key"] for r in out[:7]}
    assert {f"k{i}" for i in range(7)} <= {r["key"] for r in out}


def test_skyline_matches_bruteforce(spark):
    import random

    rnd = random.Random(3)
    pts = [(i, rnd.randint(0, 30), rnd.randint(0, 30)) for i in range(200)]
    df = spark.createDataFrame(pts, ["pid", "x", "y"])
    from onionnet_spark.functions.corpus import skyline_2d

    got = {
        (r["pid"], r["x"], r["y"])
        for r in skyline_2d(df, "x", "y", ["pid", "x", "y"]).collect()
    }
    want = {
        (i, x, y)
        for (i, x, y) in pts
        if not any(
            qx <= x and qy <= y and (qx < x or qy < y)
            for (_, qx, qy) in pts
        )
    }
    assert got == want and want  # non-empty frontier


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_skyline_plan_broadcasts_frontier_no_cartesian(spark):
    from onionnet_spark.functions.corpus import skyline_2d

    df = spark.createDataFrame(
        [(i, i % 9, (i * 7) % 11) for i in range(100)], ["pid", "x", "y"]
    )
    plan = _plan(skyline_2d(df, "x", "y", ["pid", "x", "y"]))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only sort feeds the bounded per-x window, not the data
    assert plan.count("Exchange hashpartitioning") <= 1


def test_count_min_plan_broadcasts_sketch(spark):
    from onionnet_spark.functions.corpus import count_min_topk

    df = spark.createDataFrame([(f"k{i % 5}",) for i in range(50)], ["key"])
    plan = _plan(count_min_topk(df, "key", depth=2, width=8, k=3))
    assert "BroadcastHashJoin" in plan  # the depth*width sketch side
    assert "CartesianProduct" not in plan


def test_condensation_plan_broadcasts_sizes(scc_toy):
    plan = _plan(condensation_graph(scc_toy))
    # the two size joins onto the condensed edges are broadcasts
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_coloring_is_proper_and_bounded(spark):
    import random

    rnd = random.Random(11)
    edges = list({
        tuple(sorted(rnd.sample(range(30), 2))) for _ in range(90)
    })
    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], ["a", "b"]
    )
    from onionnet_spark.operators.analytics import greedy_coloring

    colors = {
        r["node"]: r["color"]
        for r in greedy_coloring(df, rounds=12).collect()
    }
    deg = {}
    for a, b in edges:
        na, nb = f"n{a}", f"n{b}"
        deg[na] = deg.get(na, 0) + 1
        deg[nb] = deg.get(nb, 0) + 1
        assert colors[na] != colors[nb]  # proper
    for n, c in colors.items():
        assert 0 <= c <= deg[n]  # greedy bound: mex <= degree


def test_ppjoin_full_recall_vs_bruteforce(spark):
    from onionnet_spark.functions import dedup

    # near-dup families + unrelated docs; the prefix filter must find
    # EVERY pair with Jaccard >= 1/2 (lossless, unlike MinHash)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base + " extra"),
        (3, base.replace("gamma", "lambda")),
        (4, "completely different words about other topics entirely here now"),
        (5, base),  # exact dup of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ppjoin_pairs(df, threshold_num=1, threshold_den=2).collect()
    }
    # brute force over word trigram sets
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh(docs[i][1]), sh(docs[j][1])
            jac = len(a & b) / len(a | b)
            if jac >= 0.5:
                want[(docs[i][0], docs[j][0])] = round(jac, 6)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_boruvka_matches_kruskal_bruteforce(spark):
    import hashlib
    import random

    rnd = random.Random(5)
    edges = {}
    for _ in range(80):
        u, v = sorted(rnd.sample(range(25), 2))
        edges.setdefault((f"n{u:02d}", f"n{v:02d}"), rnd.randint(1, 40))
    rows = [(a, b, w) for (a, b), w in edges.items()]
    df = spark.createDataFrame(rows, ["a", "b", "w"])
    from onionnet_spark.operators.analytics import boruvka_msf

    got = {(r["a"], r["b"], r["w"]) for r in boruvka_msf(df, rounds=8).collect()}

    # reference Kruskal under the SAME total order (w, md5 edge key)
    def ekey(a, b):
        return hashlib.md5(f"{a}|{b}".encode()).hexdigest()

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for (a, b), w in sorted(edges.items(), key=lambda kv: (kv[1], ekey(*kv[0]))):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            want.add((a, b, w))
    assert got == want
    # forest invariant: |edges| = |nodes| - |components|
    nodes = {x for e in edges for x in e}
    n_comp = len({find(x) for x in nodes})
    assert len(got) == len(nodes) - n_comp


def test_fd_profile_detects_held_and_violated(spark):
    from onionnet_spark.functions.corpus import fd_profile

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y"), (4, "b", "z")],
        ["k", "det", "dep"],
    )
    out = {
        (r["determinant"], r["dependent"]): r
        for r in fd_profile(df, [("k", "det"), ("det", "dep")]).collect()
    }
    assert out[("k", "det")]["fd_holds"] is True
    assert out[("k", "det")]["n_violating_values"] == 0
    v = out[("det", "dep")]
    assert v["fd_holds"] is False
    assert v["n_violating_values"] == 1  # 'b' -> {y, z}
    assert v["n_det_values"] == 2 and v["n_det_dep_pairs"] == 3


def test_inclusion_profile_detects_fk_and_violation(spark):
    from onionnet_spark.functions.corpus import inclusion_profile

    child = spark.createDataFrame([(1,), (2,), (2,)], ["c"])
    parent = spark.createDataFrame([(1,), (2,), (3,)], ["p"])
    out = {
        r["child"]: r
        for r in inclusion_profile(
            {"t1": child, "t2": parent},
            [("t1", "c", "t2", "p"), ("t2", "p", "t1", "c")],
        ).collect()
    }
    assert out["t1.c"]["inclusion_holds"] is True
    assert out["t1.c"]["n_child_values"] == 2
    assert out["t2.p"]["inclusion_holds"] is False
    assert out["t2.p"]["n_missing"] == 1  # value 3


def test_label_spread_majority_and_clamping(spark):
    from onionnet_spark.operators.components import spread_labels

    # v has three labeled neighbors (2 x A, 1 x B) -> majority A;
    # w has one A and one B neighbor -> tie -> lexicographic min A;
    # seed u stays clamped even though its neighbors disagree.
    nodes = spark.createDataFrame(
        [("L", x) for x in ["s1", "s2", "s3", "u", "v", "w"]],
        ["layer", "node_id"],
    )
    edges = spark.createDataFrame(
        [
            ("L", "s1", "L", "v"),
            ("L", "s2", "L", "v"),
            ("L", "s3", "L", "v"),
            ("L", "s1", "L", "w"),
            ("L", "s3", "L", "w"),
            ("L", "s3", "L", "u"),
        ],
        ["src_layer", "src_id", "dst_layer", "dst_id"],
    )
    from onionnet_spark.core import OnionGraph

    g = OnionGraph(nodes, edges)
    seeds = spark.createDataFrame(
        [("L", "s1", "A"), ("L", "s2", "A"), ("L", "s3", "B"),
         ("L", "u", "Z")],
        ["layer", "node_id", "label"],
    )
    out = {
        r["node_id"]: (r["label"], r["spread_round"])
        for r in spread_labels(g, seeds, rounds=2).collect()
    }
    assert out["v"] == ("A", 1)   # majority 2A vs 1B
    assert out["w"] == ("A", 1)   # tie A/B -> lexicographic min
    assert out["u"] == ("Z", 0)   # clamped seed
    assert out["s3"] == ("B", 0)


def test_spectral_bisection_splits_barbell(spark):
    from onionnet_spark.operators.analytics import spectral_bisection

    # two K5 cliques joined by a single bridge: the Fiedler sign
    # pattern must separate the cliques exactly
    left = [f"l{i}" for i in range(5)]
    right = [f"r{i}" for i in range(5)]
    edges = (
        [(a, b) for i, a in enumerate(left) for b in left[i + 1 :]]
        + [(a, b) for i, a in enumerate(right) for b in right[i + 1 :]]
        + [("l0", "r0")]
    )
    df = spark.createDataFrame(edges, ["a", "b"])
    out = {r["node"]: r["side"] for r in spectral_bisection(df, iterations=10).collect()}
    lsides = {out[n] for n in left}
    rsides = {out[n] for n in right}
    assert len(lsides) == 1 and len(rsides) == 1
    assert lsides != rsides
    assert 0 not in (lsides | rsides)


def test_cdc_apply_last_wins_and_deletes(spark):
    from onionnet_spark.operators.timeseries import apply_cdc

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (1, "a1", 10, "U"),
            (1, "a2", 20, "U"),   # higher seq wins
            (2, "b", 5, "D"),
            (4, "d", 7, "I"),
            (5, "e", 1, "I"),
            (5, "e", 2, "D"),     # inserted then deleted -> absent
        ],
        ["k", "v", "seq", "op"],
    )
    out = {
        r["k"]: r["v"]
        for r in apply_cdc(base, changes, "k", "seq").collect()
    }
    assert out == {1: "a2", 3: "c", 4: "d"}


def test_binary_auc_matches_sklearn_formula(spark):
    # hand-checkable case with heavy ties: scores [0,0,1,1,2],
    # labels  [0,1,0,1,1]
    from onionnet_spark.functions.corpus import binary_auc

    rows = [(0, 0), (0, 1), (1, 0), (1, 1), (2, 1)]
    df = spark.createDataFrame(rows, ["s", "y"])
    r = binary_auc(df, "s", "y").collect()[0]
    # avg ranks: score 0 -> 1.5, score 1 -> 3.5, score 2 -> 5
    # R_pos = 1.5 + 3.5 + 5 = 10; U = 10 - 3*4/2 = 4; AUC = 4/6
    assert r["n_pos"] == 3 and r["n_neg"] == 2
    assert r["auc_num"] == 8 and r["auc_den"] == 12  # doubled exact form
    assert abs(r["auc"] - 4 / 6) < 1e-12

    # perfect separation -> AUC 1; reversed -> 0
    perfect = spark.createDataFrame(
        [(i, 1 if i >= 5 else 0) for i in range(10)], ["s", "y"]
    )
    assert binary_auc(perfect, "s", "y").collect()[0]["auc"] == 1.0
    rev = spark.createDataFrame(
        [(i, 0 if i >= 5 else 1) for i in range(10)], ["s", "y"]
    )
    assert binary_auc(rev, "s", "y").collect()[0]["auc"] == 0.0


def test_split_finding_locates_separating_threshold(spark):
    from onionnet_spark.functions.corpus import histogram_split_finding

    # feature x: negatives cluster at 0-9, positives at 100-109 ->
    # the best split must separate them perfectly
    rows = [(float(i), 0) for i in range(10)] + [
        (float(100 + i), 1) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["x", "y"])
    r = histogram_split_finding(df, ["x"], "y", n_bins=8).collect()[0]
    assert r["pos_left"] == 0 and r["n_left"] == 10
    assert r["pos_right"] == 10 and r["n_right"] == 10
    assert r["gap_score"] == 100  # |0*10 - 10*10|

    # constant feature: everything lands in bin 0 -> no candidate
    const = spark.createDataFrame([(1.0, i % 2) for i in range(6)], ["x", "y"])
    rc = histogram_split_finding(const, ["x"], "y").collect()[0]
    assert rc["split_bin"] is None  # no valid split exists


def test_sorted_neighborhood_catches_prefix_divergent_pairs(spark):
    from onionnet_spark.operators.joins import sorted_neighborhood_pairs

    # 'smith'/'smyth' share no 2-char PREFIX block but sort within
    # the window; unrelated names don't pair
    rows = [
        (1, "smith"), (2, "smyth"), (3, "smithe"),
        (4, "jones"), (5, "jonas"), (6, "zzzzz"),
    ]
    df = spark.createDataFrame(rows, ["cid", "name"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            df, "name", "cid", window=3, max_dist=2
        ).collect()
    }
    assert (1, 2) in pairs     # smith ~ smyth (edit 1, prefix-divergent)
    assert (1, 3) in pairs     # smith ~ smithe
    assert (4, 5) in pairs     # jones ~ jonas
    assert not any(6 in p for p in pairs)
    # every reported pair respects both bounds
    for r in sorted_neighborhood_pairs(df, "name", "cid", 3, 2).collect():
        assert r["rank_gap"] <= 3 and r["edit_dist"] <= 2


def test_multiprobe_lsh_candidates_contain_single_probe(spark):
    import numpy as np

    from onionnet_spark.functions import similarity

    rng = np.random.RandomState(6)
    data = [(int(i), [float(x) for x in rng.randn(16)]) for i in range(120)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_lsh_topk(df, k=100, n_planes=6).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_lsh_multiprobe_topk(
            df, k=100, n_planes=6
        ).collect()
    }
    # flip-0 is the identity probe: single-probe pairs are a subset
    assert single <= multi
    # and the flips genuinely add recall on this fixture
    assert len(multi) > len(single)


def test_trussness_on_clique_plus_tail(spark):
    from onionnet_spark.operators.analytics import trussness

    # K5 clique (every edge trussness 5) + a pendant edge (trussness 2)
    clique = [
        (f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)
    ]
    df = spark.createDataFrame(clique + [("c0", "tail")], ["a", "b"])
    out = {
        (r["a"], r["b"]): r["trussness"]
        for r in trussness(df, k_max=6).collect()
    }
    for e in clique:
        assert out[e] == 5, e
    assert out[("c0", "tail")] == 2
    # guard: k_max below the true max trussness must raise
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="k_max"):
        trussness(df, k_max=4)


def test_deep_iteration_chain_stays_flat(spark, monkeypatch):
    from onionnet_spark import core

    # the star engine: a driver budget of 0 keeps the path off the
    # driver snapshot
    monkeypatch.setattr(core, "DRIVER_FRONTIER_MAX", 0)
    # 30-node path graph: min-label CC needs ~30 propagation rounds,
    # far past the ~12-checkpoint chain where localCheckpoint replay
    # turns geometric (x4/sweep — this test would effectively hang
    # without IterCheckpointer's periodic parquet rebase).
    nodes = spark.createDataFrame(
        [("L", f"n{i:02d}") for i in range(30)], ["layer", "node_id"]
    )
    edges = spark.createDataFrame(
        [("L", f"n{i:02d}", "L", f"n{i + 1:02d}") for i in range(29)],
        ["src_layer", "src_id", "dst_layer", "dst_id"],
    )
    from onionnet_spark.operators.components import connected_components

    cc = connected_components(OnionGraph(nodes, edges), max_iterations=40)
    comps = {r["component"] for r in cc.collect()}
    assert comps == {"L:n00"}  # one chain, min-key label
