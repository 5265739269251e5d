"""Unit gates for the round-5 operators: exact toy answers and
invariants the sf fixtures can't pin (span merging edge cases, recall
bounds, attribution windows, closed-form regression)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from onionnet_spark.functions import dedup, similarity, text


# ---------------------------------------------------------------- dup spans


def test_dup_span_merges_overlapping_windows(spark):
    # doc 1 and doc 2 share the run "a b c d e f" (w=5 -> dup windows
    # at starts 1 and 2 in both) embedded in distinct context; the two
    # overlapping windows must merge into ONE span of 6 tokens.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f x1 y1 z1"),
            (2, "q2 a b c d e f y2"),
            (3, "nothing shared here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.dup_span_stats(docs, w=5).collect()}
    assert out[1]["n_dup_windows"] == 2 and out[1]["n_spans"] == 1
    assert out[1]["dup_tokens"] == 6
    assert out[2]["n_spans"] == 1 and out[2]["dup_tokens"] == 6
    assert out[3]["n_spans"] == 0 and out[3]["dup_tokens"] == 0
    assert out[3]["dup_fraction"] == 0.0


def test_dup_span_within_doc_repeat_counts(spark):
    # the SAME doc repeating a 5-token phrase twice duplicates it
    # (global occurrence count > 1) even with no second document
    docs = spark.createDataFrame(
        [(1, "p q r s t mid1 mid2 p q r s t"), (2, "u v w x y unrelated")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.dup_span_stats(docs, w=5).collect()}
    assert out[1]["n_dup_windows"] == 2 and out[1]["n_spans"] == 2
    assert out[1]["dup_tokens"] == 10
    assert out[2]["n_dup_windows"] == 0


def test_dup_span_null_and_short_text(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "too short"), (3, "also short")],
        ["doc_id", "text"],
    )
    rows = dedup.dup_span_stats(docs, w=5).collect()
    assert len(rows) == 3  # every doc appears, zeros everywhere
    assert all(r["n_spans"] == 0 and r["dup_tokens"] == 0 for r in rows)


# ------------------------------------------------------------ ANN evals


@pytest.fixture(scope="module")
def toy_embs(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [
        (int(i), [float(x) for x in rng.randn(16)])
        for i in range(40)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ann_recall_bounds_and_coverage(toy_embs):
    out = similarity.ann_recall_report(
        toy_embs, k=3, n_centroids=4, nprobe=4
    ).collect()
    assert len(out) == 40  # every query appears, even recall-0 ones
    for r in out:
        assert 0 <= r["n_hits"] <= r["n_exact"] == 3
        assert abs(r["recall"] - r["n_hits"] / 3) < 1e-9
    # probing ALL cells makes IVF exhaustive -> recall 1 everywhere
    assert all(r["n_hits"] == 3 for r in out)


def test_matryoshka_full_dim_budget_is_perfect(toy_embs):
    # a budget equal to the true dimension reproduces ground truth
    out = {
        r["dim_budget"]: r
        for r in similarity.matryoshka_recall(
            toy_embs, dims=(4, 16), k=3, sample_frac=0.5
        ).collect()
    }
    assert out[16]["mean_recall"] == 1.0
    assert 0.0 <= out[4]["mean_recall"] <= 1.0
    assert out[4]["n_queries"] == out[16]["n_queries"] > 0
    assert out[16]["total_hits"] == out[16]["n_queries"] * 3


# ------------------------------------------------------------ NB classifier


def test_nb_classifier_separable_corpus(spark):
    docs = spark.createDataFrame(
        [
            (1, "der hund und die katze", "de"),
            (2, "die katze und der hund", "de"),
            (3, "the cat and the dog", "en"),
            (4, "the dog and the cat", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = text.nb_lang_confusion(docs).collect()
    conf = {(r["actual_lang"], r["pred_lang"]): r["n_docs"] for r in rows}
    assert conf == {("de", "de"): 2, ("en", "en"): 2}


# ------------------------------------------------------------ attribution


def test_attribution_first_vs_last_touch(spark, sf_dir):
    from onionnet_spark.queries import load_all

    fn, oracle = load_all()["events_attribution"]
    out = fn(spark, sf_dir)
    rows = out.collect()
    models = {r["model"] for r in rows}
    assert models == {"first_touch", "last_touch"}
    # both models attribute the SAME total revenue and purchase count
    tot = {}
    for r in rows:
        t = tot.setdefault(r["model"], [0, 0])
        t[0] += r["n_purchases"]
        t[1] += r["revenue_cents"]
    assert tot["first_touch"] == tot["last_touch"]
    assert oracle is not None


def test_monthly_trend_exact_line(spark):
    # y = 100 + 50x cents exactly -> slope 50, intercept 100
    import datetime

    from onionnet_spark.queries.relational import monthly_revenue_trend

    rows = [
        (
            "A",
            datetime.datetime(1992, 1 + x, 15),
            float((100 + 50 * x) / 100.0),
            0.0,
        )
        for x in range(6)
    ]
    df = spark.createDataFrame(
        rows, ["l_returnflag", "l_shipdate", "l_extendedprice", "l_discount"]
    )
    out = monthly_revenue_trend(df).collect()
    row = out[0]
    assert row["n_months"] == 6
    assert row["slope_cents_per_month"] == 50.0
    assert row["intercept_cents"] == 100.0


# ------------------------------------------------------------ MDCT codec


def test_mdct_tdac_identity_without_quantization():
    import numpy as np

    from onionnet_spark.functions.mdct import _frames, _tables

    m = 64
    rng = np.random.RandomState(7)
    x = rng.randn(1000) * 0.3
    w, cos = _tables(m)
    coeffs = (_frames(x, m) * w[None, :]) @ cos.T
    out = np.zeros(m + (-(-len(x) // m) + 1) * m + m)
    for f, row in enumerate(coeffs):
        out[f * m : f * m + 2 * m] += (row @ cos) * (2.0 / m) * w
    assert np.max(np.abs(out[m : m + len(x)] - x)) < 1e-10


def test_mdct_roundtrip_snr_and_determinism():
    import numpy as np

    from onionnet_spark.functions.mdct import (
        decode_mdct,
        encode_mdct,
        mdct_roundtrip_snr,
    )

    t = np.arange(8000)
    sig = 0.4 * np.sin(2 * np.pi * 440 * t / 16000) + 0.2 * np.sin(
        2 * np.pi * 1037 * t / 16000
    )
    pcm = np.round(sig * 32767).astype(np.int16)
    # quality scales with qbits; the 25 dB contract holds with margin
    assert mdct_roundtrip_snr(pcm, qbits=8) > 35
    assert mdct_roundtrip_snr(pcm, qbits=10) > 45
    assert mdct_roundtrip_snr(pcm, qbits=12) > 55
    b = encode_mdct(pcm, sample_rate=22050)
    assert b == encode_mdct(pcm, sample_rate=22050)  # bit-deterministic
    assert len(b) < 2 * len(pcm)  # actually compresses vs raw PCM
    y, sr = decode_mdct(b)
    assert sr == 22050 and len(y) == len(pcm)


def test_mdct_silence_and_errors():
    import numpy as np
    import pytest as _pytest

    from onionnet_spark.functions.mdct import decode_mdct, encode_mdct

    sil = np.zeros(1000, dtype=np.int16)
    y, _ = decode_mdct(encode_mdct(sil))
    assert np.array_equal(y, sil)  # silent frames are exact
    with _pytest.raises(ValueError):
        decode_mdct(b"RIFFnotoma")
    with _pytest.raises(ValueError):
        encode_mdct(sil, qbits=1)


def test_mdct_spark_dispatch(spark):
    from onionnet_spark.functions import multimodal

    ids = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    payload = multimodal.synth_mdct_payload(ids)
    out = {r["doc_id"]: r for r in multimodal.mdct_quality_stats(payload).collect()}
    assert len(out) == 6
    for d, r in out.items():
        assert r["n_samples"] == 2000 + (d % 10) * 100
        assert r["sample_rate"] == 16000 and r["n_channels"] == 1
        assert r["snr_ok"] and r["compressed_smaller"]
    # unified dispatch: decode_audio_stats handles OMA1 too
    stats = {r["doc_id"]: r for r in multimodal.decode_audio_stats(payload).collect()}
    assert stats[0]["n_samples"] == 2000 and stats[0]["n_channels"] == 1


# ------------------------------------------------------------ HyperANF


def test_hyperanf_accuracy_against_exact_balls(spark):
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.analytics import hyperanf

    # directed path 0->1->...->9 plus a hub h -> 0..4: downstream
    # balls at radius 3 are exactly known
    edges = [("L", str(i), "L", str(i + 1)) for i in range(9)]
    edges += [("L", "h", "L", str(i)) for i in range(5)]
    nodes = [("L", str(i)) for i in range(10)] + [("L", "h")]
    g = OnionGraph(
        spark.createDataFrame(nodes, ["layer", "node_id"]),
        spark.createDataFrame(
            edges, ["src_layer", "src_id", "dst_layer", "dst_id"]
        ),
    )
    est = {
        r["node_id"]: r["est_ball"]
        for r in hyperanf(g, radius=3, m=64).collect()
    }
    true_ball = {str(i): min(4, 10 - i) for i in range(10)}
    # hub reaches {h, 0..4} at r=1, plus 5,6,7 via the path by r=3
    true_ball["h"] = 9
    assert set(est) == set(true_ball)
    for n, t in true_ball.items():
        assert abs(est[n] - t) / t < 0.35, (n, est[n], t)
    # mean relative error much tighter than the per-node bound
    mre = sum(abs(est[n] - t) / t for n, t in true_ball.items()) / len(true_ball)
    assert mre < 0.15, mre


def test_hyperanf_rejects_bad_args(spark):
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.analytics import hyperanf

    g = OnionGraph(
        spark.createDataFrame([("L", "a")], ["layer", "node_id"]),
        spark.createDataFrame(
            [], "src_layer string, src_id string, dst_layer string, dst_id string"
        ),
    )
    with pytest.raises(ValueError):
        hyperanf(g, direction="sideways")
    with pytest.raises(ValueError):
        hyperanf(g, m=48)


# ------------------------------------------------ motion-compensated video


def _shifted_video(h=24, w=32, n=5, sx=3, sy=2, d=11):
    import numpy as np

    base = (31 * np.arange(h)[:, None] + 17 * np.arange(w)[None, :] + 7 * d) % 251
    return np.stack(
        [
            base[
                (np.arange(h)[:, None] - f * sy) % h,
                (np.arange(w)[None, :] - f * sx) % w,
            ]
            for f in range(n)
        ]
    ).astype(np.uint8)


def test_mc_video_lossless_and_skip_census():
    import numpy as np

    from onionnet_spark.functions.mcvideo import decode_mc_video, encode_mc_video

    frames = _shifted_video()
    b = encode_mc_video(frames, qstep=1)
    dec, n_skip = decode_mc_video(b)
    assert np.array_equal(dec, frames)  # qstep=1 reconstructs exactly
    # seam analysis: sy>0 -> top block-row (4 blocks), sx>0 -> left
    # block-col (3 blocks), corner counted once; 12 blocks/frame
    assert n_skip == 4 * (12 - 4 - 3 + 1)
    assert len(b) < frames.size  # beats raw even with a raw I-frame
    assert b == encode_mc_video(frames, qstep=1)  # bit-deterministic


def test_mc_video_static_scene_all_skip():
    import numpy as np

    from onionnet_spark.functions.mcvideo import decode_mc_video, encode_mc_video

    frames = np.repeat(_shifted_video(n=1), 4, axis=0)
    b = encode_mc_video(frames, qstep=1)
    dec, n_skip = decode_mc_video(b)
    assert np.array_equal(dec, frames)
    assert n_skip == 3 * 12  # every predicted block skips


def test_mc_video_lossy_psnr_and_errors():
    import numpy as np
    import pytest as _pytest

    from onionnet_spark.functions.mcvideo import (
        decode_mc_video,
        encode_mc_video,
        mc_roundtrip_psnr,
    )

    rng = np.random.RandomState(3)
    noisy = np.clip(
        _shifted_video().astype(int) + rng.randint(-6, 7, (5, 24, 32)), 0, 255
    ).astype(np.uint8)
    assert mc_roundtrip_psnr(noisy, qstep=4) > 40
    assert mc_roundtrip_psnr(noisy, qstep=1) == float("inf")  # lossless mode
    with _pytest.raises(ValueError):
        decode_mc_video(b"AVI nope")
    with _pytest.raises(ValueError):
        encode_mc_video(noisy[:, :20, :], qstep=1)  # 20 not multiple of 8
    with _pytest.raises(ValueError):
        encode_mc_video(noisy, rng=9)


def test_mc_video_spark_stats(spark):
    from onionnet_spark.functions import multimodal

    ids = spark.range(0, 5).select(F.col("id").alias("doc_id"))
    payload = multimodal.synth_mc_video_payload(ids)
    out = {r["doc_id"]: r for r in multimodal.mc_video_stats(payload).collect()}
    assert len(out) == 5
    for d, r in out.items():
        assert r["n_frames"] == 4 + d % 3
        assert (r["width"], r["height"]) == (32, 24)
        sx, sy = 1 + d % 3, d % 3
        seam = 4 * (sy > 0) + 3 * (sx > 0) - (sx > 0 and sy > 0)
        assert r["n_skip_blocks"] == (r["n_frames"] - 1) * (12 - seam)


# ---------------------------------------------------- bootstrap / PSI


def test_poisson_bootstrap_statistics(spark):
    from onionnet_spark.functions.corpus import poisson_bootstrap

    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 100 + 50).alias("n_chars")
    )
    out = poisson_bootstrap(docs, "n_chars", n_resamples=16).collect()
    assert len(out) == 16
    true_mean = sum(i % 100 + 50 for i in range(400)) / 400
    means = [r["mean_value"] for r in out]
    # Poisson(1) resamples: n_eff ~ 400 +- ~60 (3 sigma), means near truth
    for r in out:
        assert 300 < r["n_eff"] < 500
        assert r["sum_value"] > 0
    avg = sum(means) / len(means)
    assert abs(avg - true_mean) < 10
    # resamples genuinely differ (nonzero bootstrap spread)
    assert len(set(means)) > 1


def test_psi_zero_for_identical_distributions(spark):
    from onionnet_spark.functions.corpus import psi_by_group

    # two groups with IDENTICAL value multisets -> psi ~ 0 for both
    rows = [(g, v) for g in ("a", "b") for v in range(100)]
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    out = {r["source"]: r for r in psi_by_group(df, "n_chars").collect()}
    assert set(out) == {"a", "b"}
    for r in out.values():
        assert abs(r["psi"]) < 1e-6
        assert r["n_docs"] == 100


def test_psi_detects_shift(spark):
    from onionnet_spark.functions.corpus import psi_by_group

    rows = [("ref", v) for v in range(100)] * 4 + [
        ("drift", v) for v in range(80, 180)
    ]
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    out = {r["source"]: r for r in psi_by_group(df, "n_chars").collect()}
    # the shifted group shows large PSI; the dominant group small
    assert out["drift"]["psi"] > 0.25  # industry 'significant drift' line
    assert out["drift"]["psi"] > out["ref"]["psi"]


# ------------------------------------------------------- onion layers


def test_onion_decomposition_path_and_clique(spark):
    from onionnet_spark.operators.analytics import onion_decomposition

    # path 1-2-3-4-5-6: k stays 1; rounds peel ends inward ->
    # layers (1,6)=1, (2,5)=2, (3,4)=3, all coreness 1
    path = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(1, 6)], ["a", "b"]
    )
    out = {r["node"]: r for r in onion_decomposition(path).collect()}
    assert {n: r["layer"] for n, r in out.items()} == {
        "1": 1, "6": 1, "2": 2, "5": 2, "3": 3, "4": 3
    }
    assert all(r["coreness"] == 1 for r in out.values())

    # K4 with a pendant: pendant falls first (layer 1, coreness 1),
    # the clique falls together next (layer 2, coreness 3)
    import itertools

    k4p = spark.createDataFrame(
        [(str(a), str(b)) for a, b in itertools.combinations(range(4), 2)]
        + [("0", "p")],
        ["a", "b"],
    )
    out = {r["node"]: r for r in onion_decomposition(k4p).collect()}
    assert out["p"]["layer"] == 1 and out["p"]["coreness"] == 1
    for n in "0123":
        assert out[n]["layer"] == 2 and out[n]["coreness"] == 3


def test_onion_decomposition_without_pairs_is_empty(spark):
    # self-loops only: no pair of distinct nodes, so nothing to peel
    from onionnet_spark.operators.analytics import coreness, onion_decomposition

    loops = spark.createDataFrame([("a", "a"), ("b", "b")], "a string, b string")
    out = onion_decomposition(loops)
    assert out.dtypes == [("node", "string"), ("layer", "int"), ("coreness", "int")]
    assert out.count() == 0
    core = coreness(loops)
    assert core.dtypes == [("node", "string"), ("coreness", "int")]
    assert core.count() == 0


def test_onion_layers_refine_coreness(spark, sf_dir):
    """coreness and onion_decomposition on the registry's co-supply
    pairs against networkx's core numbers and onion layers of the
    same edges."""
    import networkx as nx

    from onionnet_spark.operators.analytics import coreness, onion_decomposition
    from onionnet_spark.queries.graph_queries import _cosupply_top_pairs

    pairs = _cosupply_top_pairs(spark, sf_dir, 60)
    ref = nx.Graph([(r["a"], r["b"]) for r in pairs.collect() if r["a"] != r["b"]])
    layer, core = nx.onion_layers(ref), nx.core_number(ref)
    assert max(core.values()) > 1  # a peel with more than one shell
    onion = {
        r["node"]: (r["layer"], r["coreness"])
        for r in onion_decomposition(pairs).collect()
    }
    assert onion == {n: (layer[n], core[n]) for n in ref}
    got = {r["node"]: r["coreness"] for r in coreness(pairs, k_max=12).collect()}
    assert got == core


# ----------------------------------------------- keep policy / fertility


def test_keep_policy_prefers_rare_source(spark):
    from onionnet_spark.queries import load_all

    docs = spark.createDataFrame(
        [
            # same content, three sources; 'rare' has 1 doc globally,
            # 'big' has 3 -> keeper must be the rare-source doc (id 5)
            (1, "same text here", "big"),
            (5, "same text here", "rare"),
            (7, "same text here", "big"),
            (9, "other text", "big"),
        ],
        ["doc_id", "text", "source"],
    )
    docs.createOrReplaceTempView("ignore_me")  # not used; direct call below
    from pyspark.sql import Window
    from onionnet_spark.functions.dedup import normalize_text

    hashed = docs.select(
        "doc_id", "source", F.md5(normalize_text(F.col("text"))).alias("ch")
    )
    src_n = docs.groupBy("source").agg(F.count("*").alias("src_n"))
    w = Window.partitionBy("ch").orderBy("src_n", "doc_id")
    ranked = hashed.join(F.broadcast(src_n), on="source").withColumn(
        "rk", F.row_number().over(w)
    )
    keepers = {
        r["ch"]: r["doc_id"] for r in ranked.filter("rk = 1").collect()
    }
    got = {r["doc_id"]: r for r in hashed.collect()}
    assert keepers[got[1]["ch"]] == 5  # rare-source doc wins the group
    assert keepers[got[9]["ch"]] == 9


def test_pivot_row_sums_match_total(spark, sf_dir):
    from onionnet_spark.queries import load_all

    fn, _ = load_all()["orders_status_year_pivot"]
    rows = fn(spark, sf_dir).collect()
    from onionnet_spark.sources.tpch_graph import load_tables

    o = load_tables(spark, sf_dir)["orders"]
    total = o.agg(F.round(F.sum("o_totalprice"), 0)).collect()[0][0]
    grid_total = sum(
        v for r in rows for c, v in r.asDict().items() if c != "status"
    )
    assert abs(grid_total - total) < 1.0  # cell rounding only


def test_entity_clusters_merge_transitive_chain(spark, sf_dir):
    from onionnet_spark.queries import load_all

    fn, oracle = load_all()["entity_clusters"]
    out = fn(spark, sf_dir)
    rows = out.collect()
    by_id = {r["c_custkey"]: r for r in rows}
    # every customer appears exactly once and belongs to its entity
    assert len(by_id) == len(rows)
    # entity ids are cluster minima
    import collections

    members = collections.defaultdict(list)
    for r in rows:
        members[r["entity_id"]].append(r["c_custkey"])
    for eid, ms in members.items():
        assert eid == min(ms)
        assert all(by_id[m]["cluster_size"] == len(ms) for m in ms)
    assert oracle is not None


def test_augment_images_known_values(spark):
    import numpy as np

    from onionnet_spark.functions import multimodal

    ids = spark.range(0, 4).select(F.col("id").alias("doc_id"))
    payload = multimodal.synth_png_payload(ids)
    out = {r["doc_id"]: r for r in multimodal.augment_images(payload).collect()}
    for d, r in out.items():
        w, h = 4 + d % 5, 3 + d % 4
        ch = 1 if d % 2 == 0 else 3
        assert (r["width"], r["height"], r["n_channels"]) == (w - 2, h - 2, ch)
        assert r["reencode_ok"]
        # recompute the augmented sum in numpy from the synth formula
        y = np.arange(h - 2)[:, None, None]
        x = np.arange(w - 2)[None, :, None]
        c = np.arange(ch)[None, None, :]
        pix = (d * 7 + (y + 1) * 13 + (w - 2 - x) * 31 + c * 17) % 256
        assert r["pixel_sum"] == int(pix.sum())


# ---------------------------------------------- training-set constructions


def test_hard_negatives_cross_label_only(spark):
    import numpy as np

    rng = np.random.RandomState(5)
    rows = [
        (int(i), [float(x) for x in rng.randn(8)], int(i % 2))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.hard_negatives(df, k=2, candidates_k=29).collect()
    labels = {r[0]: r[2] for r in rows}
    for r in out:
        assert labels[r["query_id"]] != labels[r["negative_id"]]
        assert 1 <= r["rank"] <= 2
    # with a full-depth candidate list every query finds 2 negatives
    import collections

    per_q = collections.Counter(r["query_id"] for r in out)
    assert all(v == 2 for v in per_q.values()) and len(per_q) == 30


def test_link_training_set_is_sound(spark):
    from onionnet_spark.queries import load_all
    from tests.conftest import SF_DIR_MED

    fn, oracle = load_all()["graph_link_training_set"]
    # sf0.01: the top-60 co-supply graph has genuine non-edges
    # (sf0.001's 10-nation graph is complete -> no negatives exist)
    rows = fn(spark, SF_DIR_MED).collect()
    pos = {(r["a"], r["b"]) for r in rows if r["label"] == 1}
    neg = {(r["a"], r["b"]) for r in rows if r["label"] == 0}
    assert len(pos) == 60 and len(neg) > 0
    assert not pos & neg  # negatives never collide with true edges
    assert all(a < b for a, b in pos | neg)
    assert oracle is not None


def test_rag_chunks_overlap_and_remainder(spark):
    from onionnet_spark.functions.text import rag_chunks

    # 40 tokens, window 32, stride 24 -> starts 1 and 25;
    # chunk 0 has 32 tokens, chunk 1 the 16-token remainder
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(40))), (2, "tiny doc")],
        ["doc_id", "text"],
    )
    out = {(r["doc_id"], r["chunk_idx"]): r for r in rag_chunks(docs).collect()}
    assert out[(1, 0)]["start_token"] == 1 and out[(1, 0)]["n_chunk_tokens"] == 32
    assert out[(1, 1)]["start_token"] == 25 and out[(1, 1)]["n_chunk_tokens"] == 16
    assert (1, 2) not in out
    # short doc: exactly one chunk covering everything
    assert out[(2, 0)]["n_chunk_tokens"] == 2 and (2, 1) not in out


def test_triplet_set_labels_and_margin(spark):
    import numpy as np

    rng = np.random.RandomState(9)
    rows = [
        (int(i), [float(x) for x in rng.randn(8)], int(i % 3))
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.triplet_training_set(df, candidates_k=23).collect()
    labels = {r[0]: r[2] for r in rows}
    assert len(out) == 24  # full-depth candidates -> every anchor pairs
    for r in out:
        assert labels[r["anchor_id"]] == labels[r["positive_id"]]
        assert labels[r["anchor_id"]] != labels[r["negative_id"]]
        assert abs(r["margin"] - round(r["pos_cosine"] - r["neg_cosine"], 6)) < 1e-9


def test_tree_depth2_perfect_split_toy(spark):
    from onionnet_spark.functions.corpus import tree_depth2

    # feature a separates labels perfectly at the root; inside each
    # child, feature b then separates the remaining variation
    rows = []
    for i in range(32):
        a = float(i)  # root split: a <= 15 vs > 15
        b = float(i % 2)  # child-level signal
        y = (i <= 15 and i % 2 == 0) or (i > 15)
        rows.append((a, b, bool(y)))
    df = spark.createDataFrame(rows, ["fa", "fb", "y"])
    out = {r["node"]: r for r in tree_depth2(df, ["fa", "fb"], "y").collect()}
    assert set(out) == {"root", "left", "right"}
    root = out["root"]
    # the perfect root split on fa: 16 left (8 pos), 16 right (16 pos)
    assert root["feature"] == "fa"
    assert (root["n_left"], root["n_right"]) == (16, 16)
    assert (root["pos_left"], root["pos_right"]) == (8, 16)
    # left child: fb perfectly separates its 8 positives
    left = out["left"]
    assert left["feature"] == "fb"
    assert left["gap_score"] == 8 * 8  # |pos_L*n_R - pos_R*n_L| = 0*8 vs 8*8


# ----------------------------------------------- stationary / Wilson CI


def test_markov_stationary_sums_to_one(spark, sf_dir):
    from onionnet_spark.queries import load_all

    fn, oracle = load_all()["events_markov_stationary"]
    rows = fn(spark, sf_dir).collect()
    assert len(rows) == 5
    total = sum(r["pi_micro"] for r in rows)
    # floor-division mass loss is bounded by states per round
    assert 1_000_000 - 6 * 5 * 5 <= total <= 1_000_000
    assert abs(sum(r["pi"] for r in rows) - 1.0) < 1e-4
    assert oracle is not None


def test_wilson_interval_properties(spark, sf_dir):
    from onionnet_spark.queries import load_all

    fn, _ = load_all()["lineitem_wilson_returns"]
    for r in fn(spark, sf_dir).collect():
        assert 0.0 <= r["wilson_lo"] <= r["p_hat"] <= r["wilson_hi"] <= 1.0
        # interval shrinks with n: rough sanity via width < 1
        assert r["wilson_hi"] - r["wilson_lo"] < 0.5


def test_vocab_kl_zero_for_identical_sources(spark):
    from onionnet_spark.queries import load_all
    import pyspark.sql.functions as _F

    # two sources with identical token multisets -> KL ~ 0 for both;
    # a third source with disjoint vocabulary -> clearly positive
    import os
    import tempfile

    fn, _ = load_all()["vocab_kl_by_source"]

    def run(rows):
        docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        d = tempfile.mkdtemp(prefix="vocab_kl_")
        docs.write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        return {r["source"]: r["kl_nats"] for r in fn(spark, d).collect()}

    # identical sources == the corpus blend -> KL ~ 0 for both
    same = [(i, "alpha beta gamma delta", "a") for i in range(10)] + [
        (100 + i, "alpha beta gamma delta", "b") for i in range(10)
    ]
    out = run(same)
    assert abs(out["a"]) < 0.02 and abs(out["b"]) < 0.02
    # a disjoint-vocabulary source diverges from the blend far more
    # than the majority sources do
    mixed = same + [(200 + i, "omega psi chi phi", "weird") for i in range(10)]
    out = run(mixed)
    assert out["weird"] > 0.5
    assert out["weird"] > 3 * out["a"]


def test_audio_augment_clips_and_roundtrips(spark):
    from onionnet_spark.functions import multimodal

    ids = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    payload = multimodal.synth_wav_payload(ids)
    out = {
        r["doc_id"]: r
        for r in multimodal.augment_audio_gain(
            payload, gain_num=40, gain_den=1
        ).collect()
    }
    assert len(out) == 6
    for d, r in out.items():
        assert r["n_samples"] == 40 + d % 13
        assert r["n_channels"] == 1 + d % 2
        assert r["reencode_ok"]
        # synth values reach |1001|, so x40 must clip something
        assert r["n_clipped"] > 0
        assert -32768 * r["n_samples"] * r["n_channels"] <= r["sample_sum"]


# ------------------------------------------------------ plan-shape guards


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_dup_span_plan_shape(spark, sf_dir):
    from onionnet_spark.functions.dedup import dup_span_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(dup_span_stats(docs, w=5))
    # dup marking is a SEMI join on the window hash, never an inner
    # join carrying payload, and never a cartesian product
    assert "LeftSemi" in plan
    assert "Cartesian" not in plan
    # the per-doc island window is PARTITIONED (no global sort)
    assert "No Partition Defined" not in plan
    # the scan is column-pruned to the two key columns
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_psi_and_bootstrap_plan_shape(spark, sf_dir):
    from onionnet_spark.functions.corpus import poisson_bootstrap, psi_by_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(psi_by_group(docs, "n_chars"))
    # the bounds and the bin-cell table travel by BROADCAST; the
    # corpus itself shuffles only for the (group, bin) aggregation
    assert "BroadcastExchange" in plan and "Cartesian" not in plan
    plan = _plan(poisson_bootstrap(docs, "n_chars", n_resamples=8))
    # one aggregation keyed by resample, no windows, no joins
    assert "Window" not in plan and "Join" not in plan


def test_hard_negative_windows_are_partitioned(spark, sf_dir):
    from onionnet_spark.functions.similarity import hard_negatives

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(hard_negatives(embs, k=2, candidates_k=5))
    assert "No Partition Defined" not in plan
