"""Round-7 regression tests: PNG stream chunk-walking, kmeans cache
keying, resolve_entities dtype round-trip, half-away numpy rounding,
knn-outlier TakeOrdered plan shape."""

import struct
import zlib

import pyspark.sql.functions as F


def _png(width=2, height=2, extra_idat=b""):
    """Minimal valid gray-8 PNG; extra_idat is appended RAW into the
    IDAT payload (after compression) to plant adversarial bytes."""
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(ctype, data):
        c = struct.pack(">I", len(data)) + ctype + data
        return c + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    idat = zlib.compress(raw) + extra_idat
    return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def test_split_png_stream_ignores_signature_inside_idat():
    """The 8-byte PNG signature can legitimately occur inside
    compressed IDAT payloads; chunk-walking must not split there
    (the old signature-split miscounted frames)."""
    from onionnet_spark.functions.multimodal import _split_png_stream

    sig = b"\x89PNG\r\n\x1a\n"
    poisoned = _png(extra_idat=sig + b"garbage")
    clean = _png()
    stream = poisoned + clean + poisoned
    frames = _split_png_stream(stream)
    assert len(frames) == 3
    assert frames[0] == poisoned and frames[1] == clean and frames[2] == poisoned
    # naive signature-splitting would have produced 5 parts
    assert len(stream.split(sig)) - 1 == 5


def test_split_png_stream_drops_truncated_tail():
    from onionnet_spark.functions.multimodal import _split_png_stream

    clean = _png()
    frames = _split_png_stream(clean + clean[: len(clean) // 2])
    assert frames == [clean]
    assert _split_png_stream(b"") == []
    assert _split_png_stream(b"notapng") == []


def test_np_round_half_away_matches_sql_round():
    """Exact .5e-6 boundaries must round AWAY from zero like Spark's
    F.round / DuckDB's ROUND, not to-even like np.round."""
    import numpy as np

    from onionnet_spark.functions.similarity import _np_round_half_away

    a = np.array([0.0000005, 0.0000015, -0.0000005, -0.0000015, 0.1234564])
    out = _np_round_half_away(a, 6)
    assert out.tolist() == [0.000001, 0.000002, -0.000001, -0.000002, 0.123456]
    # np.round would give [0.0, 0.000002, 0.0, -0.000002, ...]
    assert np.round(a, 6).tolist()[0] == 0.0


def test_kmeans_cache_keyed_on_columns(spark):
    """Two calls sharing a cache_key but differing in a column name or
    a training size must NOT alias to one codebook (the r6 ADVICE
    bug), for kmeans_codebook and for the PQ trainers behind
    ann_pq_topk and ann_ivf_pq_residual_topk; a repeat call with the
    same signature is served the memoized codebook."""
    from onionnet_spark.core import literal_frame
    from onionnet_spark.functions.similarity import (
        ann_ivf_pq_residual_topk,
        ann_pq_topk,
        kmeans_codebook,
    )

    rows = [
        (
            i,
            [float(i + 1), float(i % 3), float(i * 7 % 5), float(i % 2)],
            [float(10 - i), 1.0, float(i % 4), float(i * 3 % 7)],
        )
        for i in range(12)
    ]
    df = literal_frame(
        spark, rows, "vec_id long, embedding array<double>, alt array<double>"
    )
    first = kmeans_codebook(df, "embedding", "vec_id", k=2, cache_key="t-cols")
    a = {r["cid"]: r["cv"] for r in first.collect()}
    b = {r["cid"]: r["cv"] for r in
         kmeans_codebook(df, "alt", "vec_id", k=2, cache_key="t-cols").collect()}
    assert a != b  # different columns -> different codebooks
    assert kmeans_codebook(
        df, "embedding", "vec_id", k=2, cache_key="t-cols"
    ) is first

    def rows_of(frame):
        return {tuple(r) for r in frame.collect()}

    for kw in (
        dict(m=2, n_centroids=2),
        dict(m=4, n_centroids=3, iterations=1, vec_col="alt"),
    ):
        assert rows_of(ann_pq_topk(df, k=3, cache_key="t-pq", **kw)) == rows_of(
            ann_pq_topk(df, k=3, **kw)
        ), kw
    for kw in (
        dict(n_centroids=2, m=2, pq_centroids=2),
        dict(n_centroids=3, m=4, pq_centroids=3, iterations=1, vec_col="alt"),
    ):
        got = ann_ivf_pq_residual_topk(df, k=3, nprobe=1, cache_key="t-res", **kw)
        assert rows_of(got) == rows_of(
            ann_ivf_pq_residual_topk(df, k=3, nprobe=1, **kw)
        ), kw


def test_resolve_entities_string_ids(spark):
    """Non-numeric ids must survive the label round-trip instead of
    collapsing into one entity_id=NULL cluster."""
    from onionnet_spark.operators.joins import resolve_entities

    rows = [
        ("cust-a", "Customer#000000009x"),
        ("cust-b", "Customer#000000009y"),
        ("cust-c", "zzz totally unlike anything"),
    ]
    df = spark.createDataFrame(rows, "rid string, name string")
    out = {
        r["rid"]: r
        for r in resolve_entities(
            df, col="name", id_col="rid", window=5, max_dist=2
        ).collect()
    }
    assert out["cust-a"]["entity_id"] == "cust-a"
    assert out["cust-b"]["entity_id"] == "cust-a"
    assert out["cust-b"]["cluster_size"] == 2
    assert out["cust-c"]["entity_id"] == "cust-c"
    assert not any(r["entity_id"] is None for r in out.values())


def test_knn_outliers_plan_uses_take_ordered(spark, sf_dir):
    """The global top-n must compile to TakeOrderedAndProject, not a
    full single-partition window sort of every corpus vector."""
    from onionnet_spark.queries.pipeline_queries import (
        embedding_knn_outliers_q,
    )

    df = embedding_knn_outliers_q(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan


def test_knn_profile_reuses_shared_views(spark, sf_dir):
    """knn(k) must agree with an independent recomputation from the
    raw symmetrized edge set (guards the canonical-view rewrite)."""
    from onionnet_spark.queries.graph_queries import (
        get_graph,
        graph_knn_profile_q,
    )

    got = {r["degree"]: r for r in graph_knn_profile_q(spark, sf_dir).collect()}
    g = get_graph(spark, sf_dir)
    e = g.edge_endpoints()
    fwd = e.select(
        F.concat_ws(":", "src_layer", "src_id").alias("u"),
        F.concat_ws(":", "dst_layer", "dst_id").alias("v"),
    )
    sym = (
        fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("k"))
    ref = (
        sym.join(deg.withColumnRenamed("k", "ku"), on="u")
        .join(deg.select(F.col("u").alias("v"), F.col("k").alias("kv")), on="v")
        .groupBy("ku")
        .agg(
            F.countDistinct("u").alias("n_nodes"),
            F.count("*").alias("n_edge_ends"),
            F.sum("kv").alias("sum_nbr_degree"),
        )
        .collect()
    )
    assert len(ref) == len(got)
    for r in ref:
        k = r["ku"]
        assert got[k]["n_nodes"] == r["n_nodes"]
        assert got[k]["n_edge_ends"] == r["n_edge_ends"]
        assert got[k]["sum_nbr_degree"] == r["sum_nbr_degree"]


def _mk_mp3_bytes():
    """Encode a short sine to MP3 via whichever external encoder
    exists (pyav in-process, else the ffmpeg binary); None if
    neither is available."""
    import io
    import math
    import shutil
    import struct
    import subprocess

    pcm = b"".join(
        struct.pack("<h", int(8000 * math.sin(2 * math.pi * 440 * i / 8000)))
        for i in range(8000)
    )
    try:
        import av

        buf = io.BytesIO()
        with av.open(buf, "w", format="mp3") as out:
            stream = out.add_stream("mp3", rate=8000)
            frame = av.AudioFrame(format="s16", layout="mono", samples=8000)
            frame.sample_rate = 8000
            frame.planes[0].update(pcm)
            for pkt in stream.encode(frame):
                out.mux(pkt)
            for pkt in stream.encode(None):
                out.mux(pkt)
        return buf.getvalue()
    except ImportError:
        pass
    ffmpeg = shutil.which("ffmpeg")
    if ffmpeg:
        proc = subprocess.run(
            [ffmpeg, "-v", "error", "-f", "s16le", "-ar", "8000", "-ac",
             "1", "-i", "pipe:0", "-f", "mp3", "pipe:1"],
            input=pcm, capture_output=True, check=True,
        )
        return proc.stdout
    return None


def test_decode_audio_external_arm(spark):
    """MP3-class payloads route through the PyAV/ffmpeg arm when one
    exists; without either the stage raises NotImplementedError
    (mirrors the r6 PIL/ffmpeg image gates)."""
    import pytest

    from onionnet_spark.functions import multimodal

    mp3 = _mk_mp3_bytes()
    if mp3 is not None:
        df = spark.createDataFrame([(1, bytearray(mp3))],
                                   "doc_id long, payload binary")
        rows = multimodal.decode_audio_stats(df).collect()
        assert rows and rows[0]["n_samples"] > 0
        assert rows[0]["sample_rate"] in (0, 8000, 44100)
    else:
        # not-a-known-format payload: the dispatch must fall through
        # to the external gate and raise, not misparse
        junk = b"\xff\xfb\x90\x00" + b"\x00" * 64
        df = spark.createDataFrame([(1, bytearray(junk))],
                                   "doc_id long, payload binary")
        with pytest.raises(Exception, match="NotImplementedError"):
            multimodal.decode_audio_stats(df).collect()


def test_decode_video_external_arm(spark):
    """Non-AVI containers route through the PyAV/ffmpeg arm when one
    exists; without either the stage raises NotImplementedError."""
    import shutil
    import subprocess

    import pytest
    import pyspark.sql.functions as SF

    from onionnet_spark.functions import multimodal

    ffmpeg = shutil.which("ffmpeg")
    has_av = multimodal._optional_av() is not None
    if ffmpeg:
        # transcode a synthetic AVI to MP4/H.264 (or mpeg4 fallback)
        ids = spark.range(0, 1).select(SF.col("id").alias("doc_id"))
        avi = bytes(
            multimodal.synth_avi_payload(ids).collect()[0]["payload"]
        )
        mp4 = None
        for vcodec in ("libx264", "mpeg4"):
            proc = subprocess.run(
                [ffmpeg, "-v", "error", "-i", "pipe:0", "-vcodec", vcodec,
                 "-f", "mp4", "-movflags", "frag_keyframe+empty_moov",
                 "pipe:1"],
                input=avi, capture_output=True,
            )
            if proc.returncode == 0 and proc.stdout:
                mp4 = proc.stdout
                break
        assert mp4 is not None
        df = spark.createDataFrame([(1, bytearray(mp4))],
                                   "doc_id long, payload binary")
        rows = multimodal.decode_video_stats(df, every_n=1).collect()
        assert rows and all(r["width"] > 0 and r["height"] > 0 for r in rows)
    elif has_av:
        pytest.skip("pyav without ffmpeg binary: no encoder to synthesize input")
    else:
        junk = b"\x00\x00\x00\x18ftypisom" + b"\x00" * 32
        df = spark.createDataFrame([(1, bytearray(junk))],
                                   "doc_id long, payload binary")
        with pytest.raises(Exception, match="NotImplementedError"):
            multimodal.decode_video_stats(df, every_n=1).collect()


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_trade_balance_plan_single_pass(spark, sf_dir):
    """The role-exploded ledger must scan the lineitem fact ONCE and
    never materialize a full-outer join of two aggregates."""
    from onionnet_spark.queries.relational import nation_trade_balance_q

    plan = _plan(nation_trade_balance_q(spark, sf_dir))
    assert "FullOuter" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_textrank_plan_no_cartesian(spark, sf_dir):
    """The co-occurrence pair join is keyed on doc_id — a cartesian
    here would be corpus^2."""
    from onionnet_spark.queries.pipeline_queries import (
        docs_textrank_keywords_q,
    )

    plan = _plan(docs_textrank_keywords_q(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_ship_latency_plan_no_window(spark, sf_dir):
    """Percentiles come from the percentile AGGREGATE, never a
    global rank window."""
    from onionnet_spark.queries.relational import orders_ship_latency_q

    plan = _plan(orders_ship_latency_q(spark, sf_dir))
    assert "WindowExec" not in plan and "Window" not in plan


def test_sign_hash_bands_matches_python_packing(spark):
    """MSB-first band packing must equal an independent bit-level
    recomputation (guards the F.aggregate fold and the element_at
    1-based indexing)."""
    from onionnet_spark.functions.similarity import sign_hash_bands

    vecs = [
        (1, [1.0 if (i % 3 == 0) else -1.0 for i in range(64)]),
        (2, [-1.0] * 63 + [5.0]),
        (3, [0.5] * 64),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r["id"]: [r["b0"], r["b1"], r["b2"], r["b3"]]
           for r in sign_hash_bands(df).collect()}
    for vid, v in vecs:
        want = []
        for j in range(4):
            acc = 0
            for i in range(j * 16, (j + 1) * 16):
                acc = acc * 2 + (1 if v[i] > 0 else 0)
            want.append(acc)
        assert got[vid] == want, (vid, got[vid], want)


def test_image_patch_stats_edge_patches_true_size(spark):
    """A 5x4 RGB image tiled 2x2 must produce 3x2 patches whose
    n_values sum to the full pixel count, with the edge column at
    half width."""
    import pyspark.sql.functions as SF

    from onionnet_spark.functions import multimodal

    # doc_id=1: w = 4+1%5 = 5, h = 3+1%4 = 4, RGB (odd id)
    ids = spark.createDataFrame([(1,)], "doc_id long")
    payload = multimodal.synth_png_payload(ids)
    rows = multimodal.image_patch_stats(payload, patch=2).collect()
    assert len(rows) == 2 * 3  # ceil(4/2) x ceil(5/2)
    total = sum(r["n_values"] for r in rows)
    assert total == 5 * 4 * 3
    edge = [r for r in rows if r["patch_col"] == 2]
    assert all(r["n_values"] == 2 * 1 * 3 for r in edge)
