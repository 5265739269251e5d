"""Similarity search over embedding columns (array<float>).

Two paths, matching SURVEY §2 #27-28:
  - brute-force cosine top-k: the exact baseline. All-pairs is
    O(n²) but each pair is a JVM-side `aggregate(zip_with(...))`
    dot product inside whole-stage codegen — no Python in the loop.
  - LSH-bucketed (random hyperplanes): the scale path. Hyperplane
    coefficients are derived deterministically from md5 hex (no RNG
    → reproducible across runs/engines); vectors only pair within a
    bucket, turning O(n²) into O(sum of bucket²).

Cosines are computed in double precision and rounded to 6 dp so
engine-order float differences cannot flip the comparison hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from onionnet_spark.core import literal_frame
from onionnet_spark.memo import session_memo


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cc_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Centroid-assignment scoring: crossJoin(vecs, broadcast cents)
    with the 6dp cosine as 'cc' — norms hoisted to each SIDE of the
    join (r10), so a vector's norm is computed once per scan instead
    of once per centroid pair, and each centroid's once per build
    instead of once per row. dot/(nv*ncv) is the identical double
    arithmetic on identical operands as cosine(v, cv). Expects
    (…, v) on vecs and (…, cv) on cents; extra columns ride along.
    """
    va = vecs.withColumn("_nv", norm(F.col("v")))
    ca = cents.withColumn("_ncv", norm(F.col("cv")))
    return (
        va.crossJoin(F.broadcast(ca))
        .withColumn(
            "cc",
            F.round(
                dot(F.col("v"), F.col("cv")) / (F.col("_nv") * F.col("_ncv")),
                6,
            ),
        )
        .drop("_nv", "_ncv")
    )


def _np_round_half_away(a, decimals: int = 6):
    """Round half AWAY from zero, elementwise — the convention both
    Spark's F.round (HALF_UP) and DuckDB's ROUND use on doubles.
    np.round is banker's rounding (half to even), so a cosine
    landing exactly on a .5e-6 boundary would diverge between the
    numpy kernels and the SQL oracles and flip top-k tie-breaks
    across engines; this keeps the three arms bit-identical."""
    import numpy as np

    scale = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(a) * scale + 0.5), a) / scale


def brute_force_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    block_rows: int = 1024,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for every vector.

    Distributed block-nested-loop — NO driver-side collect/broadcast
    of the data anywhere in the plan. Queries are hash-tiled into G
    groups and candidates into B blocks of <= block_rows vectors;
    each (group, block) cell is one cogroup/applyInPandas task that
    runs a single float64 matrix multiply (numpy, Arrow-batched) and
    emits only that block's top-k per query. A final window merges
    the <= B*k partials per query into the global top-k — exact,
    because the global top-k is contained in the union of per-block
    top-ks.

    Scale economics: shuffle volume is n*(B+G) vector rows (each
    side replicated across the other side's tiles — the classic
    block matrix-multiply layout); per-task memory is bounded by
    ~2*block_rows vectors regardless of n, and the driver never
    holds data. At 100 TB you raise B so a block still fits an
    executor and get B*G-way task parallelism.

    Returns (query_id, neighbor_id, cosine, rank), rank 1..k; ranks
    order by cosine ROUNDED to 6 dp with neighbor_id tie-break, so
    ordering is stable across engines and float summation orders.

    `queries` (optional) restricts the QUERY side to a separate
    frame with the same (id_col, vec_col) columns while candidates
    stay the full `df` — the asymmetric eval layout (sampled
    queries, full corpus); self-matches still drop by id equality.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    n = df.count()
    n_blocks = max(1, -(-n // block_rows))
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    qbase = (
        base
        if queries is None
        else queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    nq = n if queries is None else qbase.count()
    n_groups = max(1, -(-nq // block_rows))
    # Candidates: hash-assigned to ONE block, replicated to every
    # query group. Queries: hash-assigned to ONE group, replicated
    # to every candidate block. (g, b) cogroup cells tile the full
    # query x candidate cross product exactly once.
    cand = base.withColumn(
        "b", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int")
    ).withColumn("g", F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))))
    qry = qbase.withColumn(
        "g", F.pmod(F.xxhash64("id"), F.lit(n_groups)).cast("int")
    ).withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))

    def score_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        q = np.array(list(left["v"]), dtype=np.float64)
        qn = q / np.linalg.norm(q, axis=1, keepdims=True)
        c = np.array(list(right["v"]), dtype=np.float64)
        cn = c / np.linalg.norm(c, axis=1, keepdims=True)
        cos = _np_round_half_away(qn @ cn.T, 6)  # (queries, block candidates)
        qids = left["id"].values
        cand_ids = right["id"].values
        out_q, out_n, out_c = [], [], []
        for row_i, qid in enumerate(qids):
            row = cos[row_i]
            mask = cand_ids != qid
            row, nids = row[mask], cand_ids[mask]
            # order: cosine desc, neighbor_id asc (lexsort: last key
            # is primary) — matches the oracle's ROW_NUMBER. Only k
            # rows per query leave the cell.
            order = np.lexsort((nids, -row))[:k]
            out_q.append(np.full(len(order), qid, dtype=np.int64))
            out_n.append(nids[order])
            out_c.append(row[order])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    # Hash-partition both sides on exactly the (g, b) cell key with
    # B*G partitions: the cogroup reuses this exchange (ClusteredDistribution
    # is satisfied at any partition count), so exactly one Python
    # worker task runs per non-empty cell instead of
    # spark.sql.shuffle.partitions mostly-empty worker spin-ups.
    n_cells = n_blocks * n_groups
    partials = (
        qry.repartition(n_cells, "g", "b")
        .groupBy("g", "b")
        .cogroup(cand.repartition(n_cells, "g", "b").groupBy("g", "b"))
        .applyInPandas(
            score_cell, "query_id long, neighbor_id long, cosine double"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return partials.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _hyperplane_component(plane: int, dim_idx: Column) -> Column:
    """Deterministic pseudo-random coefficient in [-1, 1): derived
    from the first 6 hex chars of md5('plane|dim')."""
    h = F.md5(F.concat_ws("|", F.lit(str(plane)), dim_idx.cast("string")))
    v = F.conv(F.substring(h, 1, 6), 16, 10).cast("double")
    return v / F.lit(float(16 ** 6 / 2)) - F.lit(1.0)


def lsh_bucket_col(vec: Column, n_planes: int = 8) -> Column:
    """Hyperplane-sign LSH bucket id: bit p is set iff the projection
    of `vec` onto deterministic (md5-derived) hyperplane p is
    positive. One bucket per vector, so a pair collides in at most
    one bucket — shared by the pair finder and the top-k path so
    both bucket identically."""

    def coef_fn(plane: int):
        # NOTE: must be a factory returning a ONE-argument lambda.
        # PySpark infers the lambda arity from the Python signature,
        # so the `lambda i, _p=plane:` default-arg idiom silently
        # becomes an (element, index) lambda and `_p` gets bound to
        # the index Column — str(plane) then hashes a Column repr.
        return lambda i: _hyperplane_component(plane, i)

    b = F.lit(0).cast("bigint")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.transform(
                    F.sequence(F.lit(0), F.size(vec) - 1), coef_fn(p)
                ),
                lambda x, r: x.cast("double") * r,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        b = b + F.when(proj > 0, F.lit(2 ** p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return b


def ann_lsh_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the same
    hyperplane-sign bucket. Recall < 1 by design; pair computation
    is bucket-local so cost is sum over buckets of |bucket|²."""
    from pyspark.sql import Window

    def bucket_col(vec: Column) -> Column:
        return lsh_bucket_col(vec, n_planes)

    # norms are hoisted to the per-VECTOR side (r10): computing
    # cosine() whole per candidate pair re-ran both norm array
    # passes once per pair; dot/(na*nb) over pre-computed norms is
    # the identical double arithmetic on identical operands
    with_bucket = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("bucket", bucket_col(F.col("v")))
        .withColumn("nv", norm(F.col("v")))
        .localCheckpoint()
    )
    pairs = (
        with_bucket.alias("a")
        .join(with_bucket.alias("b"), on="bucket")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("query_id"),
            F.col("b.id").alias("neighbor_id"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nv") * F.col("b.nv")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine)
    with id_a < id_b and cosine >= threshold.

    Candidates come from the hyperplane-LSH buckets (high-cosine
    pairs almost always agree on every plane sign), then the exact
    cosine filters them — the standard candidate-generate/verify
    split that keeps the pair space sub-quadratic at scale. Note the
    LSH stage makes this approximate-recall like every production
    embedding dedup: a near-dup pair split by a plane is missed.
    """
    def bucket_col(vec: Column) -> Column:
        return lsh_bucket_col(vec, n_planes)

    # per-vector norm hoist, as in ann_lsh_topk (identical doubles)
    with_bucket = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("bucket", bucket_col(F.col("v")))
        .withColumn("nv", norm(F.col("v")))
    )
    return (
        with_bucket.alias("a")
        .join(with_bucket.alias("b"), on="bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nv") * F.col("b.nv")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def sign_hash_bands(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """Pack each vector's per-dimension sign bits (x > 0) into
    ``n_bands`` integers of ``band_bits`` bits each, MSB-first — a
    64-bit SimHash-style binary code stored as band columns so the
    Hamming-pigeonhole band join needs no bit-slicing at probe time.
    Returns DataFrame(id, b0..b{n-1}: long). Pure column arithmetic
    (F.aggregate over the dimension range) — JVM-side, no UDF."""
    e = F.col(vec_col)
    cols = [F.col(id_col).alias("id")]
    for j in range(n_bands):
        start = j * band_bits + 1
        band = F.aggregate(
            F.sequence(F.lit(start), F.lit(start + band_bits - 1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(F.element_at(e, i.cast("int")) > 0, F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        cols.append(band.alias(f"b{j}"))
    return df.select(*cols)


def _trained(df: DataFrame, cache_key: str | None, sig: tuple, train):
    """``train()``, or with ``cache_key`` set its result memoized in
    the session memo under ``(cache_key, *sig)``. ``sig`` carries the
    full training signature (trainer, columns, sizes, iterations), so
    two calls differing in any of them never share a codebook;
    ``cache_key`` must uniquely identify the CORPUS — the DataFrame's
    data is not hashed."""
    if cache_key is None:
        return train()
    return session_memo(df.sparkSession).get((cache_key, *sig), train)


def kmeans_codebook(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """Deterministic seeded spherical k-means codebook, fully
    distributed (Lloyd's algorithm as DataFrame aggregations).

    - Seeds: the k vectors whose md5(id) sort first — a deterministic
      pseudo-random sample (no RNG, reproducible across engines).
    - Assign: argmax cosine to current centroids as a
      groupBy(id).agg(min_by) — the crossJoin with the broadcast
      K-row codebook emits each vector's K scored rows inside one
      task, so the argmax completes in the MAP-SIDE partial
      aggregation and the exchange carries one row per vector,
      instead of the previous window's N*K-row shuffle plus per-id
      sort. min_by on struct(-cc, cid) reproduces the exact
      (cc desc, cid asc) tie-break (cosines rounded to 6 dp first).
    - Update: per-dimension mean of assigned vectors via posexplode +
      groupBy(cid, pos) — one shuffle keyed on (cid, pos), rebuilt
      into arrays with array_sort(collect_list(struct)). Every
      centroid coordinate is rounded to 6 dp so engine summation
      order cannot drift the codebook.

    Clusters that lose all members simply drop out (standard Lloyd
    behavior). Returns DataFrame(cid, cv: array<double>); cid is the
    seed vector's id. Scale: data is touched `iterations` times with
    map-side cost K*dim per row; only the K-row codebook is ever
    broadcast/checkpointed. `k` here is the codebook size: the
    default 8 is a test-scale toy — size it ~sqrt(N) for a corpus
    (see ann_ivf_topk's scale contract).
    """
    # Training is deterministic, so with ``cache_key`` set the
    # k-row codebook memoizes per (session, full training signature)
    # — repeat callers (IVF search, recall evals, the miners) pay
    # only their own dataflow, the way a trained codebook is
    # actually reused (same pattern as the residual-PQ cache).
    return _trained(
        df, cache_key, ("kmeans", vec_col, id_col, k, iterations),
        lambda: _kmeans_train(df, vec_col, id_col, k, iterations),
    )


def _kmeans_train(df, vec_col, id_col, k, iterations) -> DataFrame:
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = (
        v.orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(k)
        .select(
            F.col("id").alias("cid"),
            F.transform("v", lambda x: F.round(x.cast("double"), 6)).alias("cv"),
        )
        .localCheckpoint()
    )
    for _ in range(iterations):
        assigned = (
            _cc_assign(v, cents)
            .groupBy("id")
            .agg(
                F.min_by(
                    F.struct("cid", "v"),
                    F.struct((-F.col("cc")).alias("nc"), F.col("cid").alias("tb")),
                ).alias("a")
            )
            .select("id", F.col("a.v").alias("v"), F.col("a.cid").alias("cid"))
        )
        cents = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("cv"))
            .localCheckpoint()
        )
    return cents


def kmeans_cluster_report(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """Per-cluster health report for the deterministic k-means above
    — the document-clustering readout every embedding pipeline wants
    before topic labeling / SemDeDup / IVF sizing: cluster sizes and
    cohesion (mean assigned-vector-to-centroid cosine).

    Engine-exact by construction: assignment cosines are the
    codebook's 6dp-rounded values, summed as exact ppm BIGINTs;
    mean_cos_ppm is one IEEE division of two integers. Shape at
    scale: one broadcast crossJoin with the K-row codebook, the
    argmax finished by the map-side min_by partial, then ONE
    aggregation over |K| keys. Returns (cluster_id, n_vectors,
    sum_cos_ppm, mean_cos_ppm).
    """
    cents = kmeans_codebook(
        df, vec_col, id_col, k=k, iterations=iterations, cache_key=cache_key
    )
    assigned = (
        _cc_assign(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
            cents,
        )
        .groupBy("id")
        .agg(
            F.min_by(
                F.struct("cid", "cc"),
                F.struct((-F.col("cc")).alias("nc"), F.col("cid").alias("tb")),
            ).alias("a")
        )
        .select(
            F.col("a.cid").alias("cid"),
            F.round(F.col("a.cc") * 1e6, 0).cast("long").alias("ppm"),
        )
    )
    return assigned.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum("ppm").cast("bigint").alias("sum_cos_ppm"),
        (F.sum("ppm") * F.lit(1.0) / F.count("*")).alias("mean_cos_ppm"),
    )


def ann_ivf_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 1,
    codebook: str = "kmeans",
    kmeans_iterations: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: inverted-file partitioning by nearest
    centroid; queries probe their `nprobe` nearest cells.

    codebook='kmeans' (default) learns centroids with the
    deterministic seeded k-means above — reproducible AND
    oracle-checkable (the DuckDB oracle unrolls the same Lloyd
    iterations). codebook='first' keeps the naive
    first-n_centroids-ids table for comparison. Candidates index
    into exactly one cell; a query probing `nprobe` cells therefore
    sees each candidate at most once. Search cost is
    nprobe * sum(cell * |cell|) instead of n².

    SCALE CONTRACT: n_centroids=8 / nprobe=1 are sf-toy defaults for
    the 2.5k-vector fixtures. At corpus scale size the codebook
    ~sqrt(N) (FAISS guidance: 4*sqrt(N)..16*sqrt(N) cells for
    N >= 1e6) so mean cell size ~sqrt(N) — with 8 cells a 1e9-vector
    corpus would put ~1.25e8 candidates in EVERY probe and the
    cell-local join degenerates toward all-pairs. Train once via
    kmeans_codebook(k=...) and inject through `codebook`/`cents`
    injection (ann_ivf_pq_topk's `coarse`/`pq_cents`); training is
    deterministic so the codebook is reusable across runs.
    """
    from pyspark.sql import Window

    if codebook == "kmeans":
        cents = kmeans_codebook(
            df, vec_col, id_col, k=n_centroids,
            iterations=kmeans_iterations, cache_key=cache_key,
        )
    elif codebook == "first":
        cents = df.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
        )
    else:
        raise ValueError("codebook must be 'kmeans' or 'first'")
    scored = (
        _cc_assign(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
            cents,
        )
    )
    # top-nprobe cells per vector WITHOUT a window: the broadcast
    # crossJoin emits each id's K scored rows in one task, so
    # collect_list + array_sort + slice finishes in the map-side
    # partial agg and the exchange carries ONE row per vector (v
    # rides along via first()) instead of N*K rows through a per-id
    # sort. struct(-cc, cid) ascending == (cc desc, cid asc) exactly.
    top = (
        scored.groupBy("id")
        .agg(
            F.first("v").alias("v"),
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("cc")).alias("nc"), F.col("cid").alias("cid"))
                    )
                ),
                1,
                max(nprobe, 1),
            ).alias("cand"),
        )
        .select("id", "v", F.posexplode("cand").alias("pos", "c"))
        .select("id", "v", F.col("c.cid").alias("bucket"), "pos")
        .localCheckpoint()
    )
    index_side = top.filter(F.col("pos") == 0).select("id", "v", "bucket")
    probe_side = top.select("id", "v", "bucket")

    # Cell-local scoring runs the SAME numpy matrix-multiply kernel
    # as brute_force_topk, cogrouped on the coarse cell instead of
    # the (g, b) tile — each probe's candidates live in exactly one
    # cell, so per-cell top-k is a superset of the global top-k and
    # the final window only merges a query's nprobe cell partials.
    # The previous per-pair higher-order-function cosine was the
    # interpreted slow path (3 array folds per pair; 25s on the
    # 2k x 64d bench fixture at k=25 vs ~3s for this kernel), and
    # the 6dp-rounded values are the gate-proven-identical ones the
    # brute family already hash-matches against list_dot_product.
    import numpy as np
    import pandas as pd

    def score_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        q = np.array(list(left["v"]), dtype=np.float64)
        qn = q / np.linalg.norm(q, axis=1, keepdims=True)
        c = np.array(list(right["v"]), dtype=np.float64)
        cn = c / np.linalg.norm(c, axis=1, keepdims=True)
        cos = _np_round_half_away(qn @ cn.T, 6)
        qids = left["id"].values
        cand_ids = right["id"].values
        out_q, out_n, out_c = [], [], []
        for row_i, qid in enumerate(qids):
            row = cos[row_i]
            mask = cand_ids != qid
            row, nids = row[mask], cand_ids[mask]
            order = np.lexsort((nids, -row))[:k]
            out_q.append(np.full(len(order), qid, dtype=np.int64))
            out_n.append(nids[order])
            out_c.append(row[order])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    pairs = (
        probe_side.groupBy("bucket")
        .cogroup(index_side.groupBy("bucket"))
        .applyInPandas(
            score_cell, "query_id long, neighbor_id long, cosine double"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _top_cells(scored: DataFrame, nprobe: int) -> DataFrame:
    """Top-`nprobe` coarse cells per vector from an (id, cid, cc)
    scored frame, windowless: the broadcast crossJoin that produced
    `scored` emits each id's K rows inside one task, so collect_list
    + array_sort + slice completes in the map-side partial
    aggregation and the exchange carries one light row per vector —
    not N*K rows through a per-id sort. struct(-cc, cid) ascending
    reproduces (cc desc, cid asc) exactly. Returns (id, bucket, pos)
    with pos 0-based (pos 0 = the vector's own cell).
    """
    return (
        scored.groupBy("id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("cc")).alias("nc"), F.col("cid").alias("cid"))
                    )
                ),
                1,
                max(nprobe, 1),
            ).alias("cand")
        )
        .select("id", F.posexplode("cand").alias("pos", "c"))
        .select("id", F.col("c.cid").alias("bucket"), "pos")
    )


def _l2sq(a: Column, b: Column) -> Column:
    # expanded form (a.a - 2a.b + b.b): each term is the same ordered
    # fold as `dot`, which DuckDB mirrors with list_dot_product — the
    # structural alignment keeps rounded values engine-identical
    return dot(a, a) - 2.0 * dot(a, b) + dot(b, b)


def pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
) -> DataFrame:
    """Product-quantization codebooks: the vector is split into `m`
    contiguous subvectors and each subspace learns its own k-centroid
    L2 Lloyd codebook. Deterministic like `kmeans_codebook`: seeds
    are the k vectors sorting first by md5(id) (the same seed rows in
    every subspace), assignment uses 6dp-rounded squared L2 with cid
    tie-break, and centroid coordinates are rounded to 6dp — so any
    engine replaying the recurrence gets the identical codebook.

    Returns DataFrame(j, cid, cv) with j in [0, m): subspace index.
    All m subspaces iterate in ONE dataflow keyed by j — per round:
    one broadcast of the m*k codebook rows, one shuffle on
    (j, cid, pos) for the mean update.
    """
    dim = len(df.select(vec_col).first()[0])
    sub = dim // m
    assert sub * m == dim, f"dim {dim} not divisible by m={m}"
    svs = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.transform(
                            F.slice(F.col(vec_col), j * sub + 1, sub),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("id", F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))
    svs = svs.repartition("j", "id").localCheckpoint()
    seed_ids = (
        df.select(F.col(id_col).alias("id"))
        .orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(k)
    )
    cents = (
        svs.join(F.broadcast(seed_ids), on="id")
        .select(
            "j",
            F.col("id").alias("cid"),
            F.transform("sv", lambda x: F.round(x, 6)).alias("cv"),
        )
        .localCheckpoint()
    )
    # argmin centroid per (subspace, vector) as a map-side min_by
    # partial aggregation — see kmeans_codebook's assign note.
    for _ in range(iterations):
        assigned = (
            svs.join(F.broadcast(cents), on="j")
            .withColumn("d2", F.round(_l2sq(F.col("sv"), F.col("cv")), 6))
            .groupBy("j", "id")
            .agg(
                F.min_by(
                    F.struct("cid", "sv"), F.struct("d2", "cid")
                ).alias("a")
            )
            .select(
                "j", "id", F.col("a.sv").alias("sv"), F.col("a.cid").alias("cid")
            )
        )
        cents = (
            assigned.select("j", "cid", F.posexplode("sv").alias("pos", "x"))
            .groupBy("j", "cid", "pos")
            .agg(F.round(F.avg("x"), 6).alias("mval"))
            .groupBy("j", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm"))
            .select("j", "cid", F.transform("pm", lambda s: s["mval"]).alias("cv"))
            .localCheckpoint()
        )
    return cents


def ann_pq_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    m: int = 4,
    n_centroids: int = 8,
    iterations: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k by asymmetric distance
    (ADC): candidates are stored as m one-byte codes; a query's
    distance to a candidate is the sum of its precomputed
    query-to-centroid subdistances at the candidate's codes.

    The plan is the textbook PQ shape re-expressed relationally:
      1. encode: per (vector, subspace) argmin centroid — broadcast
         m*k codebook, one window per (j, id);
      2. ADC table: query x subspace x centroid distances
         (|Q| * m * k rows — broadcastable by construction);
      3. score: codes ⋈ table on (j, cid), then a (query, candidate)
         partial-aggregated SUM — per-pair cost is m lookups instead
         of `dim` multiplies, which is the whole point of PQ.
    At 100 TB you bound |Q| per pass (the ADC table must stay
    broadcastable) and compose with IVF cells so the code join only
    sees one cell's candidates, not the full corpus.

    Approximate by design (quantization error); ranks order by
    6dp-rounded reconstructed distance, neighbor_id tie-break.
    """
    from pyspark.sql import Window

    # same served-index pattern as ann_ivf_pq_residual_topk: with a
    # cache_key the trained PQ codebook memoizes per session, so
    # repeat calls pay the encode/ADC dataflow only
    cents = _trained(
        df, cache_key, ("pq", vec_col, id_col, m, n_centroids, iterations),
        lambda: pq_codebooks(
            df, vec_col, id_col, m=m, k=n_centroids, iterations=iterations
        ),
    )
    dim = len(df.select(vec_col).first()[0])
    sub = dim // m
    svs = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.transform(
                            F.slice(F.col(vec_col), j * sub + 1, sub),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("id", F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))
    scored = svs.join(F.broadcast(cents), on="j").withColumn(
        "d2", F.round(_l2sq(F.col("sv"), F.col("cv")), 6)
    )
    # per-(vector, subspace) code = argmin centroid as a map-side
    # min_by partial aggregation (see kmeans_codebook's assign note)
    codes = scored.groupBy("id", "j").agg(
        F.min_by("cid", F.struct("d2", "cid")).alias("cid")
    )
    # --- flat-ADC scoring as a tiled numpy kernel (r10) ---------------
    # The relational shape (codes ⋈ broadcast ADC-table on (j, cid),
    # then a (query, candidate) grouped SUM) materializes N²·m join
    # rows for N² pair groups plus an N²-row rank window. The scoring
    # is a pure integer gather-sum, so run it like brute_force_topk:
    # hash-tile queries × candidates into cogroup cells, one numpy
    # int64 gather per cell, and emit only each cell's top-k — the
    # merge window then sees B·k rows per query instead of N.
    # Exactness: summands are the SAME round(d2*1e6) BIGINT µ-units
    # as before (int64 sums are order-independent), and
    # round(di/1e6, 6) is injective for any realistic di, so ordering
    # by the integer sum reproduces the (pq_dist, neighbor_id) rank
    # order bit-for-bit.
    import numpy as np
    import pandas as pd

    # dense code positions: cidx per (j, cid) via a tiny per-j window
    # over the codebook rows (bounded by m*n_centroids — broadcast
    # grid, not data); gpos = j*n_centroids + cidx leaves gaps if a
    # subspace lost a centroid, which the gather never touches.
    wc = Window.partitionBy("j").orderBy("cid")
    cmap = cents.select("j", "cid").withColumn(
        "gpos",
        (F.col("j") * n_centroids + F.row_number().over(wc) - 1).cast("int"),
    )
    n_pos = m * n_centroids
    # per-query ADC row: µ-unit subdistances laid out at gpos
    qt = scored.join(F.broadcast(cmap), on=["j", "cid"]).select(
        "id",
        "gpos",
        F.round(F.col("d2") * 1e6).cast("bigint").alias("di"),
    )
    qrows = (
        qt.groupBy("id")
        .agg(F.map_from_entries(F.collect_list(F.struct("gpos", "di"))).alias("mp"))
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_pos - 1)),
                lambda p: F.coalesce(F.element_at("mp", p), F.lit(0).cast("bigint")),
            ).alias("qa"),
        )
    )
    # per-candidate code row: the m chosen gpos values ordered by j
    crows = (
        codes.join(F.broadcast(cmap), on=["j", "cid"])
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "gpos"))),
                lambda s: s["gpos"],
            ).alias("ca")
        )
    )
    n = df.count()
    block_rows = 1024
    n_blocks = max(1, -(-n // block_rows))
    n_groups = n_blocks
    # distinct column names on the two sides: both share `scored`'s
    # lineage, and the cogroup would otherwise be an ambiguous self-join
    qry = qrows.select(
        F.col("id").alias("qid"),
        "qa",
        F.pmod(F.xxhash64("id"), F.lit(n_groups)).cast("int").alias("g"),
    ).withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
    cand = crows.select(
        F.col("id").alias("nid"),
        "ca",
        F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int").alias("b"),
    ).withColumn("g", F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))))

    def score_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "di": pd.Series(dtype="int64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        q = np.array(list(left["qa"]), dtype=np.int64)   # (nq, n_pos)
        c = np.array(list(right["ca"]), dtype=np.int64)  # (nc, m)
        dist = q[:, c[:, 0]].copy()
        for j in range(1, c.shape[1]):
            dist += q[:, c[:, j]]
        qids = left["qid"].values
        cand_ids = right["nid"].values
        out_q, out_n, out_d = [], [], []
        for row_i, qid in enumerate(qids):
            row = dist[row_i]
            mask = cand_ids != qid
            row, nids = row[mask], cand_ids[mask]
            order = np.lexsort((nids, row))[:k]  # di asc, neighbor asc
            out_q.append(np.full(len(order), qid, dtype=np.int64))
            out_n.append(nids[order])
            out_d.append(row[order])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "di": np.concatenate(out_d),
            }
        )

    n_cells = n_blocks * n_groups
    partials = (
        qry.repartition(n_cells, "g", "b")
        .groupBy("g", "b")
        .cogroup(cand.repartition(n_cells, "g", "b").groupBy("g", "b"))
        .applyInPandas(score_cell, "query_id long, neighbor_id long, di long")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("di").asc(), F.col("neighbor_id").asc()
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("di") / 1e6, 6).alias("pq_dist"),
            "rank",
        )
    )


def ann_ivf_pq_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    pq_centroids: int = 8,
    iterations: int = 2,
    coarse: DataFrame | None = None,
    pq_cents: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ: the production ANN composition. IVF restricts each
    query to its `nprobe` nearest coarse cells (candidate set =
    cells, not corpus); PQ scores those candidates by asymmetric
    distance over m one-byte codes (per-pair cost = m lookups, not
    dim multiplies). This is exactly the FAISS IVFPQ shape
    re-expressed relationally:

      coarse = seeded cosine k-means (broadcast K rows)
      codes  = per-subspace argmin vs the PQ codebooks (broadcast)
      score  = codes ⋈ ADC table on (subspace, code), grouped sum
               — but only WITHIN a probed (query, cell) pair

    Both codebooks are the deterministic seeded learners above, so
    the full composition remains oracle-replayable. Ranks order by
    6dp-rounded ADC distance, neighbor_id tie-break. Pre-trained
    codebooks can be injected via `coarse` / `pq_cents` (both or
    neither) — training is deterministic, so a caller serving many
    queries trains once and reuses.

    SCALE CONTRACT: n_centroids=8 / nprobe=2 / m=4 are sf-toy
    defaults. At corpus scale, n_centroids ~sqrt(N) (see
    ann_ivf_topk) or the per-cell candidate joins explode; m scales
    with dim (FAISS: dim/m in 4..16 floats per subspace); train the
    codebooks once and inject them via `coarse`/`pq_cents`.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Window

    if (coarse is None) != (pq_cents is None):
        raise ValueError("pass both coarse and pq_cents, or neither")
    if coarse is None:
        # The coarse (IVF) and PQ codebooks train on the same input
        # but are fully independent — run both Lloyd loops
        # CONCURRENTLY so their (small, serial) per-iteration jobs
        # interleave on the scheduler instead of queueing end-to-end.
        # Same dual-thread pattern as on_shortest_path's BFS arms.
        with ThreadPoolExecutor(max_workers=2) as pool:
            coarse_fut = pool.submit(
                kmeans_codebook, df, vec_col, id_col, n_centroids, iterations
            )
            pq_fut = pool.submit(
                pq_codebooks, df, vec_col, id_col, m, pq_centroids, iterations
            )
            coarse = coarse_fut.result()
            pq_cents = pq_fut.result()
    scored = (
        _cc_assign(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
            coarse,
        )
    )
    # map-side top-nprobe cell assignment — see ann_ivf_topk's note
    top = _top_cells(scored, nprobe).localCheckpoint()
    index_side = top.filter(F.col("pos") == 0).select("id", "bucket")
    probe_side = top.select("id", "bucket")
    cand = (
        probe_side.alias("q")
        .join(index_side.alias("x"), on="bucket")
        .filter(F.col("q.id") != F.col("x.id"))
        .select(F.col("q.id").alias("query_id"), F.col("x.id").alias("nid"))
    )

    dim = len(df.select(vec_col).first()[0])
    sub = dim // m
    svs = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.transform(
                            F.slice(F.col(vec_col), j * sub + 1, sub),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("id", F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))
    pq_scored = svs.join(F.broadcast(pq_cents), on="j").withColumn(
        "d2", F.round(_l2sq(F.col("sv"), F.col("cv")), 6)
    )
    codes = (
        pq_scored.groupBy("id", "j")
        .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cid"))
        .select(F.col("id").alias("nid"), "j", "cid")
    )
    qtab = pq_scored.select(F.col("id").alias("query_id"), "j", "cid", "d2")
    # candidate-restricted ADC: join the (query, cell-candidate)
    # pairs to the candidate's m codes, then to the query's ADC row
    pairs = (
        cand.join(codes, on="nid")
        .join(qtab, on=["query_id", "j", "cid"])
        .groupBy("query_id", F.col("nid").alias("neighbor_id"))
        # the m summands are 6dp-rounded values; summing them as
        # scaled INTEGERS (x1e6) then dividing once avoids the
        # double-rounding tie where a .5-at-the-7th-digit sum rounds
        # differently across engines
        .agg(
            F.round(
                F.sum(F.round(F.col("d2") * 1e6).cast("bigint")) / 1e6, 6
            ).alias("pq_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc()
    )
    return pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _residual(frame: DataFrame, coarse: DataFrame) -> DataFrame:
    """v - c(bucket), rounded 6dp: the deterministic residual-PQ input."""
    return (
        frame.join(
            F.broadcast(coarse.select(F.col("cid").alias("bucket"), "cv")),
            on="bucket",
        )
        .withColumn(
            # x1e6-scaled integer quantization via floor(x+0.5): FLOOR
            # of identical IEEE doubles is identical in any engine —
            # unlike decimal ROUND, whose JVM (BigDecimal-on-shortest-
            # repr) and C (binary float) implementations disagree on
            # boundary-adjacent values, which hash-flunked the first
            # cut of this operator. All downstream PQ math then runs
            # on integer-valued doubles (exact below 2^53).
            "res",
            F.zip_with(
                "v",
                "cv",
                lambda a, b: F.floor((a.cast("double") - b) * 1e6 + 0.5).cast(
                    "double"
                ),
            ),
        )
        .drop("cv")
    )


def ann_ivf_pq_residual_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    pq_centroids: int = 8,
    iterations: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF + PQ with RESIDUAL encoding — the exact FAISS IVFPQ
    layout: each vector is PQ-coded not on its raw coordinates but
    on its residual v − c(cell) after coarse assignment, which
    centers every cell's data around zero and lets the same small
    PQ codebook describe all cells far more precisely. The query
    side mirrors it: the ADC table is built from the QUERY'S
    residual with respect to EACH probed cell (a different residual
    per cell), so distances compare like with like.

    All arithmetic stays engine-exact: residuals are rounded to 6dp
    before PQ training/coding (deterministic inputs), both Lloyd
    learners are the seeded deterministic ones above, and the final
    ADC sums are 6dp-rounded before ranking. One extra broadcast
    join (coarse centroids onto vectors) versus the raw-coordinate
    variant; candidate generation is identical — bucket-bounded,
    never all-pairs.

    Both Lloyd trainings are deterministic, so with ``cache_key``
    set the trained (coarse, residual-PQ) tables are memoized per
    (session, full training signature) — repeat calls against one
    corpus pay only the probe/ADC dataflow, the way a served index
    is used (same pattern as ann_ivf_pq_topk's query-layer cache).
    """
    from pyspark.sql import Window

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    def assign(coarse: DataFrame) -> DataFrame:
        # map-side top-nprobe cell assignment — see ann_ivf_topk's note
        return _top_cells(_cc_assign(base, coarse), nprobe).localCheckpoint()

    def index_residuals(top: DataFrame, coarse: DataFrame) -> DataFrame:
        index_side = top.filter(F.col("pos") == 0).select("id", "bucket")
        return _residual(index_side.join(base, on="id"), coarse).select(
            "id", "res"
        )

    fresh = {}

    def train():
        coarse = kmeans_codebook(df, vec_col, id_col, n_centroids, iterations)
        fresh["top"] = top = assign(coarse)
        return coarse, pq_codebooks(
            index_residuals(top, coarse), "res", "id", m, pq_centroids,
            iterations,
        )

    coarse, pq_cents = _trained(
        df, cache_key,
        ("ivfpq_res", vec_col, id_col, n_centroids, m, pq_centroids, iterations),
        train,
    )
    # a fresh training has already assigned the cells
    top = fresh["top"] if "top" in fresh else assign(coarse)
    index_side = top.filter(F.col("pos") == 0).select("id", "bucket")
    probe_side = top.select("id", "bucket")
    cand = (
        probe_side.alias("q")
        .join(index_side.alias("x"), on="bucket")
        .filter(F.col("q.id") != F.col("x.id"))
        .select(
            F.col("q.id").alias("query_id"),
            F.col("x.id").alias("nid"),
            "bucket",
        )
    )
    index_res = index_residuals(top, coarse)

    dim = len(df.select(vec_col).first()[0])
    sub = dim // m

    def _subspaces(frame: DataFrame, keys: list[str]) -> DataFrame:
        return frame.select(
            *keys,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.slice(F.col("res"), j * sub + 1, sub).alias("sv"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("s"),
        ).select(*keys, F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))

    # data-side codes: argmin PQ centroid per (vector, subspace) —
    # residuals and centroids are 6dp-quantized, so the distances are
    # EXACT scaled integers (no rounding, no cross-engine ties)
    code_scored = _subspaces(index_res, ["id"]).join(
        F.broadcast(pq_cents), on="j"
    ).withColumn(
        "d2", F.floor(_l2sq(F.col("sv"), F.col("cv")) + 0.5).cast("bigint")
    )
    codes = (
        code_scored.groupBy("id", "j")
        .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cid"))
        .select(F.col("id").alias("nid"), "j", "cid")
    )
    # query-side ADC rows: the query's residual PER PROBED CELL
    query_res = _residual(probe_side.join(base, on="id"), coarse)
    qtab = _subspaces(query_res, ["id", "bucket"]).join(
        F.broadcast(pq_cents), on="j"
    ).select(
        F.col("id").alias("query_id"),
        "bucket",
        "j",
        "cid",
        F.floor(_l2sq(F.col("sv"), F.col("cv")) + 0.5)
        .cast("bigint")
        .alias("d2"),
    )
    pairs = (
        cand.join(codes, on="nid")
        .join(qtab, on=["query_id", "bucket", "j", "cid"])
        .groupBy("query_id", F.col("nid").alias("neighbor_id"))
        # d2 summands are exact x1e12-scaled integers: one integer
        # sum, one IEEE division, no decimal round anywhere — the
        # comparison harness rounds both engines' identical doubles
        # identically
        .agg((F.sum("d2") / F.lit(1e12)).alias("pq_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc()
    )
    return pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_dim_stats(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension profile of an embedding column: n, mean, min,
    max, sample variance — the pre-flight check before whitening, PQ
    subspace splits, or quantization (a dead or wildly-scaled
    dimension distorts all of them).

    One posexplode + one groupBy(pos). Sums run on 1e-6-quantized
    INTEGER values promoted to decimal(38,0): double summation order
    is engine-dependent, and bigint x² sums overflow past ~1e9 rows —
    decimal accumulators are exact in both engines at any corpus
    size. Variance uses the integer-exact closed form
    (n*Σx² - (Σx)²) / (n*(n-1)). Returns
    (pos, n, mean, min_val, max_val, variance), floats 6dp.
    """
    q = F.floor(F.col("x") * 1e6).cast("decimal(38,0)")
    exploded = df.select(
        F.posexplode(F.col(vec_col)).alias("pos", "x0")
    ).select("pos", F.col("x0").cast("double").alias("x"))
    return (
        exploded.select("pos", "x", q.alias("q"))
        .groupBy("pos")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum("q").cast("double") / 1e6 / F.count("*"), 6
            ).alias("mean"),
            F.round(F.min("x"), 6).alias("min_val"),
            F.round(F.max("x"), 6).alias("max_val"),
            F.round(
                (
                    F.count("*") * F.sum(F.col("q") * F.col("q"))
                    - F.sum("q") * F.sum("q")
                ).cast("double")
                / (F.count("*") * (F.count("*") - F.lit(1)))
                / 1e12,
                6,
            ).alias("variance"),
        )
    )


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    seed: str = "rp0",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a seeded ±1
    (Rademacher) matrix derived from md5 — no RNG state, no
    materialized matrix: sign(i, j) = parity of the first hex digit
    of md5('seed:i:j'), so any engine regenerates the identical
    projection. Inputs are 1e-6-quantized to integers, making each
    output coordinate an exact integer sum (order-independent).

    Plan: posexplode x broadcast j-range, then groupBy(id, j) — the
    sign and quantization are map-side; the exchange carries
    |vectors| x out_dim light rows. Returns (vec_id, j, y) with
    y = (Σ_i sign_ij * q_i) / 1e6, 6dp.
    """
    sess = df.sparkSession
    js = sess.range(out_dim).select(F.col("id").cast("int").alias("j"))
    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "x")
    ).select(
        id_col, "pos", F.floor(F.col("x").cast("double") * 1e6).cast("bigint").alias("q")
    )
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col("pos"), F.col("j")))
    sign = F.lit(1) - 2 * (F.conv(F.substring(h, 1, 1), 16, 10).cast("int") % 2)
    return (
        exploded.crossJoin(F.broadcast(js))
        .groupBy(id_col, "j")
        .agg(F.round(F.sum(sign * F.col("q")) / 1e6, 6).alias("y"))
    )


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-dimension int8 quantization: scale_j =
    max |x_j| over the corpus, code = floor(x / scale * 127 + 0.5)
    in [-127, 127] — the storage layout a 100-TB vector corpus
    actually ships (4x smaller than float32, SIMD-friendly ADC).

    Two passes: a per-dimension max-abs aggregate (broadcast back —
    it is `dim` rows), then a map-side encode. Every op is exact
    cross-engine: max is order-free, x/scale and *127 are single
    correctly-rounded IEEE ops, floor is exact. Zero-scale (dead)
    dimensions encode 0. Returns (vec_id, pos, code, scale 6dp).
    """
    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "x0")
    ).select(id_col, "pos", F.col("x0").cast("double").alias("x"))
    scales = exploded.groupBy("pos").agg(F.max(F.abs(F.col("x"))).alias("scale"))
    code = F.when(
        F.col("scale") > 0,
        F.floor(F.col("x") / F.col("scale") * 127 + 0.5).cast("int"),
    ).otherwise(F.lit(0))
    return exploded.join(F.broadcast(scales), on="pos").select(
        id_col,
        "pos",
        code.alias("code"),
        F.round("scale", 6).alias("scale"),
    )


def cosine_histogram(
    df: DataFrame,
    sample_frac: float = 0.2,
    n_bins: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Pairwise-cosine distribution over a deterministic md5 sample of
    the corpus — the separability probe run before choosing a near-dup
    cosine threshold or an ANN recall target (a hump near 1.0 means
    duplicates; mass near 0 means the space discriminates).

    The sample is seed-free and partitioning-stable (md5-prefix
    threshold, same device as hash_sample); pair count is
    (frac*N)^2/2, so the caller keeps frac*N around 1e4 at corpus
    scale — the histogram is a diagnostic, not a scan. Cosines are
    6dp-rounded, then binned over [-1, 1]. Returns
    (bucket, bucket_lo, bucket_hi, n_pairs).
    """
    thresh = int(sample_frac * 65536)
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
    sample = (
        df.filter(h.cast("bigint") < thresh)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .localCheckpoint()
    )
    width = 2.0 / n_bins
    pairs = (
        sample.alias("a")
        .join(sample.select(F.col("id").alias("id_b"), F.col("v").alias("vb")).alias("b"),
              F.col("a.id") < F.col("id_b"))
        .select(F.round(cosine(F.col("a.v"), F.col("vb")), 6).alias("c"))
    )
    bucket = F.least(
        F.floor((F.col("c") + 1.0) / width).cast("int"), F.lit(n_bins - 1)
    )
    return (
        pairs.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select(
            "bucket",
            F.round(F.col("bucket") * width - 1.0, 6).alias("bucket_lo"),
            F.round((F.col("bucket") + 1) * width - 1.0, 6).alias("bucket_hi"),
            "n_pairs",
        )
    )


def knn_label_accuracy(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out k-NN classification accuracy of a labeled
    embedding table — the standard embedding-quality eval (do
    same-label vectors actually cluster?): every vector's label is
    predicted by the majority label of its exact top-k cosine
    neighbors (ties -> count desc, label asc) and compared to its
    own.

    Reuses brute_force_topk's zero-driver block matrix-multiply for
    the neighbor lists; the vote is one broadcast label join + a
    map-side min_by majority. Returns one row
    (n_vectors, k, accuracy 6dp) — the division is count-exact.
    """
    topk = brute_force_topk(df, vec_col, id_col, k=k)
    labels = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nl")
    )
    votes = (
        topk.join(F.broadcast(labels), on="neighbor_id")
        .groupBy("query_id", "nl")
        .agg(F.count("*").alias("cnt"))
    )
    pred = votes.groupBy("query_id").agg(
        F.min_by(
            "nl", F.struct((-F.col("cnt")).alias("nc"), F.col("nl").alias("tb"))
        ).alias("pred")
    )
    own = df.select(F.col(id_col).alias("query_id"), F.col(label_col).alias("own"))
    return (
        own.join(pred, on="query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.lit(k).cast("int").alias("k"),
            F.round(
                F.sum(F.when(F.col("pred") == F.col("own"), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("accuracy"),
        )
    )


def _quantized_explode(
    df: DataFrame, vec_col: str, id_col: str, label_col: str
) -> DataFrame:
    """(id, lbl, pos, q) with coordinates floor-quantized to the
    x1e6 integer scale — the shared exact-arithmetic surface of the
    nearest-centroid family."""
    ex = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    return ex.select(
        "id",
        "lbl",
        "pos",
        F.floor(F.col("x").cast("double") * 1_000_000).cast("bigint").alias("q"),
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean centroids on quantized coordinates:
    (clbl, pos, cq) with cq = floor(sum/n) — the broadcastable
    |labels| x dim table the nearest-centroid classifiers assign
    against."""
    ex = _quantized_explode(df, vec_col, id_col, label_col)
    return (
        ex.groupBy(F.col("lbl").alias("clbl"), "pos")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
        .select(
            "clbl",
            "pos",
            F.floor(F.col("s").cast("double") / F.col("n")).cast("bigint").alias("cq"),
        )
    )


def _label_centroid_pred(
    df: DataFrame, vec_col: str, id_col: str, label_col: str
) -> DataFrame:
    """Shared nearest-label-centroid assignment (integer-exact, see
    nearest_centroid_confusion): returns (id, lbl, pred)."""
    ex = _quantized_explode(df, vec_col, id_col, label_col)
    cents = label_centroids(df, vec_col, id_col, label_col)
    dists = (
        ex.join(F.broadcast(cents), on="pos")
        .groupBy("id", "lbl", "clbl")
        .agg(F.sum((F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))).alias("d2"))
    )
    return dists.groupBy("id", "lbl").agg(
        F.min_by("clbl", F.struct(F.col("d2"), F.col("clbl").alias("tb"))).alias(
            "pred"
        )
    )


def nearest_centroid_confusion(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid classifier confusion matrix over a labeled
    embedding table: per-label mean vectors (the Rocchio /
    nearest-class-mean classifier), every vector assigned to its
    closest centroid by L2, counts grouped by (true label, predicted
    label) — the 30-second "are these labels linearly separated?"
    eval that runs before spending GPU time on a probe.

    Engine-exact arithmetic: coordinates quantize to floor(x*1e6)
    BIGINTs; centroids are floor(sum/n) of those integers (the one
    double division is IEEE-exact in any engine since the sums stay
    under 2^53); distances are pure integer sums of squares, so the
    argmin has no float-comparison ambiguity. Ties break to the
    smaller label.

    Shape at scale: centroids are |labels| x dim rows — broadcast;
    the assignment is a map-side join + one (id, label) partial
    aggregation; nothing shuffles at corpus scale except the final
    confusion groupBy (|labels|^2 rows). Returns
    (label, pred_label, n).
    """
    pred = _label_centroid_pred(df, vec_col, id_col, label_col)
    return (
        pred.select("lbl", F.col("pred").alias("pred_label"))
        .groupBy(F.col("lbl").alias("label"), "pred_label")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    threshold_num: int = 49,
    threshold_den: int = 400,
    scale: int = 1000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster drop every vector whose cosine to a SMALLER-ID
    cluster-mate clears the threshold — semantically-redundant
    documents that no lexical dedup (MinHash et al.) would pair.

    Clustering here is the deterministic nearest-label-centroid
    assignment (shared with nearest_centroid_confusion); a caller
    with unlabeled data plugs kmeans_codebook labels in upstream.
    Candidate generation is CLUSTER-LOCAL — the pair space is
    sum(|cluster|^2), never corpus^2, the property that makes
    SemDeDup run at billion-doc scale.

    The cosine test is engine-exact: on floor(x * scale) integer
    coordinates, cos(a, b) >= t  <=>  dot >= 0 AND
    den * dot^2 >= num * |a|^2 * |b|^2 with t^2 = num/den (defaults:
    t = 0.35, t^2 = 49/400) — no float sqrt, no ROUND, no
    cross-engine boundary flakes. scale=1000 keeps den * dot^2 under
    2^63 for unit-norm-ish vectors up to ~4096 dims.

    Returns one row per vector: (vec_id, cluster, dup_of, is_kept)
    with dup_of = smallest-id duplicate cluster-mate (NULL if kept).
    """
    pred = _label_centroid_pred(df, vec_col, id_col, label_col)

    def quantize(x):
        return F.floor(x.cast("double") * scale).cast("bigint")

    vq = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), quantize).alias("vq"),
    ).withColumn(
        "n2",
        F.aggregate(
            "vq", F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
        ),
    )
    vecs = vq.join(pred.select("id", F.col("pred").alias("cluster")), on="id")
    a = vecs.alias("a")
    b = vecs.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.vq"), F.col("b.vq"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dup_of = (
        a.join(b, on=(F.col("a.cluster") == F.col("b.cluster"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dot.alias("dot"),
            F.col("a.n2").alias("na"),
            F.col("b.n2").alias("nb"),
        )
        .filter(
            (F.col("dot") >= 0)
            & (
                F.lit(threshold_den) * F.col("dot") * F.col("dot")
                >= F.lit(threshold_num) * F.col("na") * F.col("nb")
            )
        )
        .groupBy(F.col("id_b").alias("id"))
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        vecs.select("id", "cluster")
        .join(dup_of, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster").cast("int").alias("cluster"),
            F.col("dup_of"),
            F.col("dup_of").isNull().cast("int").alias("is_kept"),
        )
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 4,
) -> DataFrame:
    """Leading principal component of an embedding corpus by power
    iteration on the (scaled) covariance matrix — the first question
    of any embedding audit: is there one dominant axis (anisotropy /
    a batch artifact) the pipeline should project out before cosine
    retrieval?

    Engine-exact throughout: coordinates quantize to floor(x*1e6)
    BIGINTs; per-dim means are floor(sum/n); covariance entries are
    exact integer sums of centered products, scaled by floor(S/(n*1e3))
    so every matrix-vector product (|entries| <= 1e9 times iterate
    coords <= 1e6, dim-bounded sum) stays inside BIGINT for ANY corpus
    size; each iterate renormalizes to max-abs 1e6 with a two-IEEE-op
    floor both engines replay bit-for-bit. Zero-variance degenerate
    corpora yield the zero vector instead of dividing by zero.

    The covariance build is the only corpus-scale stage: one self-join
    keyed on the vector id (n*dim rows exchanged once) aggregated with
    map-side partials down to dim^2 rows; the dim^2-sized matrix and
    dim-sized iterates then live broadcast-side. Returns
    (pos, loading) with loading in [-1, 1] (max-abs normalized).
    """
    ex = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("pos", "x")
    ).select(
        "id",
        "pos",
        F.floor(F.col("x").cast("double") * 1_000_000).cast("bigint").alias("q"),
    )
    mu = ex.groupBy("pos").agg(
        F.floor(F.sum("q").cast("double") / F.count("*")).cast("bigint").alias("mu")
    )
    # materialized once (r10): the covariance self-join consumes cen
    # on BOTH sides with different projections, so without a barrier
    # the explode+mean join (a full corpus pass) runs twice
    cen = ex.join(F.broadcast(mu), on="pos").select(
        "id", "pos", (F.col("q") - F.col("mu")).alias("cq")
    ).localCheckpoint()
    n_row = df.select(F.count("*").alias("n"))
    cov = (
        cen.alias("a")
        .join(cen.select(F.col("id"), F.col("pos").alias("j"),
                         F.col("cq").alias("cqj")).alias("b"), on="id")
        .groupBy(F.col("a.pos").alias("i"), "j")
        .agg(F.sum(F.col("cq") * F.col("cqj")).alias("s"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            F.floor(F.col("s").cast("double") / (F.col("n") * 1000.0))
            .cast("bigint")
            .alias("c"),
        )
        .localCheckpoint()
    )
    spark = df.sparkSession
    dim_rows = cov.select("i").distinct()
    v = dim_rows.select(
        F.col("i").alias("pos"), F.lit(1_000_000).cast("bigint").alias("v")
    ).localCheckpoint()
    for _ in range(iterations):
        w = (
            cov.join(v.select(F.col("pos").alias("j"), "v"), on="j")
            .groupBy(F.col("i").alias("pos"))
            .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = (
            w.crossJoin(F.broadcast(m))
            .select(
                "pos",
                F.when(
                    F.col("m") > 0,
                    F.floor(
                        F.col("w").cast("double") * 1_000_000.0
                        / F.col("m").cast("double")
                    ).cast("bigint"),
                )
                .otherwise(F.lit(0).cast("bigint"))
                .alias("v"),
            )
            .localCheckpoint()
        )
    return v.select(
        F.col("pos").cast("int"), (F.col("v") / 1_000_000.0).alias("loading")
    )


def project_out_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 4,
) -> DataFrame:
    """Remove the leading principal component from every embedding —
    the standard anisotropy correction (all-but-the-top, Mu & Viswanath
    2018): r = q − round(α)·v with α = (q·v)/(v·v) on the SAME
    integer-quantized coordinates and power-iteration component as
    pca_top_component, so the whole correction is engine-exact
    (both dot products are BIGINT sums — coords and component are
    <= 1e6 over a dim-bounded sum — and α is one IEEE division).

    The component is dim-sized and broadcast; the correction itself
    is one map-side join over the exploded coordinates — nothing
    corpus-scale shuffles beyond the covariance build inside
    pca_top_component. Returns (vec_id, pos, res_q) with res_q the
    1e-6-quantized residual coordinate.
    """
    comp = pca_top_component(df, vec_col, id_col, iterations).select(
        "pos", F.floor(F.col("loading") * 1_000_000).cast("bigint").alias("vq")
    )
    ex = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("pos", "x")
    ).select(
        "id",
        "pos",
        F.floor(F.col("x").cast("double") * 1_000_000).cast("bigint").alias("q"),
    )
    vv = comp.agg(F.sum(F.col("vq") * F.col("vq")).alias("vv"))
    alpha = (
        ex.join(F.broadcast(comp), on="pos")
        .groupBy("id")
        .agg(F.sum(F.col("q") * F.col("vq")).alias("qv"))
        .crossJoin(F.broadcast(vv))
        .select(
            "id",
            F.when(
                F.col("vv") > 0,
                F.col("qv").cast("double") / F.col("vv").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("alpha"),
        )
    )
    return (
        ex.join(F.broadcast(comp), on="pos")
        .join(alpha, on="id")
        .select(
            F.col("id").alias(id_col),
            F.col("pos").cast("int"),
            (
                F.col("q")
                - F.floor(F.col("alpha") * F.col("vq").cast("double") + 0.5).cast(
                    "bigint"
                )
            ).alias("res_q"),
        )
    )


def embedding_norm_outliers(
    df: DataFrame,
    z_threshold: float = 3.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vectors whose L2 norm is a statistical outlier — the
    embedding-QA gate that catches truncated inputs (near-zero
    norms) and exploded activations before they poison cosine
    retrieval or k-means training.

    Exact arithmetic end to end: squared norms are BIGINT sums of
    1e-6-quantized coordinate squares; the corpus mean/variance of
    those integers come from one aggregation (sums within BIGINT
    for any corpus below ~2^63/1e12 rows — DECIMAL(38) guards the
    square sum); z-scores floor-quantize to 6dp so the threshold
    compare has no cross-engine ambiguity. Returns
    (vec_id, norm 6dp, z 6dp) for |z| >= z_threshold.
    """
    ex = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("pos", "x")
    ).select(
        "id",
        F.floor(F.col("x").cast("double") * 1_000_000).cast("bigint").alias("q"),
    )
    n2 = ex.groupBy("id").agg(F.sum(F.col("q") * F.col("q")).alias("s2"))
    stats = n2.agg(
        F.count("*").alias("n"),
        F.sum("s2").cast("decimal(38,0)").alias("sm"),
        F.sum(F.col("s2").cast("decimal(38,0)") * F.col("s2")).alias("sq"),
    )
    z_num = F.col("s2").cast("double") - F.col("mean_s2")
    return (
        n2.crossJoin(F.broadcast(stats))
        .withColumn("mean_s2", F.col("sm").cast("double") / F.col("n"))
        .withColumn(
            "std_s2",
            F.sqrt(
                (F.col("sq").cast("double") / F.col("n"))
                - (F.col("sm").cast("double") / F.col("n"))
                * (F.col("sm").cast("double") / F.col("n"))
            ),
        )
        .withColumn(
            "z",
            F.when(
                F.col("std_s2") > 0,
                F.floor(z_num / F.col("std_s2") * 1_000_000).cast("bigint")
                / 1_000_000.0,
            ).otherwise(F.lit(0.0)),
        )
        .filter(F.abs(F.col("z")) >= z_threshold)
        .select(
            F.col("id").alias(id_col),
            F.round(F.sqrt(F.col("s2").cast("double")) / 1_000_000.0, 6).alias(
                "norm"
            ),
            "z",
        )
    )

def ann_lsh_multiprobe_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al. 2007): each query probes its
    own hyperplane-sign bucket PLUS the n_planes single-bit-flip
    neighbor buckets — the buckets a near neighbor most likely fell
    into when one projection straddled zero. The candidate set
    STRICTLY CONTAINS single-probe ann_lsh_topk's (flip 0 is the
    identity probe; pytest-pinned), which is the standard way to buy
    recall without multiplying hash tables.

    Shape: the index side keeps ONE bucket per vector; only the
    query side fans out (n_planes + 1 probe keys), so the join input
    grows linearly in probes while the index stays put — at scale
    the index is the big side and this is the cheap direction to
    fan out. Each (query, neighbor) pair arises at most once (a
    neighbor lives in exactly one bucket and probe keys are
    distinct), so no dedup pass is needed.
    """
    from pyspark.sql import Window

    # per-vector norm hoist, as in ann_lsh_topk (identical doubles)
    with_bucket = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("bucket", lsh_bucket_col(F.col("v"), n_planes))
        .withColumn("nv", norm(F.col("v")))
        .localCheckpoint()
    )
    flips = F.array(
        F.lit(0).cast("bigint"),
        *[F.lit(1 << p).cast("bigint") for p in range(n_planes)],
    )
    probes = with_bucket.select(
        "id", "v", "nv", "bucket", F.explode(flips).alias("flip")
    ).select(
        F.col("id"),
        F.col("v"),
        F.col("nv"),
        F.col("bucket").bitwiseXOR(F.col("flip")).alias("pb"),
    )
    pairs = (
        probes.alias("a")
        .join(
            with_bucket.alias("b"), F.col("a.pb") == F.col("b.bucket")
        )
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("query_id"),
            F.col("b.id").alias("neighbor_id"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nv") * F.col("b.nv")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return pairs.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def ann_recall_report(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    kmeans_iterations: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """Recall@k of the IVF index against the exact brute-force
    neighbor lists — the eval every ANN deployment runs before
    trusting an index (FAISS's `eval` loop as one DataFrame plan).

    Ground truth comes from brute_force_topk (block matrix-multiply,
    exact); the approximate arm is ann_ivf_topk with the same seeded
    k-means codebook the production path uses. Per-query recall is
    |approx ∩ exact| / |exact| — an integer hit count divided once,
    so the value is engine-exact. Queries the IVF path starved
    (empty probe cells) still appear, with recall 0.

    Shape at scale: both arms are the already-audited plans; the
    comparison adds one equi-join on (query_id, neighbor_id) and one
    aggregation keyed by query_id. Returns
    (query_id, n_hits, n_exact, recall).
    """
    exact = brute_force_topk(df, vec_col, id_col, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = ann_ivf_topk(
        df,
        vec_col,
        id_col,
        k=k,
        n_centroids=n_centroids,
        nprobe=nprobe,
        codebook="kmeans",
        kmeans_iterations=kmeans_iterations,
        cache_key=cache_key,
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, on=["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    base = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (
        base.join(hits, on="query_id", how="left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            F.col("n_exact").cast("int").alias("n_exact"),
            # greatest(.,1) is belt-and-braces: n_exact comes from a
            # groupBy over existing rows so it is >= 1 whenever the
            # query appears at all (a 1-row corpus yields an empty
            # report, not a zero denominator)
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / F.greatest(F.col("n_exact"), F.lit(1)),
                6,
            ).alias("recall"),
        )
    )


def matryoshka_recall(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: tuple = (8, 16, 32),
    k: int = 5,
    sample_frac: float = 0.2,
) -> DataFrame:
    """Matryoshka truncation eval: neighbor recall@k when vectors are
    cut to their first `d` dimensions, per dim budget — the curve
    that decides how far an MRL-style embedding can be truncated for
    a cheaper index before retrieval quality falls off.

    Ground truth is full-dimension brute-force top-k over a
    deterministic md5 query sample (neighbors always come from the
    FULL corpus, only queries are sampled — the standard eval
    layout); each budget reruns the same exact search on
    slice(vec, 1, d). mean_recall is total integer hits divided once
    by n_queries*k, so the output is engine-exact. Returns one row
    per budget: (dim_budget, k, n_queries, total_hits, mean_recall).

    Scale: cost is len(dims)+1 brute-force passes over
    sample_frac*N queries x N candidates — an offline eval, run on a
    sample by construction; the per-pass plan is the audited block
    matrix-multiply with no driver-side data.
    """
    frac_cut = int(sample_frac * 65536)
    sampled = df.filter(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
        ).cast("bigint")
        < frac_cut
    ).localCheckpoint()

    def _topk_ids(d: int | None) -> DataFrame:
        def cut(frame: DataFrame) -> DataFrame:
            vec = (
                F.col(vec_col) if d is None else F.slice(F.col(vec_col), 1, d)
            )
            return frame.select(F.col(id_col), vec.alias(vec_col))

        return brute_force_topk(
            cut(df), vec_col, id_col, k=k, queries=cut(sampled)
        ).select("query_id", "neighbor_id")

    sample_ids = sampled.select(F.col(id_col).alias("query_id"))
    truth = _topk_ids(None).localCheckpoint()
    out = None
    for d in dims:
        approx = _topk_ids(d)
        hits = truth.join(approx, on=["query_id", "neighbor_id"]).agg(
            F.count("*").alias("total_hits")
        )
        nq = sample_ids.agg(F.count("*").alias("n_queries"))
        row = (
            hits.crossJoin(nq)
            .select(
                F.lit(d).cast("int").alias("dim_budget"),
                F.lit(k).cast("int").alias("k"),
                F.col("n_queries").cast("bigint").alias("n_queries"),
                F.col("total_hits").cast("bigint").alias("total_hits"),
                # greatest(n,1): an empty md5 sample on a tiny corpus
                # must yield a defined 0.0, not an engine-divergent
                # null/NaN (the dedup_recall_report convention)
                F.round(
                    F.col("total_hits")
                    / (F.greatest(F.col("n_queries"), F.lit(1)) * F.lit(k)),
                    6,
                ).alias("mean_recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def quantization_recall(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    sample_frac: float = 0.2,
) -> DataFrame:
    """Int8-quantization retrieval eval: neighbor recall@k when the
    index stores the int8 codes instead of float vectors — the
    companion eval to matryoshka_recall (that one truncates
    dimensions, this one truncates precision). Decides whether the
    4x-smaller quantize_embeddings_int8 layout is retrieval-safe.

    Ground truth is full-precision brute-force top-k over the same
    deterministic md5 query sample; the approximate arm reruns the
    identical exact search on the DEQUANTIZED vectors
    x' = code * scale / 127 (scale is the 6dp-rounded per-dimension
    max-abs, so reconstruction is the same single IEEE ops in every
    engine). Returns one row: (k, n_queries, total_hits,
    mean_recall) — integer hits divided once.

    Scale: two brute-force passes over sample_frac*N queries x N
    candidates — an offline eval on a sample by construction, each
    pass the audited block matrix-multiply.
    """
    frac_cut = int(sample_frac * 65536)
    sampled = df.filter(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
        ).cast("bigint")
        < frac_cut
    ).localCheckpoint()

    deq = (
        quantize_embeddings_int8(df, vec_col, id_col)
        .withColumn("xq", F.col("code") * F.col("scale") / 127.0)
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "xq"))),
                lambda s: s["xq"],
            ).alias(vec_col)
        )
    )
    sample_keys = sampled.select(id_col)
    deq_queries = deq.join(F.broadcast(sample_keys), on=id_col)
    truth = brute_force_topk(df, vec_col, id_col, k=k, queries=sampled).select(
        "query_id", "neighbor_id"
    )
    approx = brute_force_topk(
        deq, vec_col, id_col, k=k, queries=deq_queries
    ).select("query_id", "neighbor_id")
    hits = truth.join(approx, on=["query_id", "neighbor_id"]).agg(
        F.count("*").alias("total_hits")
    )
    nq = sample_keys.agg(F.count("*").alias("n_queries"))
    return hits.crossJoin(nq).select(
        F.lit(k).cast("int").alias("k"),
        F.col("n_queries").cast("bigint").alias("n_queries"),
        F.col("total_hits").cast("bigint").alias("total_hits"),
        F.round(
            F.col("total_hits")
            / (F.greatest(F.col("n_queries"), F.lit(1)) * F.lit(k)),
            6,
        ).alias("mean_recall"),
    )


def _mining_candidates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    candidates_k: int,
    search: str,
    n_centroids: int,
    nprobe: int,
    cache_key: str | None = None,
) -> DataFrame:
    """Shared candidate arm for the contrastive miners: the exact
    block matrix-multiply search ('brute', the correctness baseline)
    or the IVF inverted-file search ('ivf', the 100-TB path — cost
    nprobe*sum(cell*|cell|) instead of n²; size n_centroids ~sqrt(N)
    per the ann_ivf_topk scale contract). Both return
    (query_id, neighbor_id, cosine) with identical 6dp rounding, so
    every downstream mining step is arm-agnostic."""
    if search == "brute":
        return brute_force_topk(df, vec_col, id_col, k=candidates_k).select(
            "query_id", "neighbor_id", "cosine"
        )
    if search == "ivf":
        return ann_ivf_topk(
            df,
            vec_col,
            id_col,
            k=candidates_k,
            n_centroids=n_centroids,
            nprobe=nprobe,
            codebook="kmeans",
            cache_key=cache_key,
        ).select("query_id", "neighbor_id", "cosine")
    raise ValueError("search must be 'brute' or 'ivf'")


def hard_negatives(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 3,
    candidates_k: int = 25,
    search: str = "brute",
    n_centroids: int = 8,
    nprobe: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every
    vector, the `k` most-similar vectors with a DIFFERENT label —
    the negatives that actually move a metric-learning loss (random
    negatives are mostly too easy to matter).

    Take the `candidates_k` nearest neighbors (search='brute' exact
    baseline, or search='ivf' for the corpus-scale inverted-file arm
    — identical downstream contract), join labels, keep cross-label
    rows, re-rank to k. A query whose whole candidate list shares
    its label yields fewer than k rows (visible, not padded).
    Returns (query_id, negative_id, cosine, rank) with the
    deterministic (cosine desc, id) order.
    """
    from pyspark.sql import Window

    labels = df.select(F.col(id_col).alias("nid"), F.col(label_col).alias("nl"))
    qlabels = df.select(F.col(id_col).alias("query_id"), F.col(label_col).alias("ql"))
    cands = _mining_candidates(
        df, vec_col, id_col, candidates_k, search, n_centroids, nprobe,
        cache_key=cache_key,
    )
    crossed = (
        cands.join(labels, on=cands["neighbor_id"] == labels["nid"])
        .join(qlabels, on="query_id")
        .filter(F.col("nl") != F.col("ql"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        crossed.withColumn("nrank", F.row_number().over(w))
        .filter(F.col("nrank") <= k)
        .select(
            "query_id",
            F.col("neighbor_id").alias("negative_id"),
            "cosine",
            F.col("nrank").cast("int").alias("rank"),
        )
    )


def triplet_training_set(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    candidates_k: int = 25,
    search: str = "brute",
    n_centroids: int = 8,
    nprobe: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """Contrastive triplet construction: for every anchor, its
    nearest SAME-label neighbor (positive) and nearest OTHER-label
    neighbor (hard negative) from one shared candidates_k-deep
    top-k pass — the (a, p, n) table a triplet/InfoNCE loss trains
    on, with the margin visible per row.

    One search pass (search='brute' exact baseline or search='ivf'
    inverted-file scale arm — same downstream contract) feeds both
    sides (the candidate list is joined to labels once), so the cost
    is exactly one search run plus two windowed re-ranks. Anchors
    whose candidate list lacks a same-label (or other-label) row
    drop out — visible, not padded. Returns (anchor_id, positive_id,
    negative_id, pos_cosine, neg_cosine, margin).
    """
    from pyspark.sql import Window

    labels = df.select(F.col(id_col).alias("nid"), F.col(label_col).alias("nl"))
    qlabels = df.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("ql")
    )
    cands = (
        _mining_candidates(
            df, vec_col, id_col, candidates_k, search, n_centroids, nprobe,
            cache_key=cache_key,
        )
        .join(labels, on=F.col("neighbor_id") == F.col("nid"))
        .join(qlabels, on="query_id")
        .localCheckpoint()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    pos = (
        cands.filter(F.col("nl") == F.col("ql"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("positive_id"),
            F.col("cosine").alias("pos_cosine"),
        )
    )
    neg = (
        cands.filter(F.col("nl") != F.col("ql"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("negative_id"),
            F.col("cosine").alias("neg_cosine"),
        )
    )
    return (
        pos.join(neg, on="query_id")
        .select(
            F.col("query_id").alias("anchor_id"),
            "positive_id",
            "negative_id",
            "pos_cosine",
            "neg_cosine",
            F.round(F.col("pos_cosine") - F.col("neg_cosine"), 6).alias(
                "margin"
            ),
        )
    )


def embedding_drift(
    df: DataFrame,
    is_reference: Column,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension embedding drift between a reference slice and
    the rest of the corpus — the monitor an embedding-backed system
    runs when the upstream encoder (or the data mix) changes: a
    per-dimension mean shift localizes WHICH directions moved, where
    a scalar centroid-cosine only says "something did".

    Per-dimension sums run on 1e-6-quantized BIGINTs (double
    summation order is engine-dependent; integer sums are not), so
    means and shifts are engine-exact at 6 dp. One posexplode + one
    (pos)-keyed aggregation — dim rows out, however large the
    corpus. Returns (pos, n_ref, n_cur, mean_ref, mean_cur, shift).
    """
    ex = df.select(
        is_reference.cast("int").alias("is_ref"),
        F.posexplode(F.col(vec_col)).alias("pos", "x0"),
    ).select(
        "is_ref",
        "pos",
        F.floor(F.col("x0").cast("double") * 1e6 + 0.5)
        .cast("bigint")
        .alias("xq"),
    )
    agg = ex.groupBy("pos").agg(
        F.sum("is_ref").cast("bigint").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("n_cur"),
        F.sum(F.col("xq") * F.col("is_ref")).alias("s_ref"),
        F.sum(F.col("xq") * (1 - F.col("is_ref"))).alias("s_cur"),
    )
    mean_ref = F.round(F.col("s_ref") / 1e6 / F.greatest("n_ref", F.lit(1)), 6)
    mean_cur = F.round(F.col("s_cur") / 1e6 / F.greatest("n_cur", F.lit(1)), 6)
    return agg.select(
        "pos",
        "n_ref",
        "n_cur",
        mean_ref.alias("mean_ref"),
        mean_cur.alias("mean_cur"),
        F.round(
            F.col("s_cur") / 1e6 / F.greatest("n_cur", F.lit(1))
            - F.col("s_ref") / 1e6 / F.greatest("n_ref", F.lit(1)),
            6,
        ).alias("shift"),
    )


def cluster_balanced_sample(
    df: DataFrame,
    frac: float = 0.25,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> DataFrame:
    """Cluster-balanced deterministic subsample: assign every vector
    to its k-means cluster, then keep the top ceil(frac * |cluster|)
    per cluster by md5(id) rank — a diversity-preserving draw (a
    uniform sample over-represents dense regions and can empty small
    clusters; per-cluster quotas keep every mode of the data alive).

    Determinism end to end: the codebook is the seeded Lloyd
    learner (memoized via cache_key), assignment ties break on cid,
    the sample order is the same seed-free md5 device every sampler
    in this repo uses. The rank window partitions BY CLUSTER.
    Returns (vec_id, cluster_id, sample_rank, cluster_size).
    """
    from pyspark.sql import Window

    cents = kmeans_codebook(
        df, vec_col, id_col, k=k, iterations=iterations, cache_key=cache_key
    )
    # assigned feeds both the size aggregation and the rank window —
    # checkpoint so the broadcast-crossJoin assignment runs once
    assigned = (
        _cc_assign(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
            cents,
        )
        .groupBy("id")
        .agg(
            F.min_by(
                F.col("cid"),
                F.struct((-F.col("cc")).alias("nc"), F.col("cid").alias("tb")),
            ).alias("cid")
        )
        .localCheckpoint()
    )
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("n"))
    w = Window.partitionBy("cid").orderBy(
        F.md5(F.col("id").cast("string")), "id"
    )
    return (
        assigned.withColumn("sr", F.row_number().over(w))
        .join(F.broadcast(sizes), on="cid")
        .filter(F.col("sr") <= F.ceil(F.col("n") * F.lit(frac)))
        .select(
            F.col("id").alias(id_col),
            F.col("cid").alias("cluster_id"),
            F.col("sr").cast("bigint").alias("sample_rank"),
            F.col("n").cast("bigint").alias("cluster_size"),
        )
    )


def label_silhouette(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Centroid silhouette per label: a = distance to the own-label
    centroid, b = distance to the nearest other-label centroid,
    s = (b - a) / max(a, b), averaged per label.

    This is the O(N * k * d) centroid variant (the scale-correct
    form — classic pairwise silhouette is O(N^2 * d) and dies at
    100 TB); centroids are the broadcastable label_centroids table.
    Engine-exact: coordinates and centroids are x1e6 BIGINTs, so
    per-(point, label) squared distances are exact integers; a/b
    selection compares those integers; the single sqrt/division per
    point happens on identical inputs, and per-point s quantizes to
    ppm before the per-label mean (partition-order-proof sums).
    """
    ex = _quantized_explode(df, vec_col, id_col, label_col)
    cents = label_centroids(df, vec_col, id_col, label_col)
    diff = F.col("q") - F.col("cq")
    d2 = (
        ex.join(F.broadcast(cents), "pos")
        .groupBy("id", "lbl", "clbl")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    per_point = d2.groupBy("id", "lbl").agg(
        F.min(F.when(F.col("clbl") == F.col("lbl"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("clbl") != F.col("lbl"), F.col("d2"))).alias("b2"),
    )
    a, b = F.sqrt(F.col("a2")), F.sqrt(F.col("b2"))
    s_ppm = F.round(
        (b - a) / F.greatest(a, b) * 1_000_000
    ).cast("bigint")
    pts = per_point.select(
        F.col("lbl").alias("label"),
        F.when(F.col("a2") == F.col("b2"), F.lit(0).cast("bigint"))
        .otherwise(s_ppm)
        .alias("s_ppm"),
    )
    return pts.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(F.sum("s_ppm") / 1_000_000.0 / F.count("*"), 6).alias(
            "mean_silhouette"
        ),
    )


def fisher_ratio(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-dimension Fisher discriminant ratio against the label
    column: (between-class SS / (k-1)) / (within-class SS / (n-k))
    — the feature-quality screen for which embedding dimensions
    separate the classes.

    Exact-arithmetic discipline: per-(dim, label) moment sums n_l,
    S_l, SS_l are BIGINTs on the x1e6 grid; the per-label scatter
    terms round to integer units before the cross-label sum (k
    bounded), so both engines aggregate identical integers and the
    ratio is one float division per dimension.
    """
    ex = _quantized_explode(df, vec_col, id_col, label_col)
    m = ex.groupBy("pos", "lbl").agg(
        F.count("*").alias("n_l"),
        F.sum("q").alias("s_l"),
        F.sum(F.col("q") * F.col("q")).alias("ss_l"),
    )
    tot = m.groupBy("pos").agg(
        F.sum("n_l").alias("n"),
        F.sum("s_l").alias("s"),
        F.count("*").alias("k"),
    )
    n_l, s_l, ss_l = F.col("n_l"), F.col("s_l"), F.col("ss_l")
    n, s = F.col("n"), F.col("s")
    w_term = F.round(ss_l - s_l * s_l * 1.0 / n_l).cast("bigint")
    mean_diff = s_l * 1.0 / n_l - s * 1.0 / n
    b_term = F.round(n_l * mean_diff * mean_diff).cast("bigint")
    agg = (
        m.join(F.broadcast(tot), "pos")
        .groupBy("pos", "n", "k")
        .agg(F.sum(w_term).alias("w"), F.sum(b_term).alias("b"))
    )
    return agg.select(
        F.col("pos").cast("int").alias("pos"),
        F.col("n").cast("bigint").alias("n_vecs"),
        F.round(
            (F.col("b") * 1.0 / (F.col("k") - 1))
            / (F.col("w") * 1.0 / (F.col("n") - F.col("k"))),
            6,
        ).alias("fisher_ratio"),
    )


def mmr_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: int = 0,
    n_candidates: int = 12,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k of the n_candidates nearest neighbors,
    trading query relevance against redundancy with what's already
    picked — the diversity re-ranker RAG retrieval stacks run after
    ANN. score = lam * sim(q, d) - (1 - lam) * max_{s in S} sim(d, s).

    Distribution contract: candidate generation and the candidate
    pairwise-similarity matrix are Spark dataflow (one broadcast
    query pass + one n_candidates-bounded self-join); only the
    greedy selection itself — inherently sequential, over the
    n_candidates^2-BOUNDED sim table (144 rows at the default) —
    runs on the driver, the same bounded-collect class as the
    TakeOrdered sites. At 100 TB the candidate pass is the ANN
    index probe; the driver step stays k^2.

    Engine-exact: similarities quantize to 6dp (the brute_force_topk
    convention) BEFORE selection, so scores compare identical
    doubles; ties break to the smaller id; the emitted mmr_score
    rounds half-away like both SQL engines.
    """
    import math

    spark = df.sparkSession
    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qe")
    )
    cands = (
        df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("id"),
            F.round(cosine(F.col(vec_col), F.col("qe")), 6).alias("simq"),
            F.col(vec_col).alias("e"),
        )
        .orderBy(F.col("simq").desc(), "id")
        .limit(n_candidates)
    )
    a, b = cands.alias("a"), cands.alias("b")
    # bounded: n_candidates^2 rows by construction (post-limit frame)
    sims = (
        a.join(b, F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            F.round(cosine(F.col("a.e"), F.col("b.e")), 6).alias("s"),
        )
        .collect()
    )
    simq = {r["id"]: r["simq"] for r in cands.select("id", "simq").collect()}
    pair = {(r["ia"], r["ib"]): r["s"] for r in sims}

    def half_away(x: float, d: int = 6) -> float:
        scale = 10.0 ** d
        return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale

    selected: list[tuple[int, int, float, float, float]] = []
    remaining = sorted(simq)
    while remaining and len(selected) < k:
        best = None
        for cid in remaining:
            ms = max(
                (pair[(cid, s[1])] for s in selected), default=0.0
            )
            score = lam * simq[cid] - (1 - lam) * ms
            # strict > : ties resolve to the smallest id (sort order)
            if best is None or score > best[0]:
                best = (score, cid, ms)
        score, cid, ms = best
        selected.append(
            (len(selected) + 1, cid, simq[cid], ms, half_away(score))
        )
        remaining.remove(cid)
    return literal_frame(
        spark,
        selected,
        "rank int, vec_id long, relevance double, "
        "max_sim_selected double, mmr_score double",
    )
