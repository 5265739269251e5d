"""Corpus composition operators: per-source caps, deterministic
sampling, and sequence packing — the selection / layout steps a
training-data pipeline runs AFTER dedup + quality scoring.

All decisions are pure functions of md5 over stable keys (no RNG, no
row order dependence), so every operator is exactly reproducible
across engines and cluster sizes, and each query has a full DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from onionnet_spark.core import literal_frame


def cap_per_source(
    df: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most `cap` documents per source (domain), selected by
    a deterministic md5 lottery — the standard anti-boilerplate /
    domain-balance step (C4 and RefinedWeb cap per-domain pages so
    one crawler-friendly site can't dominate the mix).

    Rank = row_number over (source, ORDER BY md5(id), id): an
    unbiased, seedless shuffle within each source. The window
    partitions by source, so the single shuffle keys on source;
    a pathologically hot source is still one partition's sort —
    at 100 TB cap hot sources in two phases (per-salt prefilter to
    ~cap rows, then exact rank) before the global pass.

    Returns (id, source, sel_rank) for the kept rows.
    """
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(source_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.select(F.col(id_col), F.col(source_col), h.alias("h"))
        .withColumn("sel_rank", F.row_number().over(w))
        .filter(F.col("sel_rank") <= cap)
        .select(id_col, source_col, "sel_rank")
    )


def hash_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic corpus subsample: keep a row iff the first 8 hex
    chars of md5(id) fall below fraction * 16^8. Unlike
    DataFrame.sample this is seed-free, stable under repartitioning,
    and reproducible in any engine with md5 — the property that
    matters when a sample must be recomputable months later.

    Pure map-side filter (no shuffle); the filter rate concentrates
    around `fraction` with binomial deviation.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    thr = format(int(fraction * 16**8), "08x")
    return df.filter(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8) < thr
    )


def pack_sequences(
    df: DataFrame,
    context_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in
    id order into a single token stream and cut into fixed
    `context_len` windows (the GPT-style pretraining layout; docs may
    straddle window boundaries). Returns, per document, its place in
    the packed stream:

      (id, n_tokens, start_offset, first_seq, last_seq)

    with first_seq = floor(start/L), last_seq = floor((start+n-1)/L).

    The global prefix sum is computed in TWO PHASES so no single task
    ever sees the whole corpus: range-partition by id and cumsum
    within each partition, then collect only the P per-partition
    totals (P rows — driver-trivial), broadcast the exclusive
    partition offsets back, and add. This is the textbook
    distributed scan; a bare Window.orderBy(id) would move 100 TB
    through one reducer.
    """
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    toks = df.select(F.col(id_col).alias("id"), n_tok.alias("n_tokens"))
    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        toks.repartitionByRange(nparts, "id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # P per-partition totals -> exclusive running offsets (tiny).
    totals = {
        r["pid"]: r["tot"]
        for r in part.groupBy("pid").agg(F.sum("n_tokens").alias("tot")).collect()
    }
    offsets, running = [], 0
    for pid in sorted(totals):
        offsets.append((pid, running))
        running += totals[pid]
    off_df = literal_frame(spark, offsets, "pid int, part_offset bigint")
    w = Window.partitionBy("pid").orderBy("id")
    return (
        part.join(F.broadcast(off_df), on="pid")
        .withColumn(
            "start_offset",
            F.col("part_offset")
            + F.sum("n_tokens").over(w)
            - F.col("n_tokens"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("start_offset").cast("bigint").alias("start_offset"),
            F.floor(F.col("start_offset") / context_len).alias("first_seq"),
            F.floor(
                (F.col("start_offset") + F.col("n_tokens") - 1) / context_len
            ).alias("last_seq"),
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-n-per-stratum deterministic sample: within each
    stratum, rows rank by the md5 of their id (a seedless lottery —
    reproducible across runs and partitionings, unlike `sample()`'s
    RNG) and the first n win. One shuffle on the stratum key; the
    rank window runs per-stratum, so no global ordering exists
    anywhere in the plan.

    Skew note: a hot stratum concentrates its window in one task.
    n_per_stratum bounds the OUTPUT, not the window input — for
    hot-key-heavy strata at 100 TB, pre-thin with `hash_sample` at
    a few-x oversample rate, then rank exactly.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def grouped_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: Column | str,
    percentiles: list[float] = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Exact interpolated percentiles of `value_col` per group —
    the per-domain length/quality distribution a curation pipeline
    monitors. One shuffle on the group key; `percentile` computes
    all requested points in a single sort-based aggregation. The
    100 TB drop-in is `approx_percentile` (Greenwald-Khanna, fixed
    memory, mergeable) — same call shape.
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    aggs = [
        F.round(F.expr(
            f"percentile({'_pv'}, {p})"
        ), 6).alias(f"p{int(p * 100)}")
        for p in percentiles
    ]
    return (
        df.withColumn("_pv", v)
        .groupBy(group_col)
        .agg(F.count("*").cast("bigint").alias("n"), *aggs)
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Column profiling: one output row per column with null count,
    exact distinct count, and min/max (as strings — type-erased so
    heterogeneous columns stack). The `ANALYZE`-shaped primitive for
    corpus intake.

    Single pass over the data: all per-column aggregates run in one
    job (no per-column scans); distinct counts expand via Spark's
    multi-count-distinct Expand, which is the standard exact plan.
    At 100 TB swap count_distinct for approx_count_distinct — one
    line, same output schema.
    """
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
        ]
    row = df.agg(F.count("*").alias("__total"), *aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                (F.col("__total") - F.col(f"{c}__nn")).cast("bigint").alias("n_null"),
                F.col(f"{c}__nd").cast("bigint").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_value"),
                F.col(f"{c}__mx").alias("max_value"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(per_col).alias("p")).select("p.*")


def numeric_histogram(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram of a numeric column: bucket index in
    [0, n_buckets) over [lo, hi) (bounds default to the observed
    min/max, computed in the same job via a broadcast 1-row
    aggregate). Values at exactly `hi` fold into the top bucket,
    the usual closed-right convention. With EXPLICIT bounds, rows
    outside [lo, hi] are excluded — previously (ADVICE r2) a value
    below lo produced a negative bucket index and a value above hi
    silently folded into the top bucket, both violating the
    [0, n_buckets) contract. One aggregation for bounds, one shuffle
    on the (tiny) bucket key — profiling cost is a scan, never a
    sort.
    """
    v = F.col(value_col).cast("double")
    if lo is None or hi is None:
        bounds = df.agg(
            F.min(value_col).cast("double").alias("_lo"),
            F.max(value_col).cast("double").alias("_hi"),
        )
        with_b = df.crossJoin(F.broadcast(bounds))
    else:
        with_b = df.withColumn("_lo", F.lit(float(lo))).withColumn(
            "_hi", F.lit(float(hi))
        ).filter((v >= float(lo)) & (v <= float(hi)))
    width = (F.col("_hi") - F.col("_lo")) / n_buckets
    # degenerate range (all values equal): everything lands in
    # bucket 0 instead of an ANSI divide-by-zero; greatest(0, ...)
    # guards the floor against float round-down at v == lo
    idx = F.when(width > 0, F.greatest(F.lit(0), F.least(
        F.floor((v - F.col("_lo")) / width).cast("int"), F.lit(n_buckets - 1)
    ))).otherwise(F.lit(0))
    return (
        with_b.filter(v.isNotNull())
        .groupBy(idx.alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .join(
            with_b.select(F.col("_lo"), F.col("_hi")).limit(1), how="cross"
        )
        .select(
            "bucket",
            F.round(F.col("_lo") + F.col("bucket") * width, 6).alias("bucket_lo"),
            F.round(F.col("_lo") + (F.col("bucket") + 1) * width, 6).alias(
                "bucket_hi"
            ),
            "n",
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    seed: str = "w0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, top-n by the
    Efraimidis–Spirakis key: each row draws u in (0,1] from a seeded
    md5 (deterministic, engine-reproducible) and ranks by
    ln(u)/weight — the classic one-pass distributed weighted sample
    (a row with twice the weight is twice as likely to make the
    cut, exactly). Rows with weight <= 0 are excluded.

    Scale shape: the draw and key are map-side; selection is a
    TakeOrdered top-n (no global sort shuffle). This is the
    quality-weighted corpus subsample: weight by a quality score and
    the sample tilts toward better documents while every document
    keeps a nonzero chance.

    Cross-engine stability: ln() is not a correctly-rounded IEEE op,
    so JVM Math.log and libm can differ by 1 ulp. The selection key is
    therefore floor-quantized to an integer 1e-6 grid (divergence now
    needs the true key within 1 ulp of a grid line, ~1e-10/row,
    instead of any decimal ROUND half-way boundary) and ties on the
    quantized key break by id — the same fix the PQ residual paths
    use for continuous-double ordering.
    """
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    hv = F.conv(F.substring(h, 1, 12), 16, 10).cast("double")
    u = (hv + 1.0) / float((1 << 48) + 1)
    w = F.col(weight_col).cast("double")
    key_q = F.floor(F.log(u) / w * F.lit(1000000.0)).cast("bigint")
    return (
        df.filter(w > 0)
        .select(
            F.col(id_col),
            w.alias("weight"),
            key_q.alias("sel_key"),
        )
        .orderBy(F.col("sel_key").desc(), F.col(id_col))
        .limit(n)
    )


def key_skew_report(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """Join/aggregation-key skew diagnostic: the top `top_n` hottest
    keys with their row counts, share of the table, and skew factor
    vs the mean key (n_rows * n_keys / total — the multiple of an
    even spread this key carries). This is the report you run BEFORE
    choosing a shuffle strategy: skew_vs_mean >> 1 on the join key
    means AQE skew splitting or explicit salting; ~1 means plain
    hash partitioning is fine.

    Shape: one groupBy on the key, a broadcast 1-row total, and a
    TakeOrdered limit for the top-N (no global sort shuffle). Ties
    break by key ascending so the report is deterministic.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count("*").alias("n_rows")
    )
    tot = counts.agg(
        F.sum("n_rows").alias("_total"), F.count("*").alias("_n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .orderBy(F.desc("n_rows"), "key")
        .limit(top_n)
        .select(
            "key",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.col("_n_keys") / F.col("_total"), 6
            ).alias("skew_vs_mean"),
        )
    )


def column_correlations(
    df: DataFrame, columns: list[str]
) -> DataFrame:
    """Pairwise Pearson correlations between numeric columns, one
    output row per (col_a < col_b) pair — the profiling companion to
    `profile_table`.

    Computed from EXACT sums: each value is cast to DECIMAL(18,6)
    (a deterministic rounding of the same IEEE double in every
    engine) and the per-pair sums (n, Σx, Σy, Σxy, Σx², Σy²)
    accumulate in decimal — order-independent, bit-identical across
    engines — in ONE aggregation pass. Only the final combination
    r = (nΣxy - ΣxΣy) / sqrt((nΣx² - (Σx)²)(nΣy² - (Σy)²))
    runs in double, on identical inputs, so the rounded r is
    engine-stable (a double-summed Σx² at ~1e14 magnitude would
    differ across summation orders by whole units — the decimal
    accumulation is what makes this hashable). Zero-variance
    columns yield NULL r (guarded, no ANSI division error).

    NULL handling (ADVICE r2): every statistic — including n and the
    single-column sums — is accumulated per PAIR over the
    pairwise-complete rows (both sides non-NULL), the standard
    pairwise-deletion Pearson. A single shared count(*) with
    NULL-skipping sums would silently skew r on any column with
    NULLs. Still ONE aggregation pass; 6 aggregates per pair.

    The decimal casts/products are PRE-PROJECTED once per row and the
    aggregates are plain sums over the projected columns (r10): with
    the expressions inlined in the agg list, every aggregate update
    re-evaluated its cast+multiply inside the (BigDecimal-boxed,
    non-codegen-friendly) aggregation loop — measured 2x slower on
    the 21-aggregate nulls variant. Identical expressions, identical
    decimal math, same single pass.
    """
    if len(columns) < 2:
        # no pairs to correlate: empty result with the output schema
        # (df.agg(*[]) would raise on zero expressions)
        return literal_frame(
            df.sparkSession, [], "col_a string, col_b string, r double"
        )
    proj, names = [], []
    for i, a in enumerate(columns):
        for b in columns[i + 1:]:
            va = F.col(a).cast("decimal(18,6)")
            vb = F.col(b).cast("decimal(18,6)")
            both = F.col(a).isNotNull() & F.col(b).isNotNull()
            p = f"{a}_{b}"
            proj.extend(
                [
                    F.when(both, 1).otherwise(0).alias(f"_n_{p}"),
                    F.when(both, va).alias(f"_sa_{p}"),
                    F.when(both, vb).alias(f"_sb_{p}"),
                    F.when(both, va * va).alias(f"_qa_{p}"),
                    F.when(both, vb * vb).alias(f"_qb_{p}"),
                    F.when(both, va * vb).alias(f"_x_{p}"),
                ]
            )
            names.extend(
                [f"_n_{p}", f"_sa_{p}", f"_sb_{p}",
                 f"_qa_{p}", f"_qb_{p}", f"_x_{p}"]
            )
    row = df.select(*proj).agg(*[F.sum(c).alias(c) for c in names])

    def d(name: str):
        return F.col(name).cast("double")

    pairs = []
    for i, a in enumerate(columns):
        for b in columns[i + 1:]:
            p = f"{a}_{b}"
            n = d(f"_n_{p}")
            num = n * d(f"_x_{p}") - d(f"_sa_{p}") * d(f"_sb_{p}")
            da = n * d(f"_qa_{p}") - d(f"_sa_{p}") * d(f"_sa_{p}")
            db = n * d(f"_qb_{p}") - d(f"_sb_{p}") * d(f"_sb_{p}")
            r = F.when(
                (da > 0) & (db > 0), F.round(num / F.sqrt(da * db), 6)
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"), F.lit(b).alias("col_b"), r.alias("r")
                )
            )
    return row.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")


def global_rank_range(
    df: DataFrame,
    order_exprs: list[Column],
    rank_col: str = "rank",
    zero_based: bool = False,
) -> DataFrame:
    """Exact global ROW_NUMBER over an arbitrary (possibly desc,
    possibly multi-column) total order WITHOUT a global window — the
    range-partitioned two-phase scan (same shape as `pack_sequences`
    and encoding.build_dictionary):

      1. `repartitionByRange` on the order expressions — partition i
         holds rows strictly before partition i+1 in the total order
         (composite keys split ties, so a heavy tie group — e.g. the
         Zipf c=1 token mass — still spreads across partitions);
      2. `row_number` within each partition (every window is ~1/P of
         the data);
      3. per-partition counts collect to the driver (P rows —
         trivial), prefix-sum into exclusive offsets, broadcast
         back; global rank = offset + local rank.

    The partition assignment is pinned with `localCheckpoint` so the
    offsets and the ranked rows see the same boundaries; the offset
    scan is driver-side (the pack_sequences pattern), so the plan
    contains NO unpartitioned window at all. Output is identical to
    ROW_NUMBER() OVER (ORDER BY ...) at any partition count; the
    order must be total (include a tiebreaker column) for the result
    to be deterministic.
    """
    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        df.repartitionByRange(nparts, *order_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_in = Window.partitionBy("_pid").orderBy(*order_exprs)
    ranked = part.withColumn("_r_in", F.row_number().over(w_in))
    sizes = {
        r["_pid"]: r["_n"]
        for r in part.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    }
    rows, running = [], 0
    for pid in sorted(sizes):
        rows.append((pid, running))
        running += sizes[pid]
    offsets = literal_frame(spark, rows or [(0, 0)], "_pid int, _off bigint")
    base = -1 if zero_based else 0
    return (
        ranked.join(F.broadcast(offsets), on="_pid")
        .withColumn(
            rank_col,
            (F.col("_off") + F.col("_r_in") + F.lit(base)).cast("bigint"),
        )
        .drop("_pid", "_r_in", "_off")
    )


def global_rank(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_buckets: int = 32,
    rank_col: str = "rank",
) -> DataFrame:
    """Exact global dense ranking by (value, id) WITHOUT a global
    window: the distributed two-phase pattern.

      1. exact percentile cut-points split values into `n_buckets`
         range buckets (1-row aggregate, broadcast);
      2. rows rank within their bucket (window partitioned by
         bucket — every partition is ~1/B of the data);
      3. bucket row-counts (a B-row table) prefix-sum into offsets;
         global rank = bucket offset + within-bucket rank.

    Equal values always share a bucket (assignment depends on the
    value alone), so bucket order is consistent with the (value, id)
    total order and the composed rank is exact. This is the
    scale-safe replacement for `ROW_NUMBER() OVER (ORDER BY ...)`,
    whose single-partition window is the classic driver-shaped
    bottleneck.
    """
    from pyspark.sql import Window

    fracs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    cuts = df.agg(
        F.expr(f"percentile({value_col}, array({fracs}))").alias("_cuts")
    )
    b = F.lit(0)
    for i in range(1, n_buckets):
        b = b + F.when(
            F.col(value_col) > F.element_at(F.col("_cuts"), i), 1
        ).otherwise(0)
    bucketed = df.crossJoin(F.broadcast(cuts)).withColumn(
        "_bkt", b.cast("int")
    )
    w_in = Window.partitionBy("_bkt").orderBy(F.col(value_col), F.col(id_col))
    # NO internal checkpoint here: materializing `ranked` was A/B'd in
    # r10 and lost on every cheap-input caller (graph_degree_gini min
    # 3.16 -> 4.88s, events_user_lorenz 1.58 -> 1.78) — the eager
    # barrier costs more than the replays it saves. Callers whose
    # input is expensive (tokenizing scorers) checkpoint THAT input
    # instead (see corpus_selection_curve).
    ranked = bucketed.withColumn("_r_in", F.row_number().over(w_in))
    sizes = ranked.groupBy("_bkt").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )  # bounded: n_buckets rows (the per-bucket size table)
    offsets = sizes.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_bkt", "_off")
    return (
        ranked.join(F.broadcast(offsets), on="_bkt")
        .withColumn(rank_col, (F.col("_off") + F.col("_r_in")).cast("bigint"))
        .drop("_bkt", "_r_in", "_off", "_cuts")
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    seed: str = "s0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global corpus shuffle + shard layout — the last
    step before a training run writes its data: every document gets a
    pseudo-random global position (seeded, reproducible) and shards
    are dealt round-robin from that order, so (a) each shard is an
    unbiased sample of the corpus and (b) shard sizes differ by at
    most one document.

    Position = exact global rank of (md5(seed:id) as a 48-bit int,
    id). The rank is computed with the two-phase bucketed
    `global_rank` (percentile cut-points -> per-bucket windows ->
    offset compose), NOT a single-partition ROW_NUMBER window — the
    md5 keys are uniform, so every bucket holds ~1/B of the corpus
    and the plan has no global sort anywhere. shard = pos % n_shards,
    pos_in_shard = pos // n_shards: a downstream writer can
    partitionBy(shard) + sortWithinPartitions(pos_in_shard) and
    stream each shard in order.

    Seeded md5 (not Spark's rand) keeps the layout engine- and
    partitioning-independent: the same corpus + seed reproduces the
    same shard assignment anywhere, months later.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    keyed = df.select(
        F.col(id_col),
        F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint").alias("_hv"),
    )
    ranked = global_rank(keyed, "_hv", id_col, rank_col="_rank")
    pos = F.col("_rank") - 1
    return ranked.select(
        F.col(id_col),
        (pos % n_shards).cast("int").alias("shard"),
        F.floor(pos / n_shards).cast("bigint").alias("pos_in_shard"),
    )


def mixture_allocation(
    docs: DataFrame,
    budget_tokens: int,
    alpha: float = 1.0,
    cap_frac: float = 0.5,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Quality-weighted token-budget allocation across sources — the
    training-mix primitive: given a global token budget, how many
    tokens to draw from each corpus source.

    Per source s: avail_s = total whitespace tokens, q_s = mean
    heuristic quality (functions/text.quality_score). The raw share
    is proportional to q_s^alpha * avail_s (alpha tilts the mix
    toward higher-quality sources; alpha=0 is availability-
    proportional). The allocation is the single-pass
    alloc_s = min(avail_s, floor(cap_frac * budget),
                  floor(budget * share_s)) — per-source caps are
    applied AFTER proportional split, and freed budget is NOT
    re-distributed (single-pass semantics keep the result a pure
    aggregation; an iterative water-filling refinement would bolt on
    behind the same contract).

    Shape: one groupBy(source) over per-doc stats, one broadcast of
    the 1-row weight total — no shuffle beyond the per-source
    aggregate, no driver-side data. Returns (source, n_docs,
    avail_tokens, mean_quality, weight, alloc_tokens, sample_frac)
    with weight/sample_frac rounded to 6 dp.
    """
    from onionnet_spark.functions.text import quality_score

    q = quality_score(docs, text_col=text_col)
    per_doc = docs.select(source_col, "doc_id").join(q, on="doc_id")
    per_src = per_doc.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("avail_tokens"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
    )
    raw_w = F.pow(F.col("mean_quality"), F.lit(float(alpha))) * F.col("avail_tokens")
    per_src = per_src.withColumn("raw_w", raw_w)
    total = per_src.agg(F.sum("raw_w").alias("tot_w"))
    cap = int(cap_frac * budget_tokens)
    out = (
        per_src.crossJoin(F.broadcast(total))
        .withColumn("weight", F.round(F.col("raw_w") / F.col("tot_w"), 6))
        .withColumn(
            "alloc_tokens",
            F.least(
                F.col("avail_tokens"),
                F.lit(cap).cast("bigint"),
                F.floor(F.lit(float(budget_tokens)) * F.col("raw_w") / F.col("tot_w")).cast(
                    "bigint"
                ),
            ),
        )
        .withColumn(
            "sample_frac",
            F.round(F.col("alloc_tokens") / F.col("avail_tokens"), 6),
        )
        .select(
            source_col,
            "n_docs",
            "avail_tokens",
            "mean_quality",
            "weight",
            "alloc_tokens",
            "sample_frac",
        )
    )
    return out

def count_min_topk(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    k: int = 20,
) -> DataFrame:
    """Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005)
    with DETERMINISTIC row hashes, which makes this sketch fully
    oracle-checkable — unusual for sketch code and the reason it is
    not a rows-only gate like HLL: bucket_i(key) folds the first six
    md5 hex chars of "i|key" to digits (the translate trick — no hex
    cast needed in either engine) mod `width`.

    Two passes, both sketch-shaped at 100 TB: the sketch itself is
    depth x width counters built with map-side partial aggregation
    (the exchange carries at most depth*width rows per task); the
    query side re-hashes the DISTINCT keys, joins the broadcast
    sketch, and takes min over the depth rows. est >= exact always
    (CMS never underestimates); est - exact is the collision noise
    the width buys down. Returns the top-k keys by estimate:
    (key, est, exact).
    """
    key = F.col(key_col).cast("string")
    rows = df.select(key.alias("k"))

    def bucket(i: int) -> Column:
        fold = F.translate(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}|"), F.col("k"))), 1, 6
            ),
            "abcdef",
            "012345",
        )
        return (fold.cast("int") % width).alias("b")

    hashes = F.explode(
        F.array(
            *[F.struct(F.lit(i).alias("i"), bucket(i)) for i in range(depth)]
        )
    ).alias("ib")
    sketch = (
        rows.select(hashes)
        .groupBy(F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    keys = rows.groupBy("k").agg(F.count("*").cast("bigint").alias("exact"))
    est = (
        keys.select("k", "exact", hashes)
        .select("k", "exact", F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
        .join(F.broadcast(sketch), on=["i", "b"])
        .groupBy("k", "exact")
        .agg(F.min("c").cast("bigint").alias("est"))
    )
    return (
        est.orderBy(F.desc("est"), "k")
        .limit(k)
        .select(F.col("k").alias("key"), "est", "exact")
    )

def skyline_2d(
    df: DataFrame, x_col: str, y_col: str, keep_cols: list[str]
) -> DataFrame:
    """2-D skyline (Pareto frontier, minimize both): a row survives
    iff no other row is <= on both dimensions and strictly < on at
    least one. Classic multi-criteria shortlist (cheapest-smallest
    parts, fastest-cheapest suppliers).

    Distributed shape — NOT the quadratic NOT-EXISTS the semantics
    suggest: reduce to per-x min(y) (one keyed aggregation;
    |distinct x| rows), take the strictly-decreasing prefix of that
    bounded series (the only window runs over the aggregated series,
    never the data), and broadcast the surviving (x, y) frontier
    back onto the rows. Ties on both dimensions are mutually
    non-dominating and all kept. The DuckDB oracle IS the quadratic
    dominance definition, so the reduction itself is what the hash
    gate proves.
    """
    agg = df.groupBy(x_col).agg(F.min(y_col).alias("_miny"))
    # bounded: one row per distinct x (e.g. ~50 part sizes)
    w = Window.orderBy(x_col).rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        agg.withColumn("_prev", F.min("_miny").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_miny") < F.col("_prev")))
        .select(F.col(x_col).alias("_fx"), "_miny")
    )
    return (
        df.join(
            F.broadcast(frontier),
            on=[
                F.col(x_col) == F.col("_fx"),
                F.col(y_col) == F.col("_miny"),
            ],
        )
        .select(*keep_cols)
    )

def fd_profile(
    df: DataFrame, pairs: list[tuple[str, str]]
) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs
    (the Metanome/data-profiling primitive behind schema inference):
    A -> B holds iff every A value maps to exactly one B value, i.e.
    COUNT(DISTINCT A) == COUNT(DISTINCT (A, B)). Reports, per pair,
    the two distinct counts, whether the FD holds, and the number of
    VIOLATING determinant values (A values with >1 distinct B).

    One aggregation pass per candidate pair over (A, B) — shuffles
    key on the determinant, the candidate list is schema-sized. At
    100 TB swap exact distincts for HLL per the approx twins'
    pattern; the exact version IS the oracle surface.
    """
    outs = []
    for a, b in pairs:
        per_det = (
            df.select(F.col(a).alias("det"), F.col(b).alias("dep"))
            .groupBy("det")
            .agg(F.countDistinct("dep").alias("n_dep"))
        )
        outs.append(
            per_det.agg(
                F.lit(a).alias("determinant"),
                F.lit(b).alias("dependent"),
                F.count("*").cast("bigint").alias("n_det_values"),
                F.sum("n_dep").cast("bigint").alias("n_det_dep_pairs"),
                (F.max("n_dep") <= 1).alias("fd_holds"),
                F.sum((F.col("n_dep") > 1).cast("int"))
                .cast("bigint")
                .alias("n_violating_values"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def inclusion_profile(
    dfs: dict[str, DataFrame], candidates: list[tuple[str, str, str, str]]
) -> DataFrame:
    """Inclusion-dependency (foreign-key) discovery across tables:
    for each candidate (child_table, child_col, parent_table,
    parent_col), counts the child's distinct values missing from the
    parent — 0 missing = the inclusion holds (an FK candidate).

    Each candidate is one distinct-project per side plus a LEFT ANTI
    join on the value — the classic scalable IND check (never a
    row-level join). The candidate list is schema-sized.
    """
    outs = []
    for ct, cc, pt, pc in candidates:
        child = dfs[ct].select(F.col(cc).cast("string").alias("v")).distinct()
        parent = dfs[pt].select(F.col(pc).cast("string").alias("v")).distinct()
        missing = child.join(parent, on="v", how="left_anti")
        outs.append(
            child.agg(
                F.lit(f"{ct}.{cc}").alias("child"),
                F.lit(f"{pt}.{pc}").alias("parent"),
                F.count("*").cast("bigint").alias("n_child_values"),
            ).crossJoin(
                missing.agg(
                    F.count("*").cast("bigint").alias("n_missing"),
                    (F.count("*") == 0).alias("inclusion_holds"),
                )
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out

# Benford expected first-digit shares log10(1 + 1/d), 6 dp — shared
# literals on both engine sides so no cross-engine log10 boundary
# can flake the comparison.
BENFORD_EXPECTED_6DP = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


def benford_profile(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of a positive
    numeric column — the classic fraud / synthetic-data smell test.
    The digit is taken from the decimal STRING form (portable: no
    float log10 anywhere near a boundary); expected shares are fixed
    6dp literals. One map-side-partial aggregation to 9 rows.
    Returns (digit, n, share, expected_share, deviation).
    """
    digit = F.substring(F.col(value_col).cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(value_col) >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    expected = F.create_map(
        *[
            x
            for d, s in BENFORD_EXPECTED_6DP.items()
            for x in (F.lit(d), F.lit(s))
        ]
    )
    total = counts.agg(F.sum("n").alias("_tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.col("n") / F.col("_tot")).alias("share"),
            F.element_at(expected, F.col("digit")).alias("expected_share"),
        )
        .withColumn("deviation", F.col("share") - F.col("expected_share"))
    )


def grouped_mad(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Median absolute deviation per group — the robust spread
    monitor (outlier-proof, unlike stddev). Two exact interpolated
    percentile passes: the per-group median, broadcast back, then
    the median of absolute deviations. Both shuffles key on the
    group; the 100 TB drop-in is approx_percentile in both passes.
    Returns (group, n, median, mad).
    """
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    return (
        df.join(F.broadcast(med), on=group_col)
        .withColumn("_ad", F.abs(F.col(value_col) - F.col("_med")))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.first("_med"), 6).alias("median"),
            F.round(F.expr("percentile(_ad, 0.5)"), 6).alias("mad"),
        )
    )

def binary_auc(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Exact ROC AUC (Mann-Whitney U with tie-AVERAGED ranks) of a
    score against a binary label — the classifier-eval primitive,
    computed WITHOUT ranking individual rows: group by distinct
    score (the only window runs over the score-value series, bounded
    by the score grid, never the corpus), accumulate doubled average
    ranks as exact integers (2*avg_rank of a tie group = 2*cum_before
    + n_group + 1 — integral by construction), and finish with ONE
    IEEE division. Returns a single row (n_pos, n_neg, auc_num,
    auc_den, auc) with auc_num/auc_den the exact rational.
    """
    g = (
        df.select(
            F.col(score_col).alias("s"),
            F.col(label_col).cast("boolean").cast("int").alias("y"),
        )
        # NULL scores are unrankable — and Spark (NULLS FIRST) and
        # DuckDB (NULLS LAST) would order them differently anyway
        .filter(F.col("s").isNotNull())
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    # bounded: one row per DISTINCT score value
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn("cum", F.coalesce(F.sum("n").over(w), F.lit(0)))
    return ranked.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("pos")).cast("long").alias("n_neg"),
        (
            F.sum(F.col("pos") * (2 * F.col("cum") + F.col("n") + 1))
            - F.sum("pos") * (F.sum("pos") + 1)
        ).cast("long").alias("auc_num"),
        (2 * F.sum("pos") * (F.sum("n") - F.sum("pos")))
        .cast("long")
        .alias("auc_den"),
    ).withColumn("auc", F.col("auc_num") / F.col("auc_den"))

def histogram_split_finding(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_bins: int = 16,
) -> DataFrame:
    """Histogram-based best-split search — the inner loop of every
    modern GBDT trainer (LightGBM/XGBoost hist mode): bucket each
    feature into `n_bins` equi-width bins, aggregate per-bin
    (count, positives) with map-side partials, prefix-sum over the
    BIN series (bounded: n_bins rows per feature — the whole point
    of histogram splitting is that split search never touches row
    data again), and score every split boundary by the integer
    rate-gap criterion |pos_L*n_R - pos_R*n_L| (monotone in
    |p_L - p_R|; exact, no float impurity). Ties break to the lower
    bin. Splits with an empty side are not candidates.

    Returns one row per feature: (feature, split_bin, n_left,
    pos_left, n_right, pos_right, gap_score) — split_bin is the
    last bin of the LEFT side.
    """
    outs = []
    for f in feature_cols:
        x = F.col(f).cast("double")
        stats = df.agg(
            F.min(x).alias("mn"), F.max(x).alias("mx"),
        )
        binned = (
            df.select(x.alias("x"), F.col(label_col).cast("int").alias("y"))
            .crossJoin(F.broadcast(stats))
            .select(
                F.when(
                    F.col("mx") > F.col("mn"),
                    F.least(
                        F.lit(n_bins - 1),
                        F.floor(
                            (F.col("x") - F.col("mn"))
                            * n_bins
                            / (F.col("mx") - F.col("mn"))
                        ),
                    ),
                )
                .otherwise(0)
                .cast("int")
                .alias("b"),
                "y",
            )
        )
        hist = binned.groupBy("b").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
        # bounded: n_bins rows per feature
        w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
        pref = hist.select(
            "b",
            F.sum("n").over(w).alias("cn"),
            F.sum("pos").over(w).alias("cp"),
        )
        tot = hist.agg(
            F.sum("n").alias("tn"), F.sum("pos").alias("tp")
        )
        cand = (
            pref.crossJoin(F.broadcast(tot))
            .filter(F.col("cn") < F.col("tn"))
            .select(
                "b",
                "cn",
                "cp",
                (F.col("tn") - F.col("cn")).alias("rn"),
                (F.col("tp") - F.col("cp")).alias("rp"),
                F.abs(
                    F.col("cp") * (F.col("tn") - F.col("cn"))
                    - (F.col("tp") - F.col("cp")) * F.col("cn")
                ).alias("score"),
            )
        )
        outs.append(
            cand.agg(
                F.min_by(
                    F.struct("b", "cn", "cp", "rn", "rp", "score"),
                    F.struct((-F.col("score")).alias("ns"), F.col("b").alias("tb")),
                ).alias("m")
            ).select(
                F.lit(f).alias("feature"),
                F.col("m.b").cast("int").alias("split_bin"),
                F.col("m.cn").cast("long").alias("n_left"),
                F.col("m.cp").cast("long").alias("pos_left"),
                F.col("m.rn").cast("long").alias("n_right"),
                F.col("m.rp").cast("long").alias("pos_right"),
                F.col("m.score").cast("long").alias("gap_score"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _poisson1_cdf(kmax: int = 8) -> list[float]:
    """Poisson(1) CDF thresholds, computed ONCE in Python and shared
    verbatim with the SQL oracle — both engines compare the same
    md5-derived uniform against the same double literals, so the
    resample counts are engine-identical."""
    import math

    cdf, acc, term = [], 0.0, math.exp(-1.0)
    for k in range(kmax):
        acc += term
        cdf.append(acc)
        term /= k + 1
    return cdf


def poisson_bootstrap(
    df: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    n_resamples: int = 16,
) -> DataFrame:
    """Distributed bootstrap via Poisson(1) resampling (the classic
    big-data bootstrap: per (row, resample) an independent
    Poisson(1) multiplicity approximates multinomial resampling
    without any global coordination — each row decides its own
    counts from a hash, so the pass is embarrassingly parallel and
     100-TB-shaped: one explode to B light rows per input row, one
    aggregation keyed by resample id).

    Counts come from md5-derived uniforms inverted through Python-
    computed Poisson(1) CDF literals — fully deterministic and
    engine-portable. Returns one row per resample:
    (resample, n_eff, sum_value, mean_value) with sums exact
    BIGINTs and the mean one IEEE division — the spread across
    resamples IS the bootstrap CI of the mean.
    """
    cdf = _poisson1_cdf()
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit("|"),
                        F.col("resample").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(2**60))
    )
    k = F.lit(len(cdf))
    for i in range(len(cdf) - 1, -1, -1):
        k = F.when(u < F.lit(cdf[i]), F.lit(i)).otherwise(k)
    exploded = df.select(
        F.col(id_col),
        F.col(value_col).cast("bigint").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias(
            "resample"
        ),
    ).select("resample", "v", k.cast("bigint").alias("k"))
    return (
        exploded.groupBy("resample")
        .agg(
            F.sum("k").cast("bigint").alias("n_eff"),
            F.sum(F.col("k") * F.col("v")).cast("bigint").alias("sum_value"),
        )
        .select(
            F.col("resample").cast("int").alias("resample"),
            "n_eff",
            "sum_value",
            F.round(F.col("sum_value") / F.col("n_eff"), 6).alias("mean_value"),
        )
    )


def psi_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index per group vs the whole corpus —
    the standard drift monitor for feature distributions (here: is
    any source's length distribution drifting away from the corpus
    mix?). PSI = sum over bins of (p_g - p_all) * ln(p_g / p_all),
    shares clamped at 1e-4 (the industry convention for empty bins).

    Engine-exact path: equi-width bins from the global min/max
    (integer arithmetic), integer bin counts, per-bin terms
    quantized to nano-units BEFORE the per-group sum (floor *1e9 as
    BIGINT), so the only float ops are the two share divisions and
    one ln per bin — identical inputs both engines. Shape: two
    aggregations (bin counts, group sums) + one broadcast of the
    n_bins x groups cell table; the corpus shuffles once on
    (group, bin). Returns (group, n_docs, psi_nano, psi).
    """
    vals = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("bigint").alias("v")
    )
    bframe = vals.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    binned = vals.crossJoin(F.broadcast(bframe)).select(
        "g",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.greatest(
                F.least(
                    F.floor(
                        (F.col("v") - F.col("mn"))
                        * n_bins
                        / (F.col("mx") - F.col("mn") + 1)
                    ),
                    F.lit(n_bins - 1),
                ),
                F.lit(0),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    cells = binned.groupBy("g", "bin").agg(F.count("*").alias("c"))
    g_tot = cells.groupBy("g").agg(F.sum("c").alias("gt"))
    all_cells = cells.groupBy("bin").agg(F.sum("c").alias("ac"))
    all_tot = all_cells.agg(F.sum("ac").alias("at"))
    # dense (group x bin) grid so empty bins hit the 1e-4 clamp
    grid = (
        g_tot.crossJoin(
            F.broadcast(
                all_cells.crossJoin(F.broadcast(all_tot))
            )
        )
        .join(cells, on=["g", "bin"], how="left")
        .select(
            "g",
            "gt",
            F.greatest(
                F.coalesce(F.col("c"), F.lit(0)) / F.col("gt"), F.lit(1e-4)
            ).alias("pg"),
            F.greatest(F.col("ac") / F.col("at"), F.lit(1e-4)).alias("pa"),
        )
    )
    terms = grid.select(
        "g",
        "gt",
        F.floor(
            (F.col("pg") - F.col("pa"))
            * F.log(F.col("pg") / F.col("pa"))
            * 1e9
        )
        .cast("bigint")
        .alias("t"),
    )
    return terms.groupBy(F.col("g").alias(group_col)).agg(
        F.first("gt").cast("bigint").alias("n_docs"),
        F.sum("t").cast("bigint").alias("psi_nano"),
        F.round(F.sum("t") / F.lit(1e9), 6).alias("psi"),
    )


def tree_depth2(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_bins: int = 16,
) -> DataFrame:
    """Depth-2 histogram decision tree: the GBDT split search
    applied RECURSIVELY — best (feature, bin) split at the root,
    then the best split INSIDE each child partition. This is the
    composition every tree trainer runs; the point here is that each
    level is still nothing but bounded-series aggregations (child
    membership is a bin predicate over the ROOT feature's global
    grid, so partitioning the data is a map-side filter, never a
    shuffle).

    Node choice is deterministic: per node, max integer gap_score,
    ties to (feature name asc, lower bin). Only the per-node BEST
    row travels to the driver (two bounded collects — the same
    scalar-decision pattern as k_core's ledger); children without a
    valid split (single occupied bin) emit nothing, visibly.

    Returns (node in root/left/right, feature, split_bin, n_left,
    pos_left, n_right, pos_right, gap_score).
    """
    spark = df.sparkSession
    # one materialization barrier (r10): the split search scans df
    # 2x per feature per node (min/max + histogram) — 13 scans for
    # 2 features across root+children — and callers hand in
    # projections with per-row work (tokenization); checkpoint once
    # so every scan reads the narrow materialized frame.
    df = df.localCheckpoint()

    def best(frame: DataFrame):
        rows = histogram_split_finding(
            frame, feature_cols, label_col, n_bins
        ).collect()
        rows.sort(key=lambda r: (-r["gap_score"], r["feature"], r["split_bin"]))
        return rows[0] if rows else None

    root = best(df)
    schema = (
        "node string, feature string, split_bin int, n_left bigint, "
        "pos_left bigint, n_right bigint, pos_right bigint, gap_score bigint"
    )
    if root is None:
        return literal_frame(spark, [], schema)

    def row_of(node, r):
        return (
            node,
            r["feature"],
            int(r["split_bin"]),
            int(r["n_left"]),
            int(r["pos_left"]),
            int(r["n_right"]),
            int(r["pos_right"]),
            int(r["gap_score"]),
        )

    out = [row_of("root", root)]
    x = F.col(root["feature"]).cast("double")
    mm = df.agg(F.min(x).alias("mn"), F.max(x).alias("mx")).collect()[0]
    mn, mx = mm["mn"], mm["mx"]
    if mx > mn:
        bin_col = F.least(
            F.lit(n_bins - 1),
            F.floor((x - F.lit(mn)) * n_bins / F.lit(mx - mn)),
        ).cast("int")
    else:
        bin_col = F.lit(0)
    for node, child in (
        ("left", df.filter(bin_col <= root["split_bin"])),
        ("right", df.filter(bin_col > root["split_bin"])),
    ):
        r = best(child)
        if r is not None:
            out.append(row_of(node, r))
    return literal_frame(spark, out, schema)
