"""As-of join: for each left row, the latest right row at or before
its timestamp, per key.

Spark has no built-in as-of join; the naive formulation (range join
+ row_number) explodes to |L|x|R_key| intermediate rows. The
scale-correct pattern is the union-merge: union both sides tagged,
sort within key by (ts, side) — right rows before left rows at
equal ts gives <= semantics — and carry the right side's values
forward with last(..., ignorenulls=True). One shuffle on the key,
zero fan-out, O(n log n) within partitions; AQE handles hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from onionnet_spark.core import literal_frame


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
    suffix: str = "_asof",
    tolerance: float | None = None,
) -> DataFrame:
    """Left as-of join (backward): latest right row with
    right_ts <= left_ts per `on` key.

    Output: all left columns + right_value_cols renamed with suffix
    + right_ts as f'{right_ts}{suffix}'. Right side should be unique
    per (on, right_ts) for deterministic results (pre-aggregate it).

    `tolerance` (kdb/pandas merge_asof semantics): a match older than
    `tolerance` is nulled out — in the ts columns' native double
    scale (epoch SECONDS for timestamps via the double cast, raw
    units for numerics). The stale-quote guard of every market-data
    as-of join.
    """
    left_cols = left.columns
    carry = [c for c in left_cols if c not in on and c != left_ts]
    out_right = [f"{c}{suffix}" for c in right_value_cols] + [f"{right_ts}{suffix}"]

    l_tagged = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in carry],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}") for c in right_value_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias(f"{right_ts}{suffix}"),
    )
    r_tagged = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in carry],
        *[F.col(c).alias(f"{c}{suffix}") for c in right_value_cols],
        F.col(right_ts).alias(f"{right_ts}{suffix}"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    # right rows (_side=0) sort before left rows at equal _ts -> '<=' semantics
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *on,
        "_ts",
        "_side",
        *[F.col(c) for c in carry],
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in out_right],
    )
    out = filled.filter(F.col("_side") == 1).drop("_side").withColumnRenamed(
        "_ts", left_ts
    )
    if tolerance is not None:
        rts = f"{right_ts}{suffix}"
        fresh = F.col(rts).isNotNull() & (
            F.col(left_ts).cast("double") - F.col(rts).cast("double")
            <= float(tolerance)
        )
        for c in out_right:
            out = out.withColumn(c, F.when(fresh, F.col(c)))
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: explode hot keys across `salt`
    shuffle partitions.

    AQE's skew-join split handles most skew, but it only kicks in
    per sort-merge task and cannot split a single pathological key
    finer than its post-shuffle block. For known power-law keys
    (celebrity nodes in a graph, header shingles in dedup) the
    semantic fix is salting: the LEFT (big, skewed) side gets a
    deterministic salt derived from the whole row hash, the RIGHT
    side is replicated `salt` times, and the join key becomes
    (key, salt) — each hot key now spreads over `salt` reducers.

    Deterministic (no rand()): task retries re-derive the same salt,
    so speculative execution cannot duplicate or drop rows. Result
    is row-identical to a plain `left.join(right, on, how)`.

    Supports how in ('inner', 'left'): replication of the right side
    would multiply unmatched-row NULLs under right/full outer.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how in ('inner', 'left')")
    lcols, rcols = left.columns, right.columns
    l_salted = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in lcols]), F.lit(salt))
    )
    r_salted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = l_salted.join(r_salted, on=on + ["_salt"], how=how)
    return out.select(
        *on,
        *[F.col(c) for c in lcols if c not in on],
        *[F.col(c) for c in rcols if c not in on],
    )


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    count_col: str = "n_in_range",
) -> DataFrame:
    """Banded range join: for every left row, count right rows with
    the same key and ``right_ts`` in ``[left_ts - window, left_ts)``.

    The naive inequality join is a per-key cross product. The scale
    formulation BANDS time into window-sized buckets: a right row
    lands in one bucket; a left row's window can only overlap its
    own and the previous bucket, so the join becomes an EQUI-join on
    (key, bucket) with left exploded to 2 buckets, followed by the
    exact range filter. Catalyst plans it as a normal shuffled hash
    join keyed on (key, bucket) — no theta-join blowup, and skew in
    a hot key is bounded per bucket.

    Returns all left columns + `count_col` (0 when nothing in range).
    Duplicate left rows each get their own (correct) count: matches
    aggregate on a generated per-row id, never on the value columns,
    so two identical left rows matching k right rows report k each.
    """
    def bucket(col):
        return F.floor(F.unix_timestamp(col) / window_seconds)

    l_b = (
        left.withColumn("_lid", F.monotonically_increasing_id())
        .withColumn(
            "_lb",
            F.explode(
                F.array(bucket(F.col(left_ts)) - 1, bucket(F.col(left_ts)))
            ),
        )
    )
    r_b = right.select(
        *[F.col(c).alias(f"_r_{c}") for c in on],
        F.col(right_ts).alias("_r_ts"),
    ).withColumn("_rb", bucket(F.col("_r_ts")))
    cond = [F.col(c) == F.col(f"_r_{c}") for c in on] + [
        F.col("_lb") == F.col("_rb"),
        F.col("_r_ts")
        >= F.col(left_ts) - F.expr(f"INTERVAL {window_seconds} SECONDS"),
        F.col("_r_ts") < F.col(left_ts),
    ]
    # LEFT join + conditional count in ONE pass: unmatched bucket rows
    # carry a NULL _r_ts and contribute 0, so no second scan of
    # `left` and no join-back is needed — one join shuffle plus one
    # groupBy on the compact _lid key.
    return (
        l_b.join(r_b, on=cond, how="left")
        .groupBy("_lid")
        .agg(
            *[F.first(c).alias(c) for c in left.columns],
            F.sum(F.when(F.col("_r_ts").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(count_col),
        )
        .drop("_lid")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    block_suffix_len: int = 2,
    dist_col: str = "edit_dist",
) -> DataFrame:
    """Blocked fuzzy (edit-distance) join — entity resolution /
    record linkage. Candidates must share a BLOCK KEY (the string
    minus its last `block_suffix_len` chars), then the exact
    Levenshtein distance filters to <= max_dist.

    Blocking is load-bearing at scale: an unblocked theta-join is a
    cross product (the reference class of bug the banded range join
    also avoids); with a prefix block the join is a plain equi-join
    whose fan-out is bounded per block. Like every blocked linkage,
    recall is approximate by construction — pairs differing inside
    the blocked prefix are unseen. Both the blocking rule and the
    verify predicate run as JVM expressions (whole-stage codegen).
    """
    lb = F.expr(
        f"substring({left_col}, 1, greatest(length({left_col}) - {block_suffix_len}, 1))"
    )
    rb = F.expr(
        f"substring({right_col}, 1, greatest(length({right_col}) - {block_suffix_len}, 1))"
    )
    l = left.withColumn("_blk", lb)
    r = right.withColumn("_blk", rb)
    # bounded verify (r10): the 3-arg levenshtein early-exits the DP
    # at `max_dist` band width (O(len*k) vs O(len^2)) and returns -1
    # above the bound — for every SURVIVING pair the value equals the
    # exact distance, so the output is byte-identical.
    return (
        l.join(r, on="_blk")
        .withColumn(
            dist_col,
            F.levenshtein(F.col(left_col), F.col(right_col), max_dist),
        )
        .filter(F.col(dist_col) >= 0)
        .drop("_blk")
    )


def fuzzy_self_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    max_dist: int = 1,
    block_suffix_len: int = 2,
) -> DataFrame:
    """Near-identical value pairs within one table (canonical
    id_a < id_b) — the dedup-shaped use of `fuzzy_join`."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(col).alias("val_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(col).alias("val_b"))
    return (
        fuzzy_join(a, b, "val_a", "val_b", max_dist, block_suffix_len)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "val_a", "val_b", "edit_dist")
    )


def bloom_filter_df(
    keys: DataFrame,
    key_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Build a Bloom filter over `keys` as a ONE-ROW DataFrame with
    an array<bigint> bitmap column `bloom_words` (n_bits packed into
    64-bit words) — entirely DataFrame-side: keys explode into their
    k bit positions, bits reduce per word with bit_or, and the word
    array assembles with a dense-index collect_list. No driver-side
    data; the single row broadcasts wherever it's used.
    """
    n_words = (n_bits + 63) // 64
    pos = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits))
        for i in range(n_hashes)
    ]
    bits = (
        keys.select(F.explode(F.array(*pos)).alias("bit"))
        .select(
            (F.col("bit") / 64).cast("int").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), (F.col("bit") % 64).cast("int")
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("m"))
    )
    # dense word array: left join the full index so absent words are 0
    idx = keys.sparkSession.range(n_words).select(F.col("id").cast("int").alias("w"))
    return (
        idx.join(bits, on="w", how="left")
        .select("w", F.coalesce("m", F.lit(0).cast("bigint")).alias("m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("w", "m"))), lambda s: s["m"]
            ).alias("bloom_words")
        )
    )


def bloom_might_contain(
    key: "F.Column", bloom_words: "F.Column", n_bits: int = 1 << 20, n_hashes: int = 5
) -> "F.Column":
    """Membership test against a `bloom_filter_df` bitmap column:
    true iff ALL k bits are set (no false negatives; false positives
    at the standard (1 - e^{-kn/m})^k rate)."""
    cond = F.lit(True)
    for i in range(n_hashes):
        bit = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(n_bits))
        word = F.element_at(bloom_words, (bit / 64).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), (bit % 64).cast("int")
        )
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Inner equi-join with a runtime Bloom-filter prune of the fact
    side: build a Bloom filter over the (filtered) dim keys, drop
    fact rows whose key cannot match BEFORE the join shuffle, then
    join exactly. The result is IDENTICAL to `fact.join(dim, on)` —
    the filter admits false positives, never false negatives, and
    the exact join removes the positives — but the shuffle moves
    only the surviving fraction of the fact table. This is the
    runtime-filter technique engines inject for selective dim
    filters at scale (Spark's own runtime bloom pushdown, dynamic
    partition pruning's hash-key sibling), exposed as an explicit
    operator: at 100 TB, shuffling 2% of a fact table instead of
    100% IS the job.

    The bitmap stays a DataFrame: one row, n_bits/64 longs,
    broadcast into the fact scan's filter — the membership test
    runs inside whole-stage codegen (xxhash64 + shift/and), no UDF.
    """
    bloom = bloom_filter_df(dim.select(on), on, n_bits, n_hashes)
    pruned = fact.crossJoin(F.broadcast(bloom)).filter(
        bloom_might_contain(F.col(on), F.col("bloom_words"), n_bits, n_hashes)
    ).drop("bloom_words")
    return pruned.join(dim, on=on)

def sorted_neighborhood_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    window: int = 5,
    max_dist: int = 2,
) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernández & Stolfo
    1995): sort records by the blocking key and compare each record
    only with its `window` nearest neighbors in that order — the
    classic alternative to equality blocking (fuzzy_join's prefix
    block), catching near-dups whose PREFIX differs ('smith'/'smyth'
    share no 2-char block but sort adjacently under many keys).

    Distributed shape: the global sort position comes from the
    two-phase range-partitioned rank (the pack_sequences pattern —
    range-partition on the key, rank within each partition, add the
    broadcast partition offsets; exact for ANY boundary choice and
    it works on STRING keys, unlike the percentile-cut global_rank);
    neighbor candidates join on floor(rank / window) bucket ids with
    the -1/0/+1 buckets (every pair within `window` positions spans
    at most adjacent buckets), then |Δrank| <= window filters
    exactly. Levenshtein verifies inside codegen. Returns (id_a,
    id_b, val_a, val_b, rank_gap, edit_dist) for verified pairs,
    id_a < id_b.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        df.select(F.col(id_col).alias("id"), F.col(col).alias("val"))
        .repartitionByRange(nparts, F.col("val"), F.col("id"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["_pid"]: r["c"]
        for r in part.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }  # P rows — driver-trivial
    offsets, running = [], 0
    for pid in sorted(counts):
        offsets.append((pid, running))
        running += counts[pid]
    off_df = literal_frame(spark, offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("val", "id")
    ranked = (
        part.join(F.broadcast(off_df), on="_pid")
        .withColumn("rank", F.col("_off") + F.row_number().over(w))
        .select("id", "val", "rank")
        .localCheckpoint()
    )
    # a within-`window` pair spans at most ADJACENT rank buckets, and
    # the canonical id_a < id_b orientation can put either side first
    # in rank order — so the a side probes its own bucket plus both
    # neighbors. ONE exploded join replaces the previous three
    # shifted joins + union + distinct: for a fixed (a, b) pair the
    # bucket ids are fixed, so exactly one probe value can match and
    # the join emits no duplicates by construction (6.5s -> ~2s on
    # the 15k-customer bench fixture — two shuffles instead of
    # seven).
    a = ranked.select(
        F.col("id").alias("id_a"),
        F.col("val").alias("val_a"),
        F.col("rank").alias("rank_a"),
        F.explode(
            F.array(
                F.floor(F.col("rank") / window) - 1,
                F.floor(F.col("rank") / window),
                F.floor(F.col("rank") / window) + 1,
            )
        ).alias("bkt"),
    )
    b = ranked.select(
        F.col("id").alias("id_b"),
        F.col("val").alias("val_b"),
        F.col("rank").alias("rank_b"),
        F.floor(F.col("rank") / window).alias("bkt"),
    )
    return (
        a.join(b, on="bkt")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("rank_a") - F.col("rank_b")) <= window)
        )
        .select(
            "id_a",
            "id_b",
            "val_a",
            "val_b",
            F.abs(F.col("rank_a") - F.col("rank_b")).cast("int").alias(
                "rank_gap"
            ),
            # bounded verify (r10): band-limited DP, -1 above
            # max_dist; surviving rows carry the exact distance, so
            # the output is byte-identical (see fuzzy_join)
            F.levenshtein("val_a", "val_b", max_dist).cast("int").alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") >= 0)
    )


def resolve_entities(
    df: DataFrame,
    col: str,
    id_col: str,
    window: int = 5,
    max_dist: int = 2,
) -> DataFrame:
    """End-to-end entity resolution: sorted-neighborhood blocking +
    Levenshtein verify -> star connected components over the match
    graph -> one canonical entity per cluster. Returns one row per
    input record: (<id_col>, entity_id, cluster_size,
    canonical_<col>) where entity_id is the NUMERIC min id of the
    cluster (NOT the lexicographic min of the stringified node keys
    — a cluster spanning a digit-length boundary like {9, 10}
    differs; the id is re-derived as min(<id_col>) per component
    after labeling, one agg + one join on the component label).

    Distributed shape: blocking is the range-partitioned rank +
    bucket join of sorted_neighborhood_pairs (no all-pairs scan);
    the closure is _star_fixpoint run DIRECTLY on the caller's id
    dtype (8-byte longs for numeric ids — no 'ent:<id>' string keys
    in any star exchange), so the fixpoint's component label IS
    min(<id_col>) under the column's natural ordering — exactly the
    entity_id contract — and the old min-per-component re-derivation
    aggregation + join are gone; canonical attachment is a join on
    entity_id.
    """
    from onionnet_spark.operators.components import _star_fixpoint

    pairs = sorted_neighborhood_pairs(
        df, col=col, id_col=id_col, window=window, max_dist=max_dist
    )
    fix = _star_fixpoint(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        name="resolve_entities",
    )
    # at fixpoint every row is (member, component-min); roots and
    # singletons are absent and label themselves via the left join
    labels = fix.select(
        F.col("a").alias(id_col), F.col("b").alias("entity_id")
    )
    lab = (
        df.select(id_col)
        .join(labels, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("entity_id", F.col(id_col)).alias("entity_id"),
        )
    )
    sz = lab.groupBy("entity_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    canon = df.select(
        F.col(id_col).alias("entity_id"),
        F.col(col).alias(f"canonical_{col}"),
    )
    return lab.join(sz, on="entity_id").join(canon, on="entity_id").select(
        id_col, "entity_id", "cluster_size", f"canonical_{col}"
    )
