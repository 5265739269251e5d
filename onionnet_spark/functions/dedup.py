"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design notes for 100 TB scale:
  - Exact dedup is a single groupBy on a content hash — the hash
    (md5 of normalized text) is computed map-side so the shuffle
    carries 32-byte keys, not documents.
  - N-gram Jaccard is the exact (quadratic-in-matches) baseline:
    docs pair only through shared shingles, so the join fan-out is
    bounded by shingle document frequency. High-DF shingles are the
    skew path — `max_shingle_df` drops them (standard "stop
    shingle" trick), which both bounds the blow-up and is exactly
    what AQE's skew-join splitting can't do for you (semantic cap).
  - MinHash+LSH is the sub-quadratic scale path: constant-size
    signatures, banded bucketing, candidate pairs only within
    buckets.
  - Hash portability: every hash here is an md5 HEX STRING and
    min() is the lexicographic min — identical in Spark and DuckDB,
    so the oracle can recompute signatures exactly.

Text normalization shared by all ops: lower, trim, collapse
whitespace runs to single spaces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WS_SPLIT = "\\s+"


def normalize_text(text: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(text)), WS_SPLIT, " ")


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical id per document: min id among documents with
    identical normalized text. (doc_id, canonical_id, group_size)."""
    from pyspark.sql import Window

    # Single scan + single shuffle: the per-hash aggregates come from
    # a window over content_hash instead of a groupBy + self-join
    # (which would scan the documents and compute the md5 twice).
    hashed = df.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    )
    w = Window.partitionBy("content_hash")
    return hashed.select(
        id_col,
        F.min(id_col).over(w).alias("canonical_id"),
        F.count("*").over(w).cast("bigint").alias("group_size"),
    )


def word_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-shingles per doc: (id, shingle).

    Explodes shingle positions first and assembles each shingle with
    plain column expressions over the exploded rows — these compile
    into whole-stage codegen, unlike a higher-order ``transform()``
    lambda building per-row string arrays (interpreted per element).
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    # Docs with fewer than n tokens have ZERO shingles. The position
    # list must be empty for them — an unguarded
    # sequence(1, size-n+1) with a bound <= 0 auto-steps DOWNWARD
    # (Spark emits [1, 0], [1, 0, -1], ...) and the element_at below
    # would throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT; explode of an
    # empty array instead drops the row, matching the oracle.
    positions = F.when(
        F.size("t") >= n, F.sequence(F.lit(1), F.size("t") - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("t"))
        .select("id", "t", F.explode(positions).alias("i"))
        .select(
            "id",
            F.concat_ws(
                " ", *[F.element_at(F.col("t"), F.col("i") + j) for j in range(n)]
            ).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard near-duplicate pairs over word n-shingles.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold,
    jaccard rounded to 6 dp.
    """
    # All set arithmetic below only needs shingle EQUALITY, so the
    # ~25-char shingle strings are collapsed to 8-byte xxhash64 keys
    # first: the self-join/groupBy shuffles carry fixed-width longs.
    # Collision risk at n shingle instances is ~n^2/2^65 (4e-7 at 4M
    # rows) — far below any practical dedup tolerance.
    sh = word_shingles(df, text_col, id_col, n).select(
        "id", F.xxhash64("shingle").alias("shingle")
    )
    if max_shingle_df is not None:
        # Stop-shingle filter INVERTED: materialize the (tiny) HOT
        # set — shingles above the df cap — and broadcast-anti-join
        # it, instead of semi-joining against the (huge) rare set.
        # The anti side is a map-side bloom-like filter: no shuffle
        # of the 4M-row shingle table, and the self-join below gets
        # two identical, reusable inputs.
        # ONE materialization barrier, not two (VERDICT r8 item 8):
        # persist (lazy, block-cache-probed) lets the hot groupBy and
        # the anti-join's left side share a single shingle-build scan
        # inside the sh_j checkpoint job; the old eager checkpoint
        # here added a full extra barrier to the cold path.
        sh = sh.persist()
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh_j = sh.join(F.broadcast(hot), on="shingle", how="left_anti").localCheckpoint()
        sh.unpersist()  # sh_j is materialized; lineage already cut
    else:
        sh_j = sh.localCheckpoint()
    # Jaccard is defined over the CAPPED shingle space (sizes AND
    # intersections both exclude stop-shingles) — self-consistent at
    # any scale, mirroring stopword removal in classic dedup. Using
    # uncapped sizes with capped intersections would silently deflate
    # scores as soon as any shingle crosses the cap.
    sizes = sh_j.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh_j.alias("a")
        .join(sh_j.alias("b"), on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def ingest_delta(
    base: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental corpus ingest — the daily crawl-merge primitive:
    classify every DELTA document against the existing BASE corpus as

      'exact_dup' — normalized text byte-identical to some base doc,
      'near_dup'  — word-n-shingle Jaccard vs some base doc >= the
                    threshold (checked only for non-exact docs),
      'new'       — otherwise.

    Returns (doc_id, status, match_id, jaccard): match_id is the
    smallest matching base id (exact) or the strongest match by
    (jaccard desc, id asc) (near); NULL for 'new'.

    Scale shape: the exact pass joins 32-byte content hashes; the
    near pass joins 8-byte shingle hashes, so the delta meets the
    base only through shared shingles (fan-out bounded per shingle
    df, cross-set only — no base x base work, which is what makes
    the daily increment cheap no matter how big the corpus got).
    At 100 TB the base-side hash/shingle frames are materialized
    tables kept between ingests, not recomputed per ingest.
    """
    from pyspark.sql import Window

    b_hash = base.select(
        F.col(id_col).alias("bid"),
        F.md5(normalize_text(F.col(text_col))).alias("ch"),
    )
    d_hash = delta.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("ch"),
    )
    exact = (
        d_hash.join(b_hash, on="ch")
        .groupBy("id")
        .agg(F.min("bid").alias("match_id"))
        .withColumn("status", F.lit("exact_dup"))
        .withColumn("jaccard", F.lit(1.0))
    )
    remaining = delta.join(
        exact.select(F.col("id").alias(id_col)), on=id_col, how="left_anti"
    )
    d_sh = word_shingles(remaining, text_col, id_col, n).select(
        "id", F.xxhash64("shingle").alias("shingle")
    )
    b_sh = word_shingles(base, text_col, id_col, n).select(
        F.col("id").alias("bid"), F.xxhash64("shingle").alias("shingle")
    )
    d_sizes = d_sh.groupBy("id").agg(F.count("*").alias("na"))
    b_sizes = b_sh.groupBy("bid").agg(F.count("*").alias("nb"))
    inter = (
        d_sh.join(b_sh, on="shingle")
        .groupBy("id", "bid")
        .agg(F.count("*").alias("i"))
    )
    jac = (
        inter.join(d_sizes, on="id")
        .join(b_sizes, on="bid")
        .withColumn(
            "jaccard",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("id").orderBy(F.col("jaccard").desc(), F.col("bid").asc())
    near = (
        jac.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "id",
            F.col("bid").alias("match_id"),
            F.lit("near_dup").alias("status"),
            "jaccard",
        )
    )
    classified = exact.select("id", "status", "match_id", "jaccard").unionByName(
        near.select("id", "status", "match_id", "jaccard")
    )
    return (
        delta.select(F.col(id_col).alias("id"))
        .join(classified, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("status", F.lit("new")).alias("status"),
            "match_id",
            "jaccard",
        )
    )


def minhash_signatures(
    shingles: DataFrame, num_perm: int = 16
) -> DataFrame:
    """MinHash signature per id: one md5-derived base hash per
    shingle, permuted by num_perm affine maps
    h_p = (a_p*h + b_p) mod (2^31-1) (Broder's construction); the
    signature element is the integer min per permutation.

    WIDE layout — one row per id with columns s0..s{num_perm-1} —
    computed as num_perm parallel min() aggregates over the shingle
    rows. Compared to exploding (id, perm, shingle) rows this
    shuffles num_perm× fewer rows (same bytes, far fewer per-row
    overheads) and leaves the signature pre-assembled for banding
    with NO second shuffle or collect_list/array_sort; compared to
    hashing num_perm times per shingle it does 1/num_perm of the
    md5 work, the dominant CPU term at corpus scale.
    """
    # Broder-style permutation family: ONE base hash per shingle
    # (60 md5 bits reduced mod the Mersenne prime 2^31-1), then
    # num_perm affine permutations h_p = (a_p*h + b_p) mod P — one
    # md5 per shingle row instead of num_perm, which at corpus scale
    # is the dominant CPU term of signature building. Constants stay
    # below 2^21 so a_p*h fits comfortably in a BIGINT; every step is
    # exact integer arithmetic any engine replays bit-for-bit.
    P = 2_147_483_647
    base = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("bigint")
        % F.lit(P)
    )
    hashes = shingles.select("id", base.alias("hm"))
    return hashes.groupBy("id").agg(
        *[
            F.min(
                (F.lit(104729 * (p + 1)) * F.col("hm") + F.lit(7919 * p)) % F.lit(P)
            ).alias(f"s{p}")
            for p in range(num_perm)
        ]
    )


def minhash_band_keys(
    sigs: DataFrame, num_perm: int = 16, bands: int = 4
) -> DataFrame:
    """LSH band keys from a wide signature frame: band key = md5 of
    the band's signature slice joined with ',' (perm order) — a
    plain projection over the wide row, no extra shuffle. Returns
    (id, band, band_key). Shared by every MinHash pair finder so
    all of them bucket identically.
    """
    rows_per_band = num_perm // bands
    return sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"s{b * rows_per_band + j}").cast("string")
                                for j in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    salt_verify: int = 8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate detection.

    Candidate pairs collide on >=1 LSH band (band key = md5 of the
    band's concatenated signature); candidates are then verified
    with EXACT Jaccard so the output is deterministic:
    (id_a, id_b, jaccard) with jaccard >= threshold.

    Skew defense in the verify stage: the intersection join keys the
    per-doc shingle table on ``id_a`` of the candidate list. In a
    real corpus one boilerplate doc can sit in thousands of candidate
    pairs, making ``id_a`` power-law — a single reducer would absorb
    |shingles| x |pairs| rows for that doc. ``salt_verify`` routes
    the join through salted_join (left side salted by row hash, right
    replicated), spreading each hot doc over `salt_verify` reducers;
    AQE's skew split can't help here because the hot key's rows are
    identical post-shuffle and land in one block. 0 disables.

    ``shingles``: an already-materialized word_shingles(df, n) frame
    (id, shingle) to reuse instead of rebuilding — lets composite
    reports (dedup_method_report) share one shingle build across
    methods. Must be materialized (checkpoint/persist) by the caller.
    """
    sh = (
        shingles
        if shingles is not None
        else word_shingles(df, text_col, id_col, n).localCheckpoint()
    )
    sigs = minhash_signatures(sh, num_perm)
    band_keys = minhash_band_keys(sigs, num_perm, bands)
    cand = (
        band_keys.alias("a")
        .join(band_keys.alias("b"), on=["band", "band_key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact-verify candidates (equality-only from here on -> 8-byte
    # hashed shingles keep the verify joins narrow; see
    # ngram_jaccard_pairs for the collision-probability note)
    shh = sh.select("id", F.xxhash64("shingle").alias("shingle"))
    sizes = shh.groupBy("id").agg(F.count("*").alias("n_sh"))
    sh_a = shh.select(F.col("id").alias("id_a"), "shingle")
    if salt_verify:
        from onionnet_spark.operators.joins import salted_join

        xc = salted_join(sh_a, cand, on=["id_a"], salt=salt_verify)
    else:
        xc = sh_a.join(cand, on="id_a")
    inter = (
        xc.join(
            shh.select(F.col("id").alias("id_b"), "shingle"),
            on=["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def contamination_overlap(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Train/test decontamination check: for each test document, the
    fraction of its word n-grams that appear ANYWHERE in the training
    corpus (the standard benchmark-contamination metric; n=8..13 in
    published pipelines, parameterized here).

    Scale shape: the train side collapses to a DISTINCT set of 8-byte
    shingle hashes (xxhash64 — fixed-width shuffle keys, documents
    never move); the test side left-joins that set on the hash and
    aggregates per doc. One shuffle each side keyed on the hash; a
    hot shingle (boilerplate) fans out only on the tiny hit-marker
    join, not on document payloads.

    Returns (doc_id, n_shingles, n_hit, overlap) for test docs with
    >= 1 shingle; overlap rounded to 6 dp.
    """
    tr = (
        word_shingles(train, text_col, id_col, n)
        .select(F.xxhash64("shingle").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    te = word_shingles(test, text_col, id_col, n).select(
        "id", F.xxhash64("shingle").alias("shingle")
    )
    return (
        te.join(tr, on="shingle", how="left")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) / F.count("*"), 6
            ).alias("overlap"),
        )
    )


def doc_chunks(
    df: DataFrame,
    chunk_words: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Consecutive non-overlapping `chunk_words`-word chunks per doc:
    (id, ci, ch: md5 of the chunk text, clen: its token count): the
    chunking step of `chunk_dedup`."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    n_chunks = F.ceil(F.size("t") / F.lit(chunk_words)).cast("int")
    # NULL text: size(null) = -1 and F.sequence(0, -1) auto-steps DOWN,
    # yielding [0, -1] — two phantom chunks the oracle never emits.
    # Guard exactly like word_shingles: empty array -> explode drops row.
    chunk_idx = F.when(
        F.size("t") >= 1, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("t"))
        .select(
            "id",
            "t",
            F.explode(chunk_idx).alias("ci"),
        )
        .select(
            "id",
            "ci",
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(F.col("t"), F.col("ci") * chunk_words + 1, chunk_words),
                )
            ).alias("ch"),
            F.least(
                F.lit(chunk_words), F.size("t") - F.col("ci") * chunk_words
            ).alias("clen"),
        )
    )


def chunk_dedup(
    df: DataFrame,
    chunk_words: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style duplicate-span removal accounting: cut each document
    into consecutive non-overlapping `chunk_words`-word chunks (the
    last chunk may be shorter) and keep only the FIRST corpus-wide
    occurrence of each chunk text, "first" = smallest (doc_id,
    chunk_idx). C4 dropped repeated three-sentence spans this way;
    on whitespace corpora the fixed word window is the
    tokenizer-free equivalent.

    Returns per document: (doc_id, n_chunks, n_dup_chunks,
    n_tokens_kept) — the numbers a curation run reports (how much
    boilerplate each document loses).

    Scale shape: chunks shuffle by md5(chunk) — 32-byte keys, uniform
    (a hot boilerplate chunk concentrates ONE key; its window ranks
    |occurrences| rows, the same bound every dedup has) — then one
    groupBy(doc_id). Documents never move whole; both exchanges
    carry (id, idx, len, hash) rows only.
    """
    from pyspark.sql import Window

    chunked = doc_chunks(df, chunk_words, text_col, id_col)
    w = Window.partitionBy("ch").orderBy("id", "ci")
    ranked = chunked.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy(F.col("id").alias(id_col)).agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum(F.when(F.col("rk") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_chunks"),
        F.sum(F.when(F.col("rk") == 1, F.col("clen")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens_kept"),
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash fingerprint over whitespace tokens (with multiplicity).

    Token hash bits come from md5 hex nibbles (portable): bit j of a
    token = bit (j % 4) of hex digit j//4. simhash bit j is set iff
    sum over tokens of (+1 if bit set else -1) > 0.
    Returns (doc_id, simhash) with simhash as a bigint.
    """
    assert bits <= 64
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    # Bit extraction runs on INTEGER halves of the hex hash instead
    # of 'bits' separate instr/substr string probes per token (the
    # old per-bit expression; ~32 string scans per token row was the
    # dominant map-side CPU of the simhash family). Each 8-hex-digit
    # half converts once to a 32-bit int; bit j of the token is then
    # one shiftright+AND. Same mathematical bit — digit at 1-indexed
    # hex position p occupies bits [4*(8-p), 4*(8-p)+3] of the half,
    # and bit_in_digit counts from the digit's LSB — so results are
    # bit-identical to the oracle's instr/substr formulation.
    n_halves = (bits + 31) // 32
    for hx in range(n_halves):
        toks = toks.withColumn(
            f"hb{hx}",
            F.conv(F.substring("h", 1 + 8 * hx, 8), 16, 10).cast("bigint"),
        )
    bit_sums = []
    for j in range(bits):
        digit_pos = j // 4 + 1  # 1-indexed hex position in h
        bit_in_digit = j % 4
        half = (digit_pos - 1) // 8
        pos_in_half = (digit_pos - 1) % 8  # 0-indexed within the half
        shift = 4 * (7 - pos_in_half) + bit_in_digit
        bit = F.shiftright(F.col(f"hb{half}"), shift).bitwiseAND(F.lit(1))
        # sum of (+1 if bit else -1) == sum(2*bit - 1), branch-free
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2 ** j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.alias("simhash"))


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end dedup: near-dup pairs (MinHash-LSH + exact-Jaccard
    verify) -> connected components over the pair graph -> one
    canonical doc per cluster.

    This is the operator a training-data pipeline actually runs: the
    output (doc_id, canonical_id, cluster_size) keeps exactly one
    representative (the min doc_id) per near-duplicate cluster.
    Components use the large-star/small-star contraction, so chains
    of pairwise-similar docs (A~B~C without A~C) collapse into one
    cluster in O(log^2 n) rounds at any scale.
    """
    from onionnet_spark.operators.components import _star_fixpoint

    pairs = minhash_lsh_pairs(
        df, text_col, id_col, n, num_perm, bands, threshold
    )
    # star fixpoint DIRECTLY on the numeric doc ids: every exchange
    # in the contraction carries 8-byte longs instead of 'doc:<id>'
    # strings, and the fixpoint label is already min(doc_id) in
    # NUMERIC order — the canonical-id contract — so the old
    # stringified-key CC + split_part + min-recompute window
    # collapse into one left join.
    fix = _star_fixpoint(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        name="dedup_clusters",
    )
    out = (
        df.select(id_col)
        .join(
            fix.select(
                F.col("a").alias(id_col), F.col("b").alias("canonical_id")
            ),
            on=id_col,
            how="left",
        )
        .select(
            id_col,
            F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("canonical_id")
    return out.select(
        id_col,
        "canonical_id",
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
    )


def doc_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Non-empty trimmed lines per doc: (id, li, lh: md5 of the
    line, ln: its char count): the first step of `line_dedup`."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("li", "line"),
        )
        .select("id", "li", F.trim("line").alias("line"))
        .filter(F.length("line") > 0)
        .select(
            "id", "li", F.md5("line").alias("lh"), F.length("line").alias("ln")
        )
    )


def line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide line-level dedup accounting (the C4 rule applied
    at line granularity, complementing chunk_dedup's fixed word
    windows): every non-empty trimmed line keeps only its FIRST
    corpus-wide occurrence, "first" = smallest (doc_id, line_idx).
    Boilerplate headers/footers/nav-bars repeat verbatim as LINES
    across pages, which word-window chunking can straddle and miss.

    Returns per document: (doc_id, n_lines, n_dup_lines,
    n_kept_chars) — kept chars = total trimmed length of the lines
    this document contributes first.

    Scale shape: identical to chunk_dedup — lines shuffle by
    md5(line) (fixed-width keys; a hot boilerplate line concentrates
    one key whose window ranks |occurrences| rows), then one
    groupBy(doc_id). The exchanges carry (id, idx, len, hash), never
    document payloads.
    """
    from pyspark.sql import Window

    lines = doc_lines(df, text_col, id_col)
    w = Window.partitionBy("lh").orderBy("id", "li")
    ranked = lines.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy(F.col("id").alias(id_col)).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("rk") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_lines"),
        F.sum(F.when(F.col("rk") == 1, F.col("ln")).otherwise(0))
        .cast("bigint")
        .alias("n_kept_chars"),
    )


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    the number of shared distinct word `n`-shingles and the
    containment of the smaller side (shared / min(|A|, |B|)) — the
    corpus-intake view of decontamination (which crawl snapshots
    and curated sets are secretly the same data?).

    Shingles collapse to (source, xxhash64) before the self-join, so
    the pair fan-out per shingle is bounded by the SOURCE count (not
    document df) — no stop-shingle cap needed; exchanges carry
    (source, 8-byte hash). Returns (src_a, src_b, n_shared,
    containment 6dp), src_a < src_b.
    """
    sh = word_shingles(df, text_col, id_col, n)
    src = df.select(F.col(id_col).alias("id"), F.col(group_col).alias("src"))
    ss = (
        sh.join(src, on="id")
        .select("src", F.xxhash64("shingle").alias("sh"))
        .distinct()
        .localCheckpoint()
    )
    sizes = ss.groupBy("src").agg(F.count("*").alias("n_sh"))
    inter = (
        ss.alias("a")
        .join(ss.select(F.col("src").alias("src_b"), "sh").alias("b"), on="sh")
        .filter(F.col("a.src") < F.col("src_b"))
        .groupBy(F.col("a.src").alias("src_a"), "src_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return (
        inter.join(
            sizes.select(F.col("src").alias("src_a"), F.col("n_sh").alias("na")),
            "src_a",
        )
        .join(
            sizes.select(F.col("src").alias("src_b"), F.col("n_sh").alias("nb")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(F.col("n_shared") / F.least("na", "nb"), 6).alias(
                "containment"
            ),
        )
    )


def dup_rate_by_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-duplicate rate per group (source/domain/language): a doc
    counts as a duplicate when it is NOT the min-id holder of its
    corpus-wide normalized-text hash group. The per-source dedup
    scoreboard every intake pipeline reports.

    One hash groupBy + one group aggregation. Returns
    (source, n_docs, n_dups, dup_rate 6dp).
    """
    from pyspark.sql import Window

    hashed = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.md5(normalize_text(F.col(text_col))).alias("ch"),
    )
    w = Window.partitionBy("ch")
    marked = hashed.select(
        "grp", (F.col("id") != F.min("id").over(w)).cast("int").alias("is_dup")
    )
    return marked.groupBy(F.col("grp").alias(group_col)).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_dups"),
        F.round(F.sum("is_dup") / F.count("*"), 6).alias("dup_rate"),
    )


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH index health report: per band, the bucket-count /
    occupancy / candidate-pair-volume profile of the MinHash band
    buckets — the diagnostic run BEFORE committing to an LSH dedup
    pass at corpus scale (a band whose max bucket holds 10^6 docs
    means 10^12 candidate pairs from that bucket alone; the fix is
    more bands/rows or a stop-shingle cap, and this report is how
    you see it coming).

    Uses the exact same signature/banding pipeline as
    ``minhash_lsh_pairs`` (minhash_signatures + minhash_band_keys),
    so the numbers describe the real index. Two aggregations, both
    with map-side partials: (band, band_key) -> bucket size, then
    band -> stats. Candidate pairs per bucket = s*(s-1)/2. Returns
    (band, n_docs, n_buckets, max_bucket, n_singletons,
    n_candidate_pairs), one row per band.
    """
    sh = word_shingles(df, text_col, id_col, n)
    sigs = minhash_signatures(sh, num_perm)
    bk = minhash_band_keys(sigs, num_perm, bands)
    buckets = bk.groupBy("band", "band_key").agg(F.count("*").alias("s"))
    return buckets.groupBy("band").agg(
        F.sum("s").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_buckets"),
        F.max("s").cast("bigint").alias("max_bucket"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
        F.sum(F.col("s") * (F.col("s") - 1) / 2)
        .cast("bigint")
        .alias("n_candidate_pairs"),
    )


def split_leakage_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    val_mod: int = 10,
    threshold: float = 0.5,
    **lsh_kwargs,
) -> DataFrame:
    """Train/validation split with a near-duplicate leakage audit:
    docs are split deterministically by md5(id) (id % val_mod == 0
    of the hash -> val), then every verified MinHash near-dup pair
    (jaccard >= threshold) is checked for crossing the boundary — a
    cross-split pair means the validation set leaks training data
    and its loss is an overestimate of generalization.

    The split is a seed-free projection (stable under repartition
    and re-runs); the pair list is ``minhash_lsh_pairs`` unchanged,
    so the audit costs one extra broadcast-sized join over the
    banded candidate path — never a corpus x corpus scan. Returns
    one row: (n_train, n_val, n_dup_pairs, n_leaky_pairs,
    leak_rate 6dp of val docs with a train-side near-dup).
    """
    split = df.select(
        F.col(id_col).alias("id"),
        (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
            .cast("bigint")
            % val_mod
            == 0
        ).alias("is_val"),
    ).localCheckpoint()
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, threshold=threshold, **lsh_kwargs
    )
    flagged = pairs.join(
        split.select(F.col("id").alias("id_a"), F.col("is_val").alias("va")),
        on="id_a",
    ).join(
        split.select(F.col("id").alias("id_b"), F.col("is_val").alias("vb")),
        on="id_b",
    )
    cross = F.col("va") != F.col("vb")
    # single-pass: every output number is one distributed aggregation
    # (no driver-side .count() round-trips), joined by a one-row
    # broadcast cross join
    pair_stats = flagged.agg(
        F.count("*").cast("bigint").alias("n_dup_pairs"),
        F.sum(F.when(cross, 1).otherwise(0)).cast("bigint").alias("n_leaky_pairs"),
        F.count_distinct(
            F.when(
                cross, F.when(F.col("va"), F.col("id_a")).otherwise(F.col("id_b"))
            )
        ).alias("n_leaky_val_docs"),
    )
    counts = split.agg(
        F.sum(F.when(~F.col("is_val"), 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("is_val"), 1).otherwise(0)).alias("n_val"),
    )
    return counts.crossJoin(F.broadcast(pair_stats)).select(
        F.col("n_train").cast("bigint"),
        F.col("n_val").cast("bigint"),
        "n_dup_pairs",
        "n_leaky_pairs",
        F.round(F.col("n_leaky_val_docs") / F.col("n_val"), 6).alias("leak_rate"),
    )


def minhash_signature_export(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 16,
) -> DataFrame:
    """The MinHash signature store in long layout (id, perm, sig) —
    what an incremental dedup pipeline persists between ingests so
    tomorrow's delta never re-hashes today's corpus (ingest_delta
    consumes exactly these signatures). Computed by the production
    minhash_signatures wide aggregation, then unpivoted with stack()
    — a projection, no extra shuffle.
    """
    sigs = minhash_signatures(word_shingles(df, text_col, id_col, n), num_perm)
    stack_args = ", ".join(f"{p}, s{p}" for p in range(num_perm))
    return sigs.select(
        F.col("id").alias(id_col),
        F.expr(f"stack({num_perm}, {stack_args}) AS (perm, sig)"),
    ).select(id_col, F.col("perm").cast("int"), F.col("sig").cast("bigint"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, found with
    the band-exact-match trick (Manku et al. 2007, the crawl-scale
    simhash dedup paper): split the fingerprint into ``bands`` equal
    slices — any pair within Hamming distance ``bands - 1`` must
    agree EXACTLY on at least one slice (pigeonhole), so candidates
    come from ``bands`` equi-joins on an 8-bit key, never a pairwise
    scan — then verify with bit_count(xor) <= max_hamming.

    Requires max_hamming <= bands - 1 (the recall guarantee;
    asserted). Everything is integer bit arithmetic both engines
    replay exactly. Returns (id_a, id_b, hamming).
    """
    assert bits % bands == 0 and max_hamming <= bands - 1
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash(df, text_col, id_col, bits).localCheckpoint()
    bnd = sh.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(
                *[
                    (F.shiftright(F.col("simhash"), b * width) % F.lit(mask + 1))
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    cand = (
        bnd.alias("a")
        .join(bnd.alias("b"), on=["band", "band_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return (
        cand.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("ha")),
            on="id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("hb")),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("ha").bitwiseXOR(F.col("hb"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by shingle CONTAINMENT |A∩B| / |A| — the
    asymmetric measure that catches a document embedded inside a
    larger one (quote farms, aggregator pages), which symmetric
    Jaccard structurally misses: a 50-shingle doc inside a
    5000-shingle doc has Jaccard <= 0.01 but containment 1.0.

    Candidate generation CANNOT be Jaccard-tuned MinHash banding —
    a small-inside-big pair's minima rarely survive into the big
    doc's signature, so banding has near-zero recall exactly on the
    pairs this measure exists for (caught by the doc-inside-doc
    test). Instead it uses the same df-capped inverted shingle
    index as ngram_jaccard_pairs: pairs sharing >= 1 non-hot
    shingle meet in the equality self-join (full recall unless
    every shared shingle is a stop-shingle), fan-out bounded by
    max_shingle_df, all keys 8-byte hashes. Containment is measured
    over the capped shingle space (sizes and intersections both
    exclude stop-shingles — self-consistent at any scale). Emits
    BOTH directions when both clear the threshold. Returns
    (id_small, id_big, containment 6dp).

    ``shingles``: optional pre-materialized word_shingles frame
    (id, shingle strings) shared by composite reports; the hashed
    projection of a checkpointed frame is cheap per consumer.
    """
    sh = (
        shingles.select("id", F.xxhash64("shingle").alias("shingle"))
        if shingles is not None
        else word_shingles(df, text_col, id_col, n)
        .select("id", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh_j = sh.join(
            F.broadcast(hot), on="shingle", how="left_anti"
        ).localCheckpoint()
    else:
        sh_j = sh
    sizes = sh_j.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh_j.alias("a")
        .join(sh_j.alias("b"), on="shingle")
        .filter(F.col("a.id") != F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_small"), F.col("b.id").alias("id_big")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_small"), F.col("n_sh").alias("na")),
            on="id_small",
        )
        .select(
            "id_small",
            "id_big",
            F.round(F.col("inter") / F.col("na"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def dedup_method_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Side-by-side comparison of the four dedup families on one
    corpus — the method-selection report run before committing a
    100-TB pass to any single strategy: exact normalized-hash,
    MinHash-LSH Jaccard (>= 0.5), SimHash Hamming (<= 3), and
    asymmetric containment (>= 0.8). One row per method with its
    pair count and the number of documents touched.

    Each method runs its production operator unchanged (same
    candidates, caps and thresholds as the standalone queries), so
    the numbers are the real ones; the four method aggregates union
    into a 4-row frame. Returns (method, n_pairs, n_docs).
    """
    norm_groups = (
        df.select(
            F.col(id_col).alias("id"),
            F.md5(normalize_text(F.col(text_col))).alias("ch"),
        )
        .groupBy("ch")
        .agg(F.count("*").alias("s"))
    )
    exact = norm_groups.agg(
        F.lit("exact").alias("method"),
        F.sum(F.col("s") * (F.col("s") - 1) / 2).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("s") > 1, F.col("s")).otherwise(0))
        .cast("bigint")
        .alias("n_docs"),
    )

    # one pass per method: the old two-aggregate shape (pair count,
    # then a crossJoined distinct-doc count) evaluated each candidate
    # pipeline TWICE — exploding the pair endpoints lets a single
    # aggregate read both numbers off one evaluation (count/2 is exact:
    # every pair contributes exactly two endpoint rows)
    def _sym_stats(pairs: DataFrame, name: str) -> DataFrame:
        ends = pairs.select(F.explode(F.array("id_a", "id_b")).alias("i"))
        return ends.agg(
            F.lit(name).alias("method"),
            (F.count("*") / 2).cast("bigint").alias("n_pairs"),
            F.count_distinct("i").cast("bigint").alias("n_docs"),
        )

    # minhash and containment consume the IDENTICAL n=3 word-shingle
    # table: build it once, checkpoint, and pass it to both (each
    # used to rebuild it — normalize+split+explode+distinct twice)
    shared_sh = word_shingles(df, text_col, id_col, 3).localCheckpoint()
    mh = _sym_stats(
        minhash_lsh_pairs(
            df, text_col, id_col, threshold=0.5, shingles=shared_sh
        ),
        "minhash_jaccard",
    )
    sh = _sym_stats(simhash_near_pairs(df, text_col, id_col), "simhash_hamming")
    ct = containment_pairs(
        df, text_col, id_col, threshold=0.8, shingles=shared_sh
    ).agg(
        F.lit("containment").alias("method"),
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count_distinct("id_small").cast("bigint").alias("n_docs"),
    )
    return exact.unionByName(mh).unionByName(sh).unionByName(ct)


def minhash_estimate_accuracy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Sketch-accuracy report: for every verified near-dup pair, the
    MinHash ESTIMATE of Jaccard (fraction of agreeing signature
    slots) next to the exact value — the calibration check that
    tells you whether num_perm is big enough BEFORE you trust the
    estimate alone at a scale where exact verification is too
    expensive.

    Candidates and exact values come from the unchanged
    minhash_lsh_pairs; the estimate is one join of the WIDE
    signature rows per pair plus a num_perm-term equality sum (a
    projection — no extra shuffle beyond the pair join). Returns
    (id_a, id_b, jaccard, jaccard_est, abs_err), all 6dp.
    """
    # one shingle build feeds the pair finder AND the signature table
    # (each used to run its own normalize+split+explode+distinct)
    sh = word_shingles(df, text_col, id_col, n).localCheckpoint()
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, n, num_perm, bands, threshold, shingles=sh
    )
    sigs = minhash_signatures(sh, num_perm).localCheckpoint()
    sa = sigs.select(
        F.col("id").alias("id_a"), *[F.col(f"s{p}").alias(f"a{p}") for p in range(num_perm)]
    )
    sb = sigs.select(
        F.col("id").alias("id_b"), *[F.col(f"s{p}").alias(f"b{p}") for p in range(num_perm)]
    )
    agree = sum(
        (F.col(f"a{p}") == F.col(f"b{p}")).cast("int") for p in range(num_perm)
    )
    est = F.round(agree / F.lit(num_perm), 6)
    return (
        pairs.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            est.alias("jaccard_est"),
            F.round(F.abs(F.col("jaccard") - est), 6).alias("abs_err"),
        )
    )

def ppjoin_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (PPJoin family,
    Xiao et al. 2008): a GUARANTEED-full-recall alternative to
    MinHash banding (which is probabilistic and misses pairs by
    band-lottery). Order each doc's shingles by ascending global
    document frequency (rarest first); any pair with Jaccard >= t
    MUST share a shingle within both docs' prefixes of length
    |S| - ceil(t*|S|) + 1, so the inverted index only holds
    prefixes. Hot shingles rank LAST in the frequency order and
    almost never enter a prefix — prefix filtering is itself the
    skew control that ngram_jaccard_pairs needs a df-cap for, with
    no recall sacrifice.

    Verification is candidate-local: each candidate pair joins the
    two docs' shingle-set arrays and intersects them JVM-side
    (array_intersect); the Jaccard test runs as the exact integer
    cross-multiplication den*i >= num*(|A|+|B|-i). The per-doc rank
    window is partitioned by doc (bounded by doc length). The DuckDB
    oracle is the direct all-pairs Jaccard join — the hash match
    proves the prefix filter lossless, not just plausible. Returns
    (id_a, id_b, jaccard 6dp), id_a < id_b.

    ``shingles``: optional pre-materialized word_shingles frame
    (id, shingle strings) shared by composite reports (see
    minhash_lsh_pairs).
    """
    from pyspark.sql import Window

    sh = (
        shingles.select("id", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()
        if shingles is not None
        else word_shingles(df, text_col, id_col, n)
        .select("id", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()
    )
    dfq = sh.groupBy("shingle").agg(F.count("*").alias("dfq"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    ceil_t = F.floor(
        (F.lit(threshold_num) * F.col("n_sh") + F.lit(threshold_den - 1))
        / F.lit(threshold_den)
    )
    pref = (
        sh.join(dfq, on="shingle")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy("dfq", "shingle")
            ),
        )
        .join(sizes, on="id")
        .filter(F.col("rk") <= F.col("n_sh") - ceil_t + 1)
        .select("id", "shingle")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    arrs = sh.groupBy("id").agg(F.collect_set("shingle").alias("ss"))
    verified = (
        cand.join(
            arrs.select(F.col("id").alias("id_a"), F.col("ss").alias("sa")),
            on="id_a",
        )
        .join(
            arrs.select(F.col("id").alias("id_b"), F.col("ss").alias("sb")),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sa", "sb")).alias("i"),
            (F.size("sa") + F.size("sb")).alias("tot"),
        )
        .filter(
            F.lit(threshold_den) * F.col("i")
            >= F.lit(threshold_num) * (F.col("tot") - F.col("i"))
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(F.col("i") / (F.col("tot") - F.col("i")), 6).alias("jaccard"),
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 5,
) -> DataFrame:
    """Exact-substring duplication spans (the ExactSubstr side of
    Lee et al. 2022, 'Deduplicating Training Data Makes Language
    Models Better'): every w-token window that occurs more than once
    ANYWHERE in the corpus marks its positions as duplicated;
    overlapping marked windows merge into maximal spans per doc.

    Unlike chunk/line dedup (fixed boundaries), the windows slide —
    this catches duplicated passages at arbitrary offsets inside
    otherwise-distinct documents, which is what boilerplate and
    quotation duplication actually look like.

    Plan shape at 100 TB: one explode to ~n_tokens window rows with
    fixed-width md5 keys, one count aggregation on the window hash,
    one semi-join back (both shuffle on the hash — no pairwise doc
    joins anywhere), then per-doc island merging under a window
    partitioned BY DOC (bounded by tokens/doc, never global). The
    doc payload itself never shuffles; only (id, position, hash)
    triples do.

    Returns (doc_id, n_tokens, n_dup_windows, n_spans, dup_tokens,
    dup_fraction) for EVERY document (zeros when nothing repeats).
    """
    from pyspark.sql import Window

    toks = F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
    base = df.select(F.col(id_col).alias("id"), toks.alias("t")).select(
        "id", "t", F.size("t").alias("n")
    )
    # guarded exactly like word_shingles: docs shorter than w tokens
    # emit no windows (an unguarded sequence would auto-step DOWN)
    positions = F.when(
        F.col("n") >= w, F.sequence(F.lit(1), F.col("n") - F.lit(w - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = (
        base.select("id", "t", F.explode(positions).alias("i"))
        .select(
            "id",
            "i",
            F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("i"), F.lit(w)))).alias(
                "wh"
            ),
        )
    )
    dup_hashes = wins.groupBy("wh").agg(F.count("*").alias("c")).filter(
        F.col("c") > 1
    )
    dup_starts = wins.join(dup_hashes.select("wh"), on="wh", how="leftsemi")
    ww = Window.partitionBy("id").orderBy("i")
    islands = dup_starts.withColumn(
        "brk",
        F.when(
            F.lag("i").over(ww).isNull()
            | (F.col("i") > F.lag("i").over(ww) + F.lit(w)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("isle", F.sum("brk").over(ww))
    spans = islands.groupBy("id", "isle").agg(
        F.min("i").alias("s0"), F.max("i").alias("s1")
    )
    per_doc = spans.groupBy("id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("s1") - F.col("s0") + F.lit(w)).alias("dup_tokens"),
    )
    n_dup_w = dup_starts.groupBy("id").agg(F.count("*").alias("n_dup_windows"))
    return (
        base.select("id", "n")
        .join(n_dup_w, on="id", how="left")
        .join(per_doc, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.col("n").cast("bigint").alias("n_tokens"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias(
                "n_dup_windows"
            ),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n"), 6
            ).alias("dup_fraction"),
        )
    )


def bbit_minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """1-bit MinHash similarity estimation (Li & Koenig, "b-Bit
    Minwise Hashing"): each signature element is reduced to its
    LOWEST BIT, and for a candidate pair the Jaccard estimate is
    recovered from the matching-bit fraction A via J = 2A - 1
    (for b=1 and a large hash universe, E[A] = (1+J)/2; negative
    estimates clamp to 0). The storage win is the whole point at
    100 TB: 16 bits per doc instead of 16 x 4-byte signature words —
    a 32x smaller similarity index that ships to every executor as a
    broadcast where the full signatures would shuffle.

    Candidates come from the SAME banded LSH bucket join as
    minhash_lsh_pairs (never all-pairs); the bit comparison is a
    single integer popcount-style aggregation per candidate pair.
    Returns (id_a, id_b, n_match_bits, est_jaccard 6dp) for every
    banded candidate — the exact-verify stage this estimator replaces
    is what dedup_minhash_lsh measures, so the two keys side by side
    quantify the b-bit accuracy trade.
    """
    if num_perm > 63:
        # bit p is packed as the BIGINT literal 1 << p below; p >= 63
        # overflows LongType (and >64 bits cannot pack into one word
        # at all), silently corrupting the estimate for a tunable
        # parameter (r9 ADVICE). Multi-word packing is the upgrade
        # path if a caller ever needs more permutations.
        raise ValueError(
            f"bbit_minhash_pairs packs the 1-bit sketch into a single "
            f"64-bit word; num_perm={num_perm} > 63 is not supported"
        )
    sh = word_shingles(df, text_col, id_col, n).localCheckpoint()
    sigs = minhash_signatures(sh, num_perm).localCheckpoint()
    band_keys = minhash_band_keys(sigs, num_perm, bands)
    cand = (
        band_keys.alias("a")
        .join(band_keys.alias("b"), on=["band", "band_key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # 1-bit sketch packed into one BIGINT per doc: bit p = s_p mod 2
    packed = sigs.select(
        "id",
        sum(
            ((F.col(f"s{p}") % 2) * F.lit(1 << p)) for p in range(num_perm)
        ).cast("bigint").alias("bits"),
    )
    a = packed.select(F.col("id").alias("id_a"), F.col("bits").alias("ba"))
    b = packed.select(F.col("id").alias("id_b"), F.col("bits").alias("bb"))
    matched = F.lit(num_perm) - F.bit_count(
        F.col("ba").bitwiseXOR(F.col("bb"))
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            matched.cast("int").alias("n_match_bits"),
            F.round(
                F.greatest(
                    F.lit(0.0), 2.0 * matched / F.lit(num_perm) - 1.0
                ),
                6,
            ).alias("est_jaccard"),
        )
    )
