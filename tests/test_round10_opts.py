"""Round-10 OPTIMIZATION session 5: focused equivalence pins for
operator-internal rewrites (the round's contract: any optimization
that changes an operator's internals gets a test proving the result
set did not move).

- simhash: bit extraction moved from 32 per-token instr/substr string
  probes to integer shifts over two pre-converted 32-bit halves; the
  test replays the OLD string-probe formula in SQL and asserts
  bit-identical fingerprints.
- minhash_lsh_pairs / containment_pairs grew a ``shingles=``
  reuse parameter (dedup_method_report shares one shingle build);
  passing it must not change the pair sets.
- label_propagation_communities dropped the per-round update join
  (labels tracked for connected nodes only) and runs the argmax as
  min(struct(-c, label)): isolated nodes must still label themselves
  and count ties must still break to the smallest label.
"""

from pyspark.sql import functions as F

from onionnet_spark.functions import dedup


def test_simhash_matches_string_probe_formula(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "the quick brown fox jumps over the lazy dog again"),
        (4, "x"),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}

    # the pre-r10 per-bit expression, replayed verbatim in SQL
    df.createOrReplaceTempView("simhash_probe_docs")
    bit_sums = ", ".join(
        "SUM(CASE WHEN CAST(floor((instr('0123456789abcdef', "
        f"substr(h, {j // 4 + 1}, 1)) - 1) / {2 ** (j % 4)}) AS INT) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{j}"
        for j in range(32)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({2 ** j} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(32)
    )
    want = {
        r["doc_id"]: r["simhash"]
        for r in spark.sql(
            "SELECT doc_id, " + sim_expr + " AS simhash FROM ("
            "  SELECT doc_id, " + bit_sums + " FROM ("
            "    SELECT doc_id, md5(tok) AS h FROM ("
            "      SELECT doc_id, explode(split(regexp_replace("
            "        trim(lower(text)), '\\\\s+', ' '), ' ')) AS tok"
            "      FROM simhash_probe_docs))"
            "  GROUP BY doc_id)"
        ).collect()
    }
    assert got == want


def test_pair_finders_shared_shingles_identical(spark):
    texts = [
        (i, "alpha beta gamma delta epsilon zeta eta theta " + tail)
        for i, tail in [
            (1, "iota kappa"),
            (2, "iota kappa"),  # near-dup of 1
            (3, "iota kappa lambda mu nu xi omicron pi rho sigma"),
            (4, "completely different words here nothing shared"),
        ]
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    sh = dedup.word_shingles(df, "text", "doc_id", 3).localCheckpoint()

    mh_plain = sorted(
        map(tuple, dedup.minhash_lsh_pairs(df, threshold=0.5).collect())
    )
    mh_shared = sorted(
        map(
            tuple,
            dedup.minhash_lsh_pairs(df, threshold=0.5, shingles=sh).collect(),
        )
    )
    assert mh_plain == mh_shared and len(mh_plain) > 0

    ct_plain = sorted(
        map(tuple, dedup.containment_pairs(df, threshold=0.8).collect())
    )
    ct_shared = sorted(
        map(
            tuple,
            dedup.containment_pairs(df, threshold=0.8, shingles=sh).collect(),
        )
    )
    assert ct_plain == ct_shared and len(ct_plain) > 0


def test_lpa_isolated_node_and_tie_break(spark):
    from onionnet_spark.builder import grow_onion
    from onionnet_spark.operators.components import (
        label_propagation_communities,
    )

    # x sits between 'a' and 'b' (tie at count 1 -> smaller label
    # 'L:a' wins every round); 'z' is isolated and must keep its key
    nodes = spark.createDataFrame(
        [("L", x) for x in ["a", "b", "x", "z"]],
        "layer string, node_id string",
    )
    edges = spark.createDataFrame(
        [("L", "a", "L", "x"), ("L", "x", "L", "b")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    out = {
        r["node_id"]: r["community"]
        for r in label_propagation_communities(
            grow_onion(nodes, edges), n_rounds=1
        ).collect()
    }
    assert out["z"] == "L:z"  # isolated: own key, via the final coalesce
    assert out["x"] == "L:a"  # count tie broken to the smallest label
    # a and b each have the single neighbor x, so both adopt x's key
    assert out["a"] == "L:x" and out["b"] == "L:x"


def test_growth_states_equal_per_radius_sketches(spark):
    from onionnet_spark.core import OnionGraph
    from onionnet_spark.operators.analytics import (
        neighborhood_function_sketch,
        neighborhood_growth_states,
    )

    nodes = spark.createDataFrame(
        [("L", str(i)) for i in range(6)], "layer string, node_id string"
    )
    edges = spark.createDataFrame(
        [("L", "0", "L", "1"), ("L", "1", "L", "2"), ("L", "2", "L", "3"),
         ("L", "3", "L", "4"), ("L", "0", "L", "5")],
        "src_layer string, src_id string, dst_layer string, dst_id string",
    )
    g = OnionGraph(nodes, edges)
    states = neighborhood_growth_states(g, max_radius=3, k=4)
    for r, st in enumerate(states, 1):
        # the loop's state after r rounds must be BIT-identical to an
        # independent radius-r sketch (same draws, same MIN recurrence)
        one = neighborhood_function_sketch(g, radius=r, k=4)
        assert sorted(map(tuple, st.collect())) == sorted(
            map(tuple, one.collect())
        ), f"radius {r} state diverged from the standalone sketch"


def test_bounded_levenshtein_verify_identical(spark):
    from onionnet_spark.operators.joins import fuzzy_self_pairs

    df = spark.createDataFrame(
        [(1, "smith"), (2, "smitt"), (3, "smyth"), (4, "smithe"),
         (5, "jones"), (6, "jonez")],
        "id long, name string",
    )
    got = sorted(
        tuple(r)
        for r in fuzzy_self_pairs(df, "name", "id", max_dist=1,
                                  block_suffix_len=2).collect()
    )
    # unbounded reference: block + full levenshtein <= 1 (the pre-r10
    # shape); the band-limited verify must emit the identical pairs
    # with the identical distances
    blk = F.expr("substring(name, 1, greatest(length(name) - 2, 1))")
    a = df.select(F.col("id").alias("id_a"), F.col("name").alias("val_a"),
                  blk.alias("b"))
    b = df.select(F.col("id").alias("id_b"), F.col("name").alias("val_b"),
                  blk.alias("b"))
    want = sorted(
        tuple(r)
        for r in a.join(b, on="b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("val_a", "val_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("id_a", "id_b", "val_a", "val_b", "edit_dist")
        .collect()
    )
    assert got == want and len(got) > 0


def test_layout_keys_explicit_bounds_identical(spark):
    from onionnet_spark.sources.layout import hilbert_key, zorder_key

    df = spark.createDataFrame(
        [(i, float(i * 3 % 17), float(i * 7 % 11)) for i in range(40)],
        "rid long, x double, y double",
    )
    for fn in (zorder_key, hilbert_key):
        auto = sorted(tuple(r) for r in fn(df, "x", "y", bits=4,
                                           key_col="k").collect())
        expl = sorted(
            tuple(r)
            for r in fn(df, "x", "y", bits=4, key_col="k",
                        bounds=(0.0, 16.0, 0.0, 10.0)).collect()
        )
        assert auto == expl, f"{fn.__name__} diverged on explicit bounds"
