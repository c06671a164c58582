"""Blocking: recall vs exhaustive crossJoin at tiny scale, pair-set
hygiene, block caps, sorted-neighborhood pass (SURVEY.md §5)."""

from pyspark.sql import functions as F

from record_linkage_ldu_spark.operators.blocking import (
    BlockingConfig,
    block_census,
    block_keys,
    candidate_pairs,
    cap_blocks,
    sorted_neighborhood_pairs,
    tiered_pairs,
)
from record_linkage_ldu_spark.plans.linkage import records_view
from record_linkage_ldu_spark.sources.datagen import labeled_pairs

# the key roster these tests were written against: the sn: prefix
# key on, the windowed pass (not a key family) irrelevant here
_SN_PREFIX = BlockingConfig(use_sorted_neighborhood=True)


def test_pair_hygiene(spark, tiny_gen):
    """No self pairs, no (a,b)+(b,a) duplicates."""
    records = records_view(tiny_gen.select("doc_id", "spans"))
    pairs = candidate_pairs(block_keys(records, _SN_PREFIX)).cache()
    assert pairs.where(F.col("doc_id_1") >= F.col("doc_id_2")).count() == 0
    assert (
        pairs.groupBy("doc_id_1", "doc_id_2").count().where("count > 1").count()
        == 0
    )


def test_blocking_recall_vs_crossjoin(spark, tiny_gen):
    """Every labeled TRUE pair must be reachable by >= 1 blocking key —
    the fixture's anchor invariant guarantees it; this test guards both
    the generator and the key functions.  (The crossJoin ground truth
    is the labeled positives themselves: complete over intra-entity
    pairs.)"""
    records = records_view(tiny_gen.select("doc_id", "spans"))
    pairs = candidate_pairs(block_keys(records, _SN_PREFIX))
    lab = labeled_pairs(tiny_gen.select("doc_id", "entity_id"))
    positives = lab.where("is_match")
    missed = positives.join(
        pairs, ["doc_id_1", "doc_id_2"], "left_anti"
    ).count()
    total = positives.count()
    assert total > 0
    recall = 1 - missed / total
    assert recall >= 0.99, f"blocking recall {recall} (missed {missed}/{total})"


def test_block_cap_tiers(spark):
    """Blocks over the plain-join cap leave ``kept``; only blocks over
    cap*salt_drop_factor land in ``dropped`` (the middle tier belongs
    to the salted join of ``tiered_pairs``)."""
    rows = [(f"d{i}", "hot") for i in range(50)] + [("x1", "cold"), ("x2", "cold")]
    keys = spark.createDataFrame(rows, ["doc_id", "block_key"])
    cfg = BlockingConfig(max_block_size=10, salt_drop_factor=2)  # ceiling 20
    kept, dropped = cap_blocks(keys, cfg)
    assert [r["block_key"] for r in dropped.collect()] == ["hot"]
    assert kept.where("block_key = 'hot'").count() == 0
    assert kept.where("block_key = 'cold'").count() == 2
    # 50 > ceiling: not salt tier, only the cold pair survives
    assert tiered_pairs(keys, cfg)[0].count() == 1
    cfg2 = BlockingConfig(max_block_size=10, salt_drop_factor=16)  # ceiling 160
    kept2, dropped2 = cap_blocks(keys, cfg2)
    assert dropped2.count() == 0
    assert kept2.where("block_key = 'hot'").count() == 0
    # the hot block pairs through the salted tier instead
    assert tiered_pairs(keys, cfg2)[0].count() == 1 + 50 * 49 // 2
    census = {r["block_key"]: r["block_size"] for r in block_census(keys).collect()}
    assert census == {"hot": 50, "cold": 2}


def test_sorted_neighborhood_window_semantics(spark):
    """Rank-adjacent records pair up across bucket boundaries; nothing
    beyond the window pairs up."""
    rows = [(f"r{i:02d}", f"k{i:02d}") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "sort_key"])
    pairs = sorted_neighborhood_pairs(df, F.col("sort_key"), window=3)
    got = {
        (r["doc_id_1"], r["doc_id_2"]) for r in pairs.collect()
    }
    expected = {
        (f"r{i:02d}", f"r{j:02d}")
        for i in range(10)
        for j in range(i + 1, min(i + 3, 10))
    }
    assert got == expected


def test_multi_key_union_dedups(spark):
    """A pair reachable through two keys appears once."""
    rows = [
        ("a", "ph:123"), ("b", "ph:123"),
        ("a", "em:x"), ("b", "em:x"),
    ]
    keys = spark.createDataFrame(rows, ["doc_id", "block_key"])
    pairs = candidate_pairs(keys)
    assert pairs.count() == 1


def test_salted_triangle_join_equivalence(spark):
    """The triangle-cell salted self-join yields EXACTLY the pairs of a
    plain within-block join (no pair lost to bucket splitting, none
    invented), for several salt factors."""
    from record_linkage_ldu_spark.operators.blocking import (
        salted_candidate_pairs,
    )

    rows = [(f"d{i:03d}", "hot") for i in range(60)] + [
        ("x1", "cold"), ("x2", "cold")
    ]
    keys = spark.createDataFrame(rows, ["doc_id", "block_key"])
    expected = {
        (r["doc_id_1"], r["doc_id_2"]) for r in candidate_pairs(keys).collect()
    }
    for salt in (2, 3, 8):
        got = {
            (r["doc_id_1"], r["doc_id_2"])
            for r in salted_candidate_pairs(keys, salt=salt).collect()
        }
        assert got == expected, f"salt={salt}"


def test_three_tier_candidate_generation(spark):
    """tiered_pairs: plain tier + salted hot tier together cover every
    block up to the drop ceiling, each pair once per key; blocks
    beyond it are dropped and reported."""
    rows = (
        [(f"n{i}", "normal") for i in range(4)]          # size 4: plain
        + [(f"h{i:02d}", "hotkey") for i in range(30)]   # size 30: salted
        + [(f"g{i:03d}", "giant") for i in range(200)]   # size 200: dropped
    )
    keys = spark.createDataFrame(rows, ["doc_id", "block_key"])
    cfg = BlockingConfig(max_block_size=10, salt_buckets=4, salt_drop_factor=10)
    pairs, dropped = tiered_pairs(keys, cfg)
    rows_out = pairs.collect()
    got = {(r["doc_id_1"], r["doc_id_2"]) for r in rows_out}
    assert len(rows_out) == len(got) == 4 * 3 // 2 + 30 * 29 // 2
    expected = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in candidate_pairs(
            keys.where(F.col("block_key") != "giant")
        ).collect()
    }
    assert got == expected
    assert [(r["block_key"], r["block_size"]) for r in dropped.collect()] == [
        ("giant", 200)
    ]


def test_salted_cross_pairs_equal_plain_join(spark):
    """Replicate-left salted cross join loses no pairs and creates no
    duplicates: on any key table it must produce exactly the plain
    block equi-join's pair set."""
    from record_linkage_ldu_spark.operators.blocking import (
        candidate_pairs,
        salted_candidate_pairs_cross,
    )

    left = spark.createDataFrame(
        [(f"l{i:03d}", "hot") for i in range(40)]
        + [(f"l{i:03d}", "warm") for i in range(0, 40, 3)],
        ["doc_id", "block_key"],
    )
    right = spark.createDataFrame(
        [(f"r{i:03d}", "hot") for i in range(55)]
        + [(f"r{i:03d}", "warm") for i in range(0, 55, 4)],
        ["doc_id", "block_key"],
    )
    plain = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in candidate_pairs(left, right).collect()
    }
    salted_rows = salted_candidate_pairs_cross(
        left, right, salt=4, dedup=False
    ).collect()
    salted = {(r["doc_id_1"], r["doc_id_2"]) for r in salted_rows}
    assert salted == plain
    # no duplicates even before dedup: each pair meets in exactly one
    # (block_key, bucket) cell... except pairs reachable via BOTH keys
    multi_key = {
        p for p in plain
        if int(p[0][1:]) % 3 == 0 and int(p[1][1:]) % 4 == 0
    }
    assert len(salted_rows) == len(salted) + len(multi_key)
    # the same tables through the two-sided tier stack (hot block 95
    # rows, warm 28): a cap of 10 salts both, a cap of 30 pairs warm
    # through the plain join — the raw rows match either way, with or
    # without the left-side broadcast hint
    for cap in (10, 30):
        cfg = BlockingConfig(max_block_size=cap, salt_buckets=4)
        for hint in (False, True):
            tiered_rows = tiered_pairs(
                left, cfg, keys_right=right, broadcast_left=hint
            )[0].collect()
            assert sorted(map(tuple, tiered_rows)) == sorted(
                map(tuple, salted_rows)
            ), (cap, hint)


def test_rare_token_blocking_df_window(spark):
    """Token blocking with df pruning (driver query
    token_blocking_pairs): docs sharing a token inside the df window
    pair up; unique tokens and too-frequent tokens generate nothing."""
    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.functions.text import tokens
    from record_linkage_ldu_spark.operators.blocking import candidate_pairs

    rows = [
        ("d1", "acme zebra"),       # zebra shared with d2 (df=2)
        ("d2", "zebra corp"),
        ("d3", "unique snowflake"), # df=1 tokens -> no pairs
    ] + [(f"c{i}", "common") for i in range(60)]  # df=60 > cap
    rec = spark.createDataFrame(rows, "doc_id string, name string")
    toks = rec.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("name")))).alias("tok"),
    )
    selective = (
        toks.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 50))
        .select("tok")
    )
    keys = toks.join(selective, "tok", "left_semi").select(
        "doc_id", F.col("tok").alias("block_key")
    )
    pairs = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in candidate_pairs(keys).collect()
    }
    assert pairs == {("d1", "d2")}


def test_meta_blocking_cbs_keeps_corroborated_pairs(spark):
    """CBS meta-blocking: pairs sharing >= 2 block keys survive, pairs
    reached by a single key are pruned, and the weight is the shared
    count."""
    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.operators.blocking import candidate_pairs

    keys = spark.createDataFrame(
        [
            ("d1", "k1"), ("d1", "k2"),
            ("d2", "k1"), ("d2", "k2"),   # d1-d2 share 2 keys -> kept
            ("d3", "k1"),                 # d3 reaches d1/d2 via k1 only
        ],
        "doc_id string, block_key string",
    )
    per_key = candidate_pairs(keys, dedup=False)
    cbs = (
        per_key.groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("n_shared_blocks"))
        .where(F.col("n_shared_blocks") >= 2)
        .collect()
    )
    assert [(r["doc_id_1"], r["doc_id_2"], r["n_shared_blocks"]) for r in cbs] == [
        ("d1", "d2", 2)
    ]


def test_blocking_family_stats_unique_contribution(spark):
    """Per-family pair counts, true-pair reach, and UNIQUE reach: the
    phone family alone reaches (d2,d3), so it gets the unique credit;
    a family with keys but no pairs reports zeros."""
    from record_linkage_ldu_spark.operators.blocking import (
        blocking_family_stats,
    )

    keys = spark.createDataFrame(
        [("d1", "sn:a"), ("d2", "sn:a"), ("d3", "sn:b"),
         ("d1", "ph:1"), ("d2", "ph:1"), ("d3", "ph:1"),
         ("d4", "em:x")],
        "doc_id string, block_key string",
    )
    labels = spark.createDataFrame(
        [("d1", "d2", True), ("d2", "d3", True)],
        "doc_id_1 string, doc_id_2 string, is_match boolean",
    )
    out = {r["family"]: r for r in blocking_family_stats(keys, labels).collect()}
    assert set(out) == {"sn", "ph", "em"}
    sn, ph, em = out["sn"], out["ph"], out["em"]
    assert (sn["n_keys"], sn["n_pairs"], sn["n_true_pairs"], sn["n_unique_true"]) == (2, 1, 1, 0)
    assert sn["pair_efficiency"] == 1.0
    assert (ph["n_keys"], ph["n_pairs"], ph["n_true_pairs"], ph["n_unique_true"]) == (1, 3, 2, 1)
    assert ph["pair_efficiency"] == round(2 / 3, 6)
    assert (em["n_keys"], em["n_pairs"], em["n_unique_true"], em["pair_efficiency"]) == (1, 0, 0, 0.0)


def test_refined_block_keys_partitions_and_bounds(spark):
    """Dynamic refinement: (a) every emitted block fits the cap,
    (b) each doc appears EXACTLY once (refinement partitions a block
    into children, never multiplies membership), (c) small blocks stay
    at level 1 while oversized ones carry the extended key, (d) blocks
    oversized at the deepest level land in leftover_census, not in
    the key table."""
    from record_linkage_ldu_spark.operators.blocking import (
        refined_block_keys,
    )

    # 39 docs: 30 share c1='x' (oversized at level 1, split by c2 into
    # three 10-doc blocks), 4 share c1='y' (fits at level 1), 5 share
    # c1='z' AND c2 AND c3 (oversized at EVERY level -> leftover).
    rows = (
        [(f"dx{i}", "x", f"g{i % 3}", f"z{i}") for i in range(30)]
        + [(f"dy{i}", "y", "h", "w") for i in range(4)]
        + [(f"dz{i}", "z", "same", "same") for i in range(5)]
    )
    rec = spark.createDataFrame(rows, "doc_id string, c1 string, c2 string, c3 string")
    keys, leftover = refined_block_keys(
        rec,
        [F.col("c1"), F.col("c2"), F.col("c3")],
        max_block_size=4,
    )
    keys = keys.cache()

    # (a) emitted blocks bounded by the cap — the 10-doc level-2
    # blocks are still over cap 4, so they refine to level 3 (c3 is
    # unique per doc in the x family -> singleton blocks)
    max_sz = (
        keys.groupBy("block_key").count().agg(F.max("count")).first()[0]
    )
    assert max_sz <= 4

    # (b) one key per doc, and the z family is absent
    assert keys.count() == keys.select("doc_id").distinct().count()
    assert keys.where(F.col("doc_id").startswith("dz")).count() == 0
    assert keys.count() == 34

    # (c) the y family fits at level 1 with the UNEXTENDED key
    y = keys.where(F.col("doc_id").startswith("dy")).select(
        "block_key", "refine_level"
    ).distinct().collect()
    assert len(y) == 1 and y[0]["refine_level"] == 1
    assert y[0]["block_key"] == "dy:y"
    # x family refined past level 2 (10-doc c2 blocks still > 4)
    x_lv = keys.where(F.col("doc_id").startswith("dx")).select(
        "refine_level"
    ).distinct().collect()
    assert {r["refine_level"] for r in x_lv} == {3}

    # (d) leftover census reports the z block at full size
    left = leftover.collect()
    assert len(left) == 1 and left[0]["block_size"] == 5


def test_refined_keys_null_components_and_single_key_pairs(spark):
    """Null level-1 component emits no key; null deeper components
    co-block as '' (two docs null on c2 still meet on c1+c3); one key
    per doc means candidate_pairs(dedup=False) has no duplicates."""
    from record_linkage_ldu_spark.operators.blocking import (
        refined_block_keys,
    )

    rows = [
        ("d1", None, "a", "p"),
        ("d2", "k", None, "p"),
        ("d3", "k", None, "p"),
        ("d4", "k", "b", "p"),
    ]
    rec = spark.createDataFrame(rows, "doc_id string, c1 string, c2 string, c3 string")
    keys, _ = refined_block_keys(
        rec, [F.col("c1"), F.col("c2")], max_block_size=2
    )
    got = {r["doc_id"]: r["block_key"] for r in keys.collect()}
    assert "d1" not in got
    # k block has 3 docs > cap 2 -> refined by c2: d2,d3 share 'k\x1f'
    assert got["d2"] == got["d3"] == "dy:k\x1f"
    assert got["d4"] == "dy:k\x1fb"
    pairs = candidate_pairs(keys, dedup=False)
    assert (
        pairs.groupBy("doc_id_1", "doc_id_2").count().where("count > 1").count()
        == 0
    )
    assert pairs.count() == 1


def test_blocking_quality_consistency(spark):
    """The RR/PC/PQ scorecard agrees with blocking_recall and its own
    identities: PC == recall, PQ == pair_efficiency, RR matches the
    count arithmetic, and the cartesian denominator is n*(n-1)/2."""
    import __spark_entry__ as E

    qs = E.queries()
    d = "/root/testdata/sf0.001"
    bq = qs["blocking_quality"](spark, d).collect()[0].asDict()
    br = qs["blocking_recall"](spark, d).collect()[0].asDict()
    assert bq["n_true"] == br["n_true"]
    assert bq["n_covered"] == br["n_covered"]
    assert bq["n_candidates"] == br["n_candidates"]
    assert bq["pairs_completeness"] == br["recall"]
    assert bq["pairs_quality"] == br["pair_efficiency"]
    n = bq["n_docs"]
    assert bq["n_possible_pairs"] == n * (n - 1) // 2
    assert 0 < bq["reduction_ratio"] < 1
    assert bq["reduction_ratio"] == round(
        1 - bq["n_candidates"] / bq["n_possible_pairs"], 6
    )


def test_suffix_blocking_catches_prefix_damage(spark):
    """Suffix-array blocking pairs records whose names share a long
    tail even when the string FRONT differs (prefix typo/truncation),
    the case both prefix keys and whole-token keys miss; df pruning
    keeps df-1 suffixes (pair nothing) and frequent suffixes out."""
    from record_linkage_ldu_spark.operators.blocking import (
        candidate_pairs,
        suffix_block_keys,
    )

    rows = [
        ("d1", "mueller schmidt"),    # compacted: muellerschmidt
        ("d2", "xueller schmidt"),    # prefix typo, long shared tail
        ("d3", "zzz"),                # too short: no suffixes at all
        ("d4", "completely other"),   # df-1 suffixes only
    ]
    recs = spark.createDataFrame(rows, "doc_id string, name string")
    keys = suffix_block_keys(recs, min_suffix_len=5)
    pairs = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in candidate_pairs(keys).collect()
    }
    assert pairs == {("d1", "d2")}
    # every surviving key starts with the prefix and respects min_len
    for r in keys.collect():
        assert r["block_key"].startswith("sx:")
        assert len(r["block_key"]) - 3 >= 5


def test_suffix_blocking_df_ceiling_bounds_blocks(spark):
    """The df ceiling drops suffixes shared by more than max_df docs,
    so every emitted block is pre-bounded by construction."""
    from record_linkage_ldu_spark.operators.blocking import (
        suffix_block_keys,
    )

    rows = [(f"d{i}", "shared tail example") for i in range(5)] + [
        ("e1", "rare tail pairs"),
        ("e2", "bare tail pairs"),
    ]
    recs = spark.createDataFrame(rows, "doc_id string, name string")
    keys = suffix_block_keys(recs, min_suffix_len=5, min_df=2, max_df=4)
    census = (
        keys.groupBy("block_key").count().select("count").collect()
    )
    assert census, "the e1/e2 shared suffixes must survive"
    assert all(r["count"] <= 4 for r in census)
    # the 5-doc shared-tail suffixes are gone
    docs = {r["doc_id"] for r in keys.collect()}
    assert docs == {"e1", "e2"}


def test_canopy_deterministic_relaxation(spark):
    """Canopy semantics on a hand-built corpus: centers are exactly
    the docs undominated at T1 by a smaller id, every doc is covered
    (isolated docs as self-canopies), and canopies OVERLAP — a doc
    within T2 of two centers belongs to both."""
    from record_linkage_ldu_spark.operators.blocking import (
        canopy_assignments,
    )

    rows = [
        # d1/d2 share all 3 tokens (jac=1 >= T1): d2 dominated by d1
        ("d1", "alpha beta gamma"),
        ("d2", "alpha beta gamma"),
        # d3 shares 2/4 distinct-union tokens with d1 (jac=0.5 >= T2
        # but < T1): separate center, and member of d1's canopy
        ("d3", "alpha beta delta epsilon"),
        # d5 isolated (tokens appear nowhere else): self-canopy
        ("d5", "zeta eta theta"),
    ]
    recs = spark.createDataFrame(rows, "doc_id string, name string")
    out = canopy_assignments(recs, t1=0.8, t2=0.4, min_df=2, max_df=10)
    memb = {(r["doc_id"], r["canopy_id"]) for r in out.collect()}
    centers = {c for _, c in memb}
    assert centers == {"d1", "d3", "d5"}           # d2 dominated
    assert ("d2", "d1") in memb                    # member of d1
    assert ("d3", "d1") in memb and ("d3", "d3") in memb  # overlap
    assert ("d1", "d3") in memb                    # symmetric overlap
    assert ("d5", "d5") in memb                    # self-canopy
    covered = {d for d, _ in memb}
    assert covered == {"d1", "d2", "d3", "d5"}     # total coverage


def test_blocking_plan_exact_union_and_choice(spark):
    """Subset pair counts are exact UNION cardinalities (overlapping
    families not double-counted); recall counts unreached labeled
    pairs in the denominator; chosen = cheapest subset meeting the
    target."""
    from record_linkage_ldu_spark.operators.blocking import blocking_plan

    # family A blocks {1,2} and {3,4}; family B blocks {1,2} (overlap)
    # and {5,6}
    keys = spark.createDataFrame(
        [("d1", "aa:x"), ("d2", "aa:x"), ("d3", "aa:y"), ("d4", "aa:y"),
         ("d1", "bb:p"), ("d2", "bb:p"), ("d5", "bb:q"), ("d6", "bb:q")],
        "doc_id string, block_key string",
    )
    # true pairs: (d1,d2) reached by both, (d3,d4) only A, (d5,d6)
    # only B, (d7,d8) reached by nothing
    labeled = spark.createDataFrame(
        [("d1", "d2", True), ("d3", "d4", True), ("d5", "d6", True),
         ("d7", "d8", True), ("d1", "d3", False)],
        "doc_id_1 string, doc_id_2 string, is_match boolean",
    )
    rows = {
        r["families"]: r
        for r in blocking_plan(
            keys, labeled, families=("aa", "bb"), target_recall=0.5
        ).collect()
    }
    assert set(rows) == {"aa", "bb", "aa,bb"}
    assert rows["aa"]["n_pairs"] == 2 and rows["aa"]["n_true"] == 2
    assert rows["bb"]["n_pairs"] == 2 and rows["bb"]["n_true"] == 2
    # union: 3 distinct pairs, not 4 — the overlap is counted once
    assert rows["aa,bb"]["n_pairs"] == 3 and rows["aa,bb"]["n_true"] == 3
    # denominator includes the unreachable (d7,d8): 3/4, never 3/3
    assert rows["aa,bb"]["recall"] == 0.75
    assert rows["aa"]["recall"] == 0.5
    # aa and bb both meet 0.5 at cost 2; tie breaks to lower subset id
    assert rows["aa"]["chosen"] is True
    assert rows["bb"]["chosen"] is False
    assert rows["aa,bb"]["chosen"] is False


def test_blocking_plan_falls_back_to_max_recall(spark):
    """If no subset meets the target, chosen = highest recall."""
    from record_linkage_ldu_spark.operators.blocking import blocking_plan

    keys = spark.createDataFrame(
        [("d1", "aa:x"), ("d2", "aa:x")], "doc_id string, block_key string"
    )
    labeled = spark.createDataFrame(
        [("d1", "d2", True), ("d7", "d8", True)],
        "doc_id_1 string, doc_id_2 string, is_match boolean",
    )
    out = blocking_plan(
        keys, labeled, families=("aa",), target_recall=0.99
    ).collect()
    assert len(out) == 1
    assert out[0]["meets_target"] is False
    assert out[0]["chosen"] is True


def test_capture_recapture_chapman_arithmetic(spark):
    """Hand-computed Chapman estimate: A finds 3 matches, B finds 2,
    both find 1 -> est_total = 4*3/2 - 1 = 5."""
    from record_linkage_ldu_spark.operators.blocking import (
        capture_recapture_estimate,
    )

    # family aa blocks: (1,2) (3,4) (5,6); family bb: (1,2) (7,8)
    keys = spark.createDataFrame(
        [("d1", "aa:k1"), ("d2", "aa:k1"), ("d3", "aa:k2"), ("d4", "aa:k2"),
         ("d5", "aa:k3"), ("d6", "aa:k3"),
         ("d1", "bb:p1"), ("d2", "bb:p1"), ("d7", "bb:p2"), ("d8", "bb:p2")],
        "doc_id string, block_key string",
    )
    matched = spark.createDataFrame(
        [("d1", "d2"), ("d3", "d4"), ("d5", "d6"), ("d7", "d8"),
         ("d9", "d10")],  # d9/d10 matched but reached by neither family
        "doc_id_1 string, doc_id_2 string",
    )
    row = capture_recapture_estimate(keys, matched, "aa", "bb").collect()[0]
    assert (row["n_a"], row["n_b"], row["n_both"], row["n_union"]) == (
        3, 2, 1, 4
    )
    assert row["est_total"] == 5.0  # (3+1)(2+1)/(1+1) - 1
    assert row["est_recall_a"] == 0.6
    assert row["est_recall_union"] == 0.8


def test_block_filtering_keeps_r_most_selective(spark):
    """Each doc keeps its r smallest blocks (ties by key); pair
    volume drops while pairs with a small shared home survive."""
    from record_linkage_ldu_spark.operators.blocking import (
        block_filtering,
        candidate_pairs,
    )

    # d1/d2 share tiny block t (size 2) AND the mega block m (size 5);
    # d3..d5 only share m
    keys = spark.createDataFrame(
        [("d1", "t:x"), ("d2", "t:x"),
         ("d1", "m:y"), ("d2", "m:y"), ("d3", "m:y"), ("d4", "m:y"),
         ("d5", "m:y"),
         ("d1", "q:z")],  # d1 has 3 keys: t(2) < q(1)?? q size 1 < t
        "doc_id string, block_key string",
    )
    out = block_filtering(keys, r=2)
    kept = {(r["doc_id"], r["block_key"]) for r in out.collect()}
    # d1's blocks by size: q:z(1), t:x(2), m:y(5) -> keeps q,t drops m
    assert ("d1", "q:z") in kept and ("d1", "t:x") in kept
    assert ("d1", "m:y") not in kept
    # d2 keeps t(2) and m(5) — only two keys
    assert ("d2", "t:x") in kept and ("d2", "m:y") in kept
    # r=1: every doc exactly one key
    one = block_filtering(keys, r=1).groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in one)
    # the (d1,d2) pair survives r=1 via the tiny block?? d1 keeps q:z,
    # d2 keeps t:x -> pair lost at r=1 but present at r=2
    pairs2 = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in candidate_pairs(block_filtering(keys, r=2)).collect()
    }
    assert ("d1", "d2") in pairs2


def test_blocking_plan_empty_inputs_keep_subset_rows(spark):
    """No labeled true pairs (or no candidate pairs) still yields the
    full 2^k - 1 subset rows with zero counts and a chosen row."""
    from record_linkage_ldu_spark.operators.blocking import blocking_plan

    keys = spark.createDataFrame(
        [("d1", "aa:x"), ("d2", "aa:x"), ("d3", "bb:y")],
        "doc_id string, block_key string",
    )
    no_true = spark.createDataFrame(
        [("d1", "d3", False)],
        "doc_id_1 string, doc_id_2 string, is_match boolean",
    )
    rows = blocking_plan(keys, no_true, families=("aa", "bb")).collect()
    assert len(rows) == 3
    assert all(r["n_true"] == 0 and r["recall"] == 0.0 for r in rows)
    assert sum(r["chosen"] for r in rows) == 1
    # no candidate pairs at all: still 2^k - 1 rows
    lonely = spark.createDataFrame(
        [("d1", "aa:x")], "doc_id string, block_key string"
    )
    rows2 = blocking_plan(lonely, no_true, families=("aa",)).collect()
    assert len(rows2) == 1 and rows2[0]["n_pairs"] == 0


def test_qgram_blocking_catches_mid_string_typos(spark):
    """A mid-string edit that breaks prefix, suffix, AND token keys
    still shares q-grams on both flanks; df pruning bounds blocks and
    per-doc repeats dedup."""
    from record_linkage_ldu_spark.operators.blocking import (
        candidate_pairs,
        qgram_block_keys,
    )

    records = spark.createDataFrame(
        [
            ("d1", "annakarenina smith"),
            ("d2", "annakarXnina smith"),   # mid-string typo
            ("d3", "zzzzzzzzzz"),           # shares nothing
            ("d4", "bananabanana banana"),  # repeated grams
            ("d5", "bananabanana banana"),
        ],
        "doc_id string, name string",
    )
    keys = qgram_block_keys(records, q=5)
    pairs = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in candidate_pairs(keys).collect()
    }
    assert ("d1", "d2") in pairs          # flank q-grams survive
    assert not any("d3" in p for p in pairs)
    assert ("d4", "d5") in pairs
    # per-doc dedup: d4's repeated 'anana' counts once toward df
    per_doc = keys.groupBy("doc_id", "block_key").count().collect()
    assert all(r["count"] == 1 for r in per_doc)


def test_stringmap_blocking_triangle_property(spark):
    """Values within small edit distance share a grid cell even with
    no shared prefix/suffix/q-gram window; distant values separate;
    df pruning drops mega-cells."""
    from record_linkage_ldu_spark.operators.blocking import (
        candidate_pairs,
        stringmap_block_keys,
    )

    # d4/d5: one substitution apart; every 5-gram window differs from
    # d4 only at the edit site, but prefix AND suffix both break at
    # q=len? Construct: single char edit in the MIDDLE of a short
    # string so coordinates move by at most 1 (triangle inequality).
    records = spark.createDataFrame(
        [
            ("d1", "alpha"), ("d2", "bravo"),            # pivots
            ("d3", "charlie"), ("d0", "deltaecho"),      # pivots
            ("d4", "foxtrotgolf"),
            ("d5", "foxtrAtgolf"),                       # 1 edit from d4
            ("d6", "zzzzzzzzzzzzzzzzzzzzzzzz"),          # far away
        ],
        "doc_id string, name string",
    )
    keys = stringmap_block_keys(records, n_pivots=4, cell=4.0, max_df=10)
    pairs = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in candidate_pairs(keys).collect()
    }
    assert ("d4", "d5") in pairs
    assert not any("d6" in p for p in pairs)
    # one key per doc (grid cell), prefixed
    per_doc = keys.groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in per_doc)
    assert all(
        r["block_key"].startswith("sm:") for r in keys.collect()
    )


def test_nysiis_and_nickname_key_families(spark):
    """The r4c BlockingConfig knobs: default-off (roster unchanged),
    and when enabled each family emits one prefixed key per record —
    with the nk: key bridging a nickname pair soundex splits."""
    from record_linkage_ldu_spark.operators.blocking import (
        BlockingConfig,
        block_keys,
    )

    recs = spark.createDataFrame(
        [
            ("d1", "bob smith", "5551234"),
            ("d2", "robert smith", "5559999"),
        ],
        "doc_id string, name string, phone string",
    )
    default_keys = block_keys(recs, BlockingConfig())
    assert not [
        r
        for r in default_keys.collect()
        if r["block_key"].startswith(("ny:", "nk:"))
    ]
    cfg = BlockingConfig(use_nysiis=True, use_nickname_soundex=True)
    rows = block_keys(recs, cfg).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["block_key"])
    ny = {d: {k for k in ks if k.startswith("ny:")} for d, ks in by_doc.items()}
    nk = {d: {k for k in ks if k.startswith("nk:")} for d, ks in by_doc.items()}
    assert len(ny["d1"]) == 1 and len(ny["d2"]) == 1
    # nickname folding bridges bob<->robert; plain soundex does not
    assert nk["d1"] == nk["d2"]
    sx = {d: {k for k in ks if k.startswith("sx:")} for d, ks in by_doc.items()}
    assert sx["d1"] != sx["d2"]


def test_wnp_prune_adaptive_threshold(spark):
    """WNP semantics: a dense node sheds its below-average pairs, a
    sparse node's only (weak) pair survives through ITS endpoint's
    average even when the other endpoint is dense."""
    from record_linkage_ldu_spark.operators.blocking import wnp_prune

    # hub h: weights 5,5,1 (avg 11/3≈3.67) — the weight-1 pair dies
    # UNLESS its other endpoint is sparse (s's avg = 1 keeps it)
    cbs = spark.createDataFrame(
        [
            ("h", "a", 5), ("h", "b", 5), ("h", "s", 1),
            ("x", "y", 2),
        ],
        "doc_id_1 string, doc_id_2 string, n_shared_blocks long",
    )
    kept = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in wnp_prune(cbs).collect()
    }
    # (h,s): h's avg 3.67 > 1 but s's avg is 1 -> kept via s
    assert ("h", "s") in kept
    assert ("h", "a") in kept and ("h", "b") in kept
    assert ("x", "y") in kept  # both avgs are 2
    # now make s dense with strong pairs: (h,s) loses both lifelines
    cbs2 = spark.createDataFrame(
        [
            ("h", "a", 5), ("h", "b", 5), ("h", "s", 1),
            ("s", "t", 4), ("s", "u", 4),
        ],
        "doc_id_1 string, doc_id_2 string, n_shared_blocks long",
    )
    kept2 = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in wnp_prune(cbs2).collect()
    }
    assert ("h", "s") not in kept2
    assert ("s", "t") in kept2 and ("s", "u") in kept2


def test_blocking_miss_diagnosis_names_the_rescuing_family(spark):
    """Every miss of the soundex-only scheme is (a) reachable under
    the full multi-key union (blocking recall stays 1.0) and (b)
    explained: both sides carry at least one non-sx family."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    missed = E.queries()["blocking_miss_diagnosis"](spark, sf)
    rows = missed.collect()
    assert rows, "sx-only scheme should miss some labeled pairs"
    for r in rows:
        fams1 = set(r["families_1"].split(","))
        fams2 = set(r["families_2"].split(","))
        assert fams1 - {"sx"} and fams2 - {"sx"}, r
    # the full scheme covers every one of them
    cands = E._cand_pairs(spark, sf)
    uncovered = missed.join(
        cands, ["doc_id_1", "doc_id_2"], "left_anti"
    ).count()
    assert uncovered == 0
