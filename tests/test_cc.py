"""Connected components on known graphs (SURVEY.md §5): chain, star,
two components, singletons — asserting the *documented* transitive
semantics (main_ldu_hw.py:27-28), for both algorithms."""

import pytest

from record_linkage_ldu_spark.operators.cc import connected_components

GRAPHS = {
    "chain": (
        [("a", "b"), ("b", "c"), ("c", "d")],
        {"a": "a", "b": "a", "c": "a", "d": "a"},
    ),
    "star": (
        [("hub", "s1"), ("hub", "s2"), ("hub", "s3")],
        {"hub": "hub", "s1": "hub", "s2": "hub", "s3": "hub"},
    ),
    "two_components": (
        [("a", "b"), ("c", "d"), ("d", "e")],
        {"a": "a", "b": "a", "c": "c", "d": "c", "e": "c"},
    ),
    "triangle_plus_edge": (
        [("x", "y"), ("y", "z"), ("x", "z"), ("p", "q")],
        {"x": "x", "y": "x", "z": "x", "p": "p", "q": "p"},
    ),
    "reversed_ids": (  # min label must win regardless of edge direction
        [("z9", "z1"), ("z1", "z5")],
        {"z1": "z1", "z5": "z1", "z9": "z1"},
    ),
    "long_chain": (
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)],
        {f"n{i:02d}": "n00" for i in range(13)},
    ),
}


@pytest.mark.parametrize("method", ["alternating-star", "label-prop", "driver-uf"])
@pytest.mark.parametrize("name", list(GRAPHS))
def test_cc_golden(spark, method, name):
    edges, expected = GRAPHS[name]
    df = spark.createDataFrame(edges, ["doc_id_1", "doc_id_2"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, method=method).collect()
    }
    assert got == expected


@pytest.mark.parametrize("method", ["alternating-star", "label-prop", "driver-uf"])
def test_cc_singletons_via_vertices(spark, method):
    edges = spark.createDataFrame([("a", "b")], ["doc_id_1", "doc_id_2"])
    verts = spark.createDataFrame([("a",), ("b",), ("lonely",)], ["doc_id"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges, vertices=verts, method=method).collect()
    }
    assert got == {"a": "a", "b": "a", "lonely": "lonely"}


def test_cc_empty_edges(spark):
    edges = spark.createDataFrame([], "doc_id_1 string, doc_id_2 string")
    verts = spark.createDataFrame([("a",), ("b",)], ["doc_id"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {"a": "a", "b": "b"}


def test_cc_methods_agree_on_random_graph(spark):
    import random

    rng = random.Random(3)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    df = spark.createDataFrame(edges, ["doc_id_1", "doc_id_2"])
    a = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, method="alternating-star").collect()
    }
    b = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, method="label-prop").collect()
    }
    assert a == b


def test_cc_methods_agree_driver_uf(spark):
    import random

    rng = random.Random(7)
    nodes = [f"w{i:03d}" for i in range(150)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(180)]
    df = spark.createDataFrame(edges, ["doc_id_1", "doc_id_2"])
    star = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, method="alternating-star").collect()
    }
    uf = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df, method="driver-uf").collect()
    }
    assert star == uf


def test_cc_auto_dispatch(spark, monkeypatch):
    """auto -> driver-uf under the gate, alternating-star above it."""
    from record_linkage_ldu_spark.operators import cc as cc_mod

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["doc_id_1", "doc_id_2"]
    )
    expected = {"a": "a", "b": "a", "c": "a"}
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges, method="auto").collect()
    }
    assert got == expected
    # force the distributed path by shrinking the gate to zero
    monkeypatch.setattr(cc_mod, "DRIVER_UF_MAX_EDGES", 0)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges, method="auto").collect()
    }
    assert got == expected


def test_golden_records_survivorship(spark):
    """One golden row per cluster: modal non-empty value per field,
    ties broken by value ascending, all-empty fields NULL, singletons
    pass through."""
    from record_linkage_ldu_spark.operators.evaluate import golden_records

    records = spark.createDataFrame(
        [
            # cluster A: 'acme corp' wins name 2-1; phone tie 1-1 ->
            # lexicographically smaller '111' wins; email all empty
            ("a1", "acme corp", "111", "", "1 main st"),
            ("a2", "acme corp", "222", None, "1 main st"),
            ("a3", "acme inc", "", "", "1 main st"),
            # singleton cluster B
            ("b1", "solo llc", "999", "s@x.com", ""),
        ],
        "doc_id string, name string, phone string, email string, "
        "address string",
    )
    clusters = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("a3", "a1"), ("b1", "b1")],
        "doc_id string, cluster_id string",
    )
    out = {r["cluster_id"]: r for r in golden_records(records, clusters).collect()}
    a = out["a1"]
    assert (a["cluster_size"], a["name"], a["phone"], a["email"], a["address"]) == (
        3, "acme corp", "111", None, "1 main st",
    )
    b = out["b1"]
    assert (b["cluster_size"], b["name"], b["email"], b["address"]) == (
        1, "solo llc", "s@x.com", None,
    )


def test_cluster_metrics_hand_computed(spark):
    """B-cubed P/R/F1 + ARI on a hand-worked 6-doc contingency:
    gold {d1,d2,d3}{d4,d5}{d6}, predicted {d1,d2}{d3,d4,d5}{d6} ->
    B3P = B3R = 14/18 = 0.777778, ARI = (2 - 16/15)/(4 - 16/15)."""
    from record_linkage_ldu_spark.operators.evaluate import cluster_metrics

    clusters = spark.createDataFrame(
        [("d1", "c1"), ("d2", "c1"), ("d3", "c2"),
         ("d4", "c2"), ("d5", "c2"), ("d6", "c3")],
        "doc_id string, cluster_id string",
    )
    gold = spark.createDataFrame(
        [("d1", "g1"), ("d2", "g1"), ("d3", "g1"),
         ("d4", "g2"), ("d5", "g2"), ("d6", "g3")],
        "doc_id string, gold_id string",
    )
    row = cluster_metrics(clusters, gold).collect()[0]
    assert (row["n_docs"], row["n_clusters"], row["n_gold"]) == (6, 3, 3)
    assert row["b3_precision"] == 0.777778
    assert row["b3_recall"] == 0.777778
    assert row["b3_f1"] == 0.777778
    assert row["ari"] == round((2 - 16 / 15) / (4 - 16 / 15), 6)


def test_cluster_metrics_perfect_and_degenerate(spark):
    """Identical partitions score 1.0 everywhere; the all-singletons
    vs all-singletons case hits the 0/0 ARI guard and returns 1.0."""
    from record_linkage_ldu_spark.operators.evaluate import cluster_metrics

    part = spark.createDataFrame(
        [("d1", "x"), ("d2", "x"), ("d3", "y")],
        "doc_id string, cluster_id string",
    )
    gold = part.withColumnRenamed("cluster_id", "gold_id")
    row = cluster_metrics(part, gold).collect()[0]
    assert (row["b3_precision"], row["b3_recall"], row["b3_f1"], row["ari"]) == (
        1.0, 1.0, 1.0, 1.0,
    )

    singles = spark.createDataFrame(
        [("d1", "a"), ("d2", "b"), ("d3", "c")],
        "doc_id string, cluster_id string",
    )
    row = cluster_metrics(
        singles, singles.withColumnRenamed("cluster_id", "gold_id")
    ).collect()[0]
    assert (row["b3_f1"], row["ari"]) == (1.0, 1.0)


def test_clustering_agreement_hand_computed(spark):
    """V-measure/NMI on the same 6-doc contingency as the B-cubed
    test; this split is symmetric (H(G|C) == H(C|G), H(G) == H(C)) so
    homogeneity == completeness == V == NMI, hand-derived."""
    import math

    from record_linkage_ldu_spark.operators.evaluate import (
        clustering_agreement,
    )

    clusters = spark.createDataFrame(
        [("d1", "c1"), ("d2", "c1"), ("d3", "c2"),
         ("d4", "c2"), ("d5", "c2"), ("d6", "c3")],
        "doc_id string, cluster_id string",
    )
    gold = spark.createDataFrame(
        [("d1", "g1"), ("d2", "g1"), ("d3", "g1"),
         ("d4", "g2"), ("d5", "g2"), ("d6", "g3")],
        "doc_id string, gold_id string",
    )
    cond = (math.log(3) + 2 * math.log(1.5)) / 6
    ent = -(
        0.5 * math.log(0.5)
        + math.log(1 / 3) / 3
        + math.log(1 / 6) / 6
    )
    expected = round(1 - cond / ent, 6)
    row = clustering_agreement(clusters, gold).collect()[0]
    assert row["n_docs"] == 6
    assert row["homogeneity"] == expected
    assert row["completeness"] == expected
    assert row["v_measure"] == expected
    assert row["nmi"] == expected


def test_clustering_agreement_names_the_failure_mode(spark):
    """A merged cluster costs homogeneity ONLY (completeness 1.0 by
    the zero-entropy convention); a fragmented entity costs
    completeness ONLY; perfect nontrivial agreement scores 1.0 across
    the board."""
    from record_linkage_ldu_spark.operators.evaluate import (
        clustering_agreement,
    )

    two_gold = spark.createDataFrame(
        [("d1", "g1"), ("d2", "g1"), ("d3", "g2"), ("d4", "g2")],
        "doc_id string, gold_id string",
    )
    merged = spark.createDataFrame(
        [("d1", "c"), ("d2", "c"), ("d3", "c"), ("d4", "c")],
        "doc_id string, cluster_id string",
    )
    row = clustering_agreement(merged, two_gold).collect()[0]
    assert (row["homogeneity"], row["completeness"]) == (0.0, 1.0)
    assert (row["v_measure"], row["nmi"]) == (0.0, 0.0)

    one_gold = spark.createDataFrame(
        [(f"d{i}", "g") for i in range(1, 5)],
        "doc_id string, gold_id string",
    )
    split = spark.createDataFrame(
        [("d1", "c1"), ("d2", "c1"), ("d3", "c2"), ("d4", "c2")],
        "doc_id string, cluster_id string",
    )
    row = clustering_agreement(split, one_gold).collect()[0]
    assert (row["homogeneity"], row["completeness"]) == (1.0, 0.0)
    assert (row["v_measure"], row["nmi"]) == (0.0, 0.0)

    row = clustering_agreement(split, two_gold).collect()[0]
    assert (
        row["homogeneity"], row["completeness"],
        row["v_measure"], row["nmi"],
    ) == (1.0, 1.0, 1.0, 1.0)


def test_edge_corroboration_triangle_plus_bridge(spark):
    """Triangle edges are corroborated by the third vertex (weighted
    1/ln(deg)); the bridge edge scores 0 — the cluster-chaining-risk
    ranking property."""
    import math

    from record_linkage_ldu_spark.operators.cc import edge_corroboration

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
        "doc_id_1 string, doc_id_2 string",
    )
    out = {
        (r["doc_id_1"], r["doc_id_2"]): (r["n_common"], r["adamic_adar"])
        for r in edge_corroboration(edges).collect()
    }
    assert len(out) == 4
    assert out[("a", "b")] == (1, round(1 / math.log(3), 6))  # via c, deg(c)=3
    assert out[("a", "c")] == (1, round(1 / math.log(2), 6))  # via b, deg(b)=2
    assert out[("b", "c")] == (1, round(1 / math.log(2), 6))  # via a, deg(a)=2
    assert out[("c", "d")] == (0, 0.0)                        # lone bridge


def test_cluster_cohesion_density_and_weak_edge(spark):
    """Density = edges/C(n,2); min/avg surface the weakest edge; only
    size>=2 clusters are reported."""
    from record_linkage_ldu_spark.operators.evaluate import cluster_cohesion

    clusters = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k1"), ("e", "k2"), ("f", "k2"),
         ("z", "k3")],
        "doc_id string, cluster_id string",
    )
    edges = spark.createDataFrame(
        [("a", "b", 5.0), ("b", "c", 3.0), ("e", "f", 2.0)],
        "doc_id_1 string, doc_id_2 string, score double",
    )
    out = {r["cluster_id"]: r for r in cluster_cohesion(clusters, edges).collect()}
    assert set(out) == {"k1", "k2"}  # singleton k3 excluded
    k1 = out["k1"]
    assert (k1["n_members"], k1["n_edges"]) == (3, 2)
    assert k1["density"] == round(2 / 3, 6)
    assert (k1["min_score"], k1["avg_score"]) == (3.0, 4.0)
    assert (out["k2"]["density"], out["k2"]["min_score"]) == (1.0, 2.0)


def test_repair_clusters_drops_weak_uncorroborated_bridges(spark):
    """A weak uncorroborated bridge splits; a high-score bridge holds;
    a triangle of weak edges holds (every edge corroborated)."""
    from record_linkage_ldu_spark.operators.cc import repair_clusters

    edges = spark.createDataFrame(
        [
            ("a", "b", 5.5),  # strong bridge: kept by min_score
            ("b", "c", 3.0),  # weak uncorroborated bridge: dropped
            ("d", "e", 3.0), ("e", "f", 3.0), ("d", "f", 3.0),  # triangle
        ],
        "doc_id_1 string, doc_id_2 string, score double",
    )
    vertices = spark.createDataFrame(
        [(x,) for x in "abcdefg"], "doc_id string"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in repair_clusters(
            edges, vertices, min_common=1, min_score=5.0
        ).collect()
    }
    assert out["a"] == out["b"]          # strong edge survives
    assert out["c"] != out["b"]          # weak bridge split off
    assert out["d"] == out["e"] == out["f"]  # corroborated triangle holds
    assert out["g"] not in (out["a"], out["d"])  # singleton stays


def test_threshold_curve_hand_computed(spark):
    """P/R/F1 per threshold; fn includes labeled pairs blocking never
    reached."""
    from record_linkage_ldu_spark.operators.evaluate import threshold_curve

    scored = spark.createDataFrame(
        [("a", "b", 5.0), ("c", "d", 3.0), ("e", "f", 1.0)],
        "doc_id_1 string, doc_id_2 string, score double",
    )
    labels = spark.createDataFrame(
        [("a", "b", True), ("e", "f", True), ("g", "h", True)],
        "doc_id_1 string, doc_id_2 string, is_match boolean",
    )
    out = {
        r["threshold"]: r
        for r in threshold_curve(scored, labels, thresholds=(2.0, 4.0)).collect()
    }
    t2 = out[2.0]
    assert (t2["tp"], t2["fp"], t2["fn"]) == (1, 1, 2)
    assert (t2["precision"], t2["recall"], t2["f1"]) == (0.5, round(1 / 3, 6), 0.4)
    t4 = out[4.0]
    assert (t4["tp"], t4["fp"], t4["fn"]) == (1, 0, 2)
    assert (t4["precision"], t4["recall"]) == (1.0, round(1 / 3, 6))
    assert t4["f1"] == 0.5


def test_threshold_curve_negative_labels_and_storage_order(spark):
    """Labeled NON-matches outside the candidate set must not count as
    false negatives, and (b, a) storage order / duplicate scored rows
    must not double-count — regression for the r4 review findings."""
    from record_linkage_ldu_spark.operators.evaluate import threshold_curve

    # one true pair scored high, stored in REVERSED order + duplicated
    scored = spark.createDataFrame(
        [("b", "a", 5.0), ("a", "b", 5.0), ("c", "d", 1.0)],
        "doc_id_1 string, doc_id_2 string, score double",
    )
    labels = spark.createDataFrame(
        # the true pair, a labeled negative inside the candidate set,
        # and 5 labeled negatives blocking never reached
        [("a", "b", True), ("c", "d", False)]
        + [(f"n{i}", f"m{i}", False) for i in range(5)],
        "doc_id_1 string, doc_id_2 string, is_match boolean",
    )
    row = threshold_curve(scored, labels, thresholds=(2.0,)).collect()[0]
    # tp=1 (a,b counted ONCE), fp=0 (c,d below threshold), fn=0 (no
    # true label missed; the 5 unreached negatives are not misses)
    assert (row["tp"], row["fp"], row["fn"]) == (1, 0, 0)
    assert (row["precision"], row["recall"], row["f1"]) == (1.0, 1.0, 1.0)


def test_star_clusters_depth_one_and_chain_break(spark):
    """Star clustering: clusters are depth-1 stars around locally
    strongest centers; a long chain does NOT collapse into one cluster
    (the anti-chaining property CC lacks); isolated vertices are
    singletons; cluster_id is always the center's doc_id."""
    from record_linkage_ldu_spark.operators.cc import star_clusters

    # triangle {a,b,c} with a heavy hub b + a 5-node chain v-w-x-y-z
    edges = spark.createDataFrame(
        [
            ("a", "b", 5.0), ("b", "c", 5.0), ("a", "c", 1.0),
            ("v", "w", 2.0), ("w", "x", 2.0), ("x", "y", 2.0),
            ("y", "z", 2.0),
        ],
        "doc_id_1 string, doc_id_2 string, score double",
    )
    vertices = spark.createDataFrame(
        [(d,) for d in "abcvwxyz"] + [("lonely",)], "doc_id string"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in star_clusters(edges, vertices=vertices).collect()
    }
    # triangle: b has strength 10 (a=6, c=6) -> center b, all join b
    assert out["a"] == out["b"] == out["c"] == "b"
    # chain strengths: v=2, w=4, x=4, y=4, z=2 -> center = y (max
    # (strength, id)); x and z join y; w's only center-neighbor check:
    # neighbors v,x are non-centers -> uncovered singleton; same v
    assert out["x"] == out["y"] == out["z"] == "y"
    assert out["w"] == "w" and out["v"] == "v"   # chain broken, not merged
    assert out["lonely"] == "lonely"             # isolated vertex
    # every cluster id is a member of its own cluster (star center)
    for doc, cid in out.items():
        assert out[cid] == cid


def test_progressive_schedule_front_loads_true_matches(spark):
    """Pay-as-you-go schedule: (a) a pair corroborated by TWO shared
    blocks outranks single-block pairs; among single-block pairs the
    rarer block outranks the crowd; (b) bucket counts partition the
    full candidate set; (c) cum_recall is end-to-end (a labeled pair
    blocking never saw keeps the curve below 1.0)."""
    from record_linkage_ldu_spark.operators.evaluate import (
        progressive_recall_curve,
    )
    # t1/t2: share blocks K1 AND K2 (true match). r1/r2: share only
    # rare block K3 (true match). crowd c0..c7: one 8-doc block KBIG
    # (28 false pairs). m1/m2: labeled true but share NO block.
    keys = spark.createDataFrame(
        [("t1", "K1"), ("t2", "K1"), ("t1", "K2"), ("t2", "K2"),
         ("r1", "K3"), ("r2", "K3")]
        + [(f"c{i}", "KBIG") for i in range(8)],
        "doc_id string, block_key string",
    )
    labeled = spark.createDataFrame(
        [("t1", "t2", True), ("r1", "r2", True), ("m1", "m2", True)],
        "doc_id_1 string, doc_id_2 string, is_match boolean",
    )
    curve = progressive_recall_curve(keys, labeled, n_buckets=10).cache()
    rows = {r["budget_bucket"]: r for r in curve.collect()}

    # 30 candidate pairs total -> 3 per decile; the two true pairs
    # (2-block corroborated, then rare-block) rank 1 and 2
    assert sum(r["n_pairs"] for r in rows.values()) == 30
    assert rows[1]["n_true"] == 2
    # end-to-end denominator: m1/m2 was never blocked -> plateau 2/3
    last = max(rows)
    assert rows[last]["cum_true"] == 2
    assert abs(rows[last]["cum_recall"] - round(2 / 3, 6)) < 1e-9
    assert rows[last]["cum_pairs"] == 30


def test_cannot_link_audit_violated_and_honored(spark):
    """A constraint whose pair stays connected through an alternate
    path is flagged violated; a constraint that actually separates the
    pair is honored; constraint pairs land in the audit exactly once."""
    from record_linkage_ldu_spark.operators.cc import cannot_link_audit

    # a-b-c-a triangle (removing a-b leaves a-c-b path -> violated)
    # d-e isolated edge (removing it separates d and e -> honored)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("d", "e")],
        "doc_id_1 string, doc_id_2 string",
    )
    cannot = spark.createDataFrame(
        [("a", "b"), ("d", "e")], "doc_id_1 string, doc_id_2 string"
    )
    vertices = spark.createDataFrame(
        [(x,) for x in "abcde"], "doc_id string"
    )
    out = {
        (r["doc_id_1"], r["doc_id_2"]): r
        for r in cannot_link_audit(edges, cannot, vertices).collect()
    }
    assert set(out) == {("a", "b"), ("d", "e")}
    assert out[("a", "b")]["violated"] is True
    assert out[("a", "b")]["cluster_id_1"] == out[("a", "b")]["cluster_id_2"]
    assert out[("d", "e")]["violated"] is False
    assert out[("d", "e")]["cluster_id_1"] != out[("d", "e")]["cluster_id_2"]


def test_cannot_link_audit_empty_constraints(spark):
    """No constraints -> empty audit, no error."""
    from record_linkage_ldu_spark.operators.cc import cannot_link_audit

    edges = spark.createDataFrame(
        [("a", "b")], "doc_id_1 string, doc_id_2 string"
    )
    cannot = spark.createDataFrame([], "doc_id_1 string, doc_id_2 string")
    vertices = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    assert cannot_link_audit(edges, cannot, vertices).count() == 0


def test_stable_cluster_ids_carry_split_new(spark):
    """Carryover on max overlap, split resolution (one winner per
    previous id), and namespaced ids for losers/new clusters."""
    from record_linkage_ldu_spark.operators.cc import stable_cluster_ids

    # prev: one cluster {a,b,c} labeled 'a'; singleton {z}
    prev = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")],
        "doc_id string, cluster_id string",
    )
    # curr: prev cluster split into {a,b} ('a') and {c,d} ('c');
    # {m,n} ('m') is brand new (no member in prev)
    curr = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c"),
         ("m", "m"), ("n", "m")],
        "doc_id string, cluster_id string",
    )
    out = {
        r["cluster_id"]: r
        for r in stable_cluster_ids(prev, curr).collect()
    }
    assert set(out) == {"a", "c", "m"}
    # {a,b} overlaps prev 'a' by 2 -> wins the claim, keeps the id
    assert out["a"]["stable_id"] == "a"
    assert out["a"]["carried"] is True
    assert out["a"]["overlap"] == 2
    assert out["a"]["n_members"] == 2
    # {c,d} overlaps prev 'a' by 1 -> loses the claim -> minted id
    assert out["c"]["stable_id"] == "new:c"
    assert out["c"]["carried"] is False
    # {m,n} has no prev members at all -> minted id, overlap 0
    assert out["m"]["stable_id"] == "new:m"
    assert out["m"]["carried"] is False
    assert out["m"]["overlap"] == 0
    # stable ids stay unique
    assert len({r["stable_id"] for r in out.values()}) == 3


def test_stable_cluster_ids_merge_ties_break_deterministically(spark):
    """A merge (two prev clusters -> one curr cluster) carries the
    prev id with max overlap; equal overlaps break to the min prev id."""
    from record_linkage_ldu_spark.operators.cc import stable_cluster_ids

    prev = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")],
        "doc_id string, cluster_id string",
    )
    curr = spark.createDataFrame(
        [(x, "a") for x in "abcd"], "doc_id string, cluster_id string"
    )
    row = stable_cluster_ids(prev, curr).collect()[0]
    assert row["stable_id"] == "a"  # 2-2 tie -> min prev id
    assert row["carried"] is True
    assert row["overlap"] == 2
    assert row["n_members"] == 4


def test_survivorship_conflicts_reports_overridden_values(spark):
    """Only conflicted (cluster, field) cells surface; chosen matches
    golden_records' modal-with-tiebreak rule; runner-up is reported."""
    from record_linkage_ldu_spark.operators.evaluate import (
        golden_records,
        survivorship_conflicts,
    )

    records = spark.createDataFrame(
        [
            # c1: name 2-1 split (conflict), phone unanimous (no row)
            ("a", "acme", "111", "", ""),
            ("b", "acme", "111", "", ""),
            ("c", "acme inc", "111", "", ""),
            # c2: email 1-1 tie -> lexicographic winner, both reported
            ("d", "", "", "x@y.z", ""),
            ("e", "", "", "w@y.z", ""),
        ],
        "doc_id string, name string, phone string, email string, address string",
    )
    clusters = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1"), ("d", "c2"), ("e", "c2")],
        "doc_id string, cluster_id string",
    )
    out = {
        (r["cluster_id"], r["field"]): r
        for r in survivorship_conflicts(records, clusters).collect()
    }
    assert set(out) == {("c1", "name"), ("c2", "email")}
    r = out[("c1", "name")]
    assert (r["chosen"], r["chosen_n"]) == ("acme", 2)
    assert (r["runner_up"], r["runner_up_n"]) == ("acme inc", 1)
    assert r["n_values"] == 2
    tie = out[("c2", "email")]
    assert (tie["chosen"], tie["runner_up"]) == ("w@y.z", "x@y.z")
    assert tie["chosen_n"] == tie["runner_up_n"] == 1
    # the chosen value always agrees with the golden record itself
    golden = {
        r["cluster_id"]: r for r in golden_records(records, clusters).collect()
    }
    assert golden["c1"]["name"] == "acme"
    assert golden["c2"]["email"] == "w@y.z"


def test_constrained_clusters_must_and_cannot(spark):
    """Cannot-link removes the direct edge; must-link joins unlinked
    docs; a pair in BOTH lists stays linked (must wins)."""
    from record_linkage_ldu_spark.operators.cc import constrained_clusters

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("e", "f")],
        "doc_id_1 string, doc_id_2 string",
    )
    must = spark.createDataFrame(
        [("g", "h"), ("e", "f")], "doc_id_1 string, doc_id_2 string"
    )
    cannot = spark.createDataFrame(
        [("a", "b"), ("e", "f")], "doc_id_1 string, doc_id_2 string"
    )
    vertices = spark.createDataFrame(
        [(x,) for x in "abcdefgh"], "doc_id string"
    )
    cl = {
        r["doc_id"]: r["cluster_id"]
        for r in constrained_clusters(edges, must, cannot, vertices).collect()
    }
    assert cl["a"] != cl["b"]          # cannot-link honored
    assert cl["c"] == cl["d"]          # untouched edge intact
    assert cl["g"] == cl["h"]          # must-link applied
    assert cl["e"] == cl["f"]          # must wins the direct conflict
    assert len(cl) == 8


def test_cluster_error_taxonomy_four_statuses(spark):
    from record_linkage_ldu_spark.operators.evaluate import (
        cluster_error_taxonomy,
    )

    # e1 pure in c1; e2 fragmented (c2,c3); e3+e4 merged in c4;
    # e5 fragmented AND merged (c4 and c5, c4 shared with e3/e4)
    clusters = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"),
         ("c", "c2"), ("d", "c3"),
         ("e", "c4"), ("f", "c4"),
         ("g", "c4"), ("h", "c5")],
        "doc_id string, cluster_id string",
    )
    gold = spark.createDataFrame(
        [("a", "e1"), ("b", "e1"), ("c", "e2"), ("d", "e2"),
         ("e", "e3"), ("f", "e4"), ("g", "e5"), ("h", "e5")],
        "doc_id string, entity string",
    )
    out = {
        r["entity"]: r
        for r in cluster_error_taxonomy(clusters, gold).collect()
    }
    assert out["e1"]["status"] == "pure"
    assert out["e1"]["n_clusters"] == 1
    assert out["e1"]["max_cluster_entities"] == 1
    assert out["e2"]["status"] == "fragmented"
    assert out["e2"]["n_clusters"] == 2
    assert out["e3"]["status"] == "merged"
    assert out["e3"]["max_cluster_entities"] == 3
    assert out["e4"]["status"] == "merged"
    assert out["e5"]["status"] == "fragmented+merged"
    assert out["e5"]["n_docs"] == 2


def test_cannot_link_audit_unknown_doc_still_audited(spark):
    """A constraint naming a doc absent from vertices keeps its audit
    row (NULL cluster ids, violated False) — never silently dropped."""
    from record_linkage_ldu_spark.operators.cc import cannot_link_audit

    edges = spark.createDataFrame(
        [("a", "b")], "doc_id_1 string, doc_id_2 string"
    )
    cannot = spark.createDataFrame(
        [("a", "zzz")], "doc_id_1 string, doc_id_2 string"
    )
    vertices = spark.createDataFrame([("a",), ("b",)], "doc_id string")
    out = cannot_link_audit(edges, cannot, vertices).collect()
    assert len(out) == 1
    assert out[0]["violated"] is False
    assert out[0]["cluster_id_2"] is None
    assert out[0]["cluster_id_1"] is not None


def test_cluster_growth_curve_monotone_and_giant_component(spark):
    """Raising the cutoff never grows edges/linked docs/largest
    cluster; a low cutoff over a chain shows the giant component."""
    from record_linkage_ldu_spark.operators.evaluate import (
        cluster_growth_curve,
    )

    # chain a-b-c-d at score 5.0; strong pair e-f at 6.0
    scored = spark.createDataFrame(
        [("a", "b", 5.0), ("b", "c", 5.0), ("c", "d", 5.0),
         ("e", "f", 6.0)],
        "doc_id_1 string, doc_id_2 string, score double",
    )
    vertices = spark.createDataFrame(
        [(x,) for x in "abcdef"], "doc_id string"
    )
    rows = {
        r["threshold"]: r
        for r in cluster_growth_curve(
            scored, vertices, thresholds=(4.9, 5.5)
        ).collect()
    }
    low, high = rows[4.9], rows[5.5]
    assert low["n_edges"] == 4 and high["n_edges"] == 1
    assert low["largest_cluster"] == 4      # the chain merged
    assert high["largest_cluster"] == 2     # only e-f survives
    assert low["n_linked_docs"] == 6 and high["n_linked_docs"] == 2
    assert low["n_clusters"] == 2 and high["n_clusters"] == 1


def test_pagerank_star_and_floor(spark):
    """4-node star + 1 isolated node: the hub outranks leaves, the
    isolated node sits exactly at the (1-d)/N floor, total mass stays
    <= 1 (dangling mass not redistributed), and one hand-computed
    iteration matches."""
    from record_linkage_ldu_spark.operators.cc import pagerank

    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c")],
        "doc_id_1 string, doc_id_2 string",
    )
    nodes = spark.createDataFrame(
        [("h",), ("a",), ("b",), ("c",), ("iso",)], "doc_id string"
    )
    out = {r["doc_id"]: r["rank"]
           for r in pagerank(edges, nodes, iterations=1).collect()}
    n, d = 5, 0.85
    base = round((1 - d) / n, 6)
    r0 = round(1 / n, 6)
    # leaves have degree 1 (only edge to h); h has degree 3
    assert out["iso"] == base
    assert out["h"] == round(base + d * (3 * (r0 / 1)), 6)
    assert out["a"] == round(base + d * (r0 / 3), 6)
    assert out["a"] == out["b"] == out["c"]

    out6 = {r["doc_id"]: r["rank"]
            for r in pagerank(edges, nodes, iterations=6).collect()}
    assert out6["h"] > out6["a"] > 0
    assert out6["iso"] == base
    assert sum(out6.values()) <= 1.0 + 1e-6


def test_topk_edge_sparsify_busts_hairball(spark):
    """A promiscuous hub (placeholder-email pathology) welds two
    genuine entities under plain CC; mutual top-k sparsification
    drops the weak hub edges and keeps both real clusters intact."""
    from record_linkage_ldu_spark.operators.cc import (
        connected_components,
        topk_edge_sparsify,
    )

    # two tight triangles {a1,a2,a3} and {b1,b2,b3} (score 5.0),
    # plus hub h weakly linked to every node (score 3.5)
    strong = [
        ("a1", "a2", 5.0), ("a1", "a3", 5.0), ("a2", "a3", 5.0),
        ("b1", "b2", 5.0), ("b1", "b3", 5.0), ("b2", "b3", 5.0),
    ]
    weak = [("h", n, 3.5) for n in ["a1", "a2", "a3", "b1", "b2", "b3"]]
    edges = spark.createDataFrame(
        strong + weak, "doc_id_1 string, doc_id_2 string, score double"
    )
    full = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(
            edges.select("doc_id_1", "doc_id_2")
        ).collect()
    }
    # plain CC: one hairball (everything reaches everything through h)
    assert len({c for _, c in full}) == 1

    kept = topk_edge_sparsify(edges, k=2, mode="mutual", pin=False)
    kept_pairs = {tuple(r) for r in kept.collect()}
    # every strong edge survives (it is top-2 for both endpoints);
    # hub edges die: h's side ranks them, but a1 prefers a2/a3
    assert set(map(tuple, ((a, b) for a, b, _ in strong))) <= kept_pairs
    assert not [p for p in kept_pairs if "h" in p]
    sparse = connected_components(kept)
    clusters = {}
    for r in sparse.collect():
        clusters.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    assert {frozenset(m) for m in clusters.values()} == {
        frozenset({"a1", "a2", "a3"}),
        frozenset({"b1", "b2", "b3"}),
    }
    # union mode keeps the hub's own top-2 (degree unbounded story)
    union_kept = {
        tuple(r)
        for r in topk_edge_sparsify(
            edges, k=2, mode="union", pin=False
        ).collect()
    }
    assert [p for p in union_kept if "h" in p]


@pytest.mark.parametrize("gate", ["edges", "bytes"])
def test_cc_auto_gate_on_both_sides_of_the_cap(spark, monkeypatch, gate):
    """The auto gate reads the edge count and the raw id bytes observed
    on the edge pin: at the cap it picks the driver union-find, one
    below it the distributed star loop, and both give the clusters of
    a plain union-find."""
    import random

    from record_linkage_ldu_spark.operators import cc as cc_mod

    rng = random.Random(11)
    nodes = [f"n{i:02d}" for i in range(60)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(45)]
    df = spark.createDataFrame(edges, ["doc_id_1", "doc_id_2"])
    verts = spark.createDataFrame([(n,) for n in nodes], ["doc_id"])

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in nodes}

    at_cap = (
        len(edges)
        if gate == "edges"
        else sum(len(a) + len(b) for a, b in edges) * cc_mod._PY_STR_EXPANSION
    )
    cap = "DRIVER_UF_MAX_EDGES" if gate == "edges" else "DRIVER_UF_MAX_BYTES"
    for limit, path in (
        (at_cap, "_driver_uf_clusters"),
        (at_cap - 1, "_alternating_star"),
    ):
        taken = []

        def recording(name):
            real = getattr(cc_mod, name)

            def call(*args, **kwargs):
                taken.append(name)
                return real(*args, **kwargs)

            return call

        for name in ("_driver_uf_clusters", "_alternating_star"):
            monkeypatch.setattr(cc_mod, name, recording(name))
        monkeypatch.setattr(cc_mod, cap, limit)
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(df, vertices=verts, method="auto").collect()
        }
        monkeypatch.undo()
        assert taken == [path], (limit, taken)
        assert got == expected, limit
