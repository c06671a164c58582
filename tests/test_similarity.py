"""Similarity kernels: hand-computed vectors + property tests
(FIXTURES.md §5) and JVM/UDF/oracle agreement."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from record_linkage_ldu_spark.functions import similarity as S

words = st.text(alphabet="abcdef 0123", min_size=0, max_size=24)


def test_levenshtein_vectors():
    assert S.levenshtein("kitten", "sitting") == 3
    assert S.levenshtein("", "abc") == 3
    assert S.levenshtein("abc", "abc") == 0
    assert S.lev_normalized_similarity("abc", "abd") == pytest.approx(2 / 3)
    assert S.lev_normalized_similarity("", "") == 1.0
    assert S.lev_normalized_similarity("a", "") == 0.0


def test_ratcliff_obershelp_vectors():
    # 2*matches/(len1+len2): "mat" + "emati" + "c" = 9 matched chars
    assert S.ratcliff_obershelp("mathematics", "matematica") == pytest.approx(
        2 * 9 / 21
    )
    # WIKIPEDIA example: WIKI MEDIA -> 2*(4+3+1)/(9+9)... use a simple one
    assert S.ratcliff_obershelp("abcde", "abde") == pytest.approx(2 * 4 / 9)
    assert S.ratcliff_obershelp("abc", "abc") == 1.0
    assert S.ratcliff_obershelp("", "x") == 0.0
    assert S.ratcliff_obershelp("", "") == 1.0


def test_jaro_winkler_vectors():
    assert S.jaro_winkler("martha", "marhta") == pytest.approx(0.9611111111111111)
    assert S.jaro_winkler("dwayne", "duane") == pytest.approx(0.84)
    assert S.jaro_winkler("abc", "abc") == 1.0
    assert S.jaro_winkler("abc", "xyz") == 0.0


@given(a=words, b=words)
@settings(max_examples=150, deadline=None)
def test_kernel_properties(a, b):
    for fn in (
        S.lev_normalized_similarity,
        S.ratcliff_obershelp,
        S.jaro_winkler,
    ):
        s_ab = fn(a, b)
        assert 0.0 <= s_ab <= 1.0
        assert fn(a, a) == 1.0
    # symmetry holds for lev and jw; RO's difflib matching is
    # order-sensitive only in degenerate junk cases — check lev/jw
    assert S.lev_normalized_similarity(a, b) == pytest.approx(
        S.lev_normalized_similarity(b, a)
    )
    assert S.jaro_winkler(a, b) == pytest.approx(S.jaro_winkler(b, a))


def test_jw_matches_duckdb():
    """Our pure-Python Jaro-Winkler agrees with DuckDB's builtin."""
    con = duckdb.connect()
    cases = [
        ("martha", "marhta"), ("dixon", "dicksonx"), ("jellyfish", "smellyfish"),
        ("abc", "abc"), ("a", "b"), ("trace", "crate"), ("arnab", "raanb"),
        # ODD out-of-order counts: pins the strcmp95 integer halving
        # (t = count // 2) — exact halves would diverge from DuckDB here
        ("christopher", "smith"), ("caldwell", "dwayne"),
        ("christopher", "chiostpher"), ("christopher", "hrcstopheer"),
    ]
    for a, b in cases:
        duck = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert S.jaro_winkler(a, b) == pytest.approx(duck, abs=1e-12), (a, b)


def test_lev_col_matches_kernel(spark):
    """JVM-native normalized Levenshtein == pure-Python kernel, and the
    missing->0 rule (compare_ldu_hw.py:93-95)."""
    rows = [
        ("abc", "abd"), ("kitten", "sitting"), ("", ""), ("x", None),
        (None, None), ("same", "same"), ("", "ab"),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(S.lev_sim_col(F.col("a"), F.col("b")).alias("s")).collect()
    for (a, b), r in zip(rows, got):
        if a is None or b is None:
            assert r["s"] == 0.0
        else:
            assert r["s"] == pytest.approx(S.lev_normalized_similarity(a, b))


def test_ro_udf_matches_kernel(spark):
    rows = [
        ("mathematics", "matematica"), ("acme trading", "acme trading"),
        ("", ""), ("x", None), (None, None), ("alpha", "omega"),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(S.ro_sim_col(F.col("a"), F.col("b")).alias("s")).collect()
    for (a, b), r in zip(rows, got):
        if a is None or b is None:
            assert r["s"] == 0.0
        else:
            assert r["s"] == pytest.approx(S.ratcliff_obershelp(a, b))


def test_jvm_kernels_match_python(spark):
    """The compiled Java RO/JW kernels (jvm/kernels.jar) agree with the
    pure-Python reference kernels exactly, including edge cases."""
    import random

    from pyspark.sql import functions as F

    from record_linkage_ldu_spark.functions.similarity import (
        _jvm_kernels_available,
        dl_normalized_similarity,
        dl_sim_col,
        jaro_winkler,
        jw_sim_col,
        ratcliff_obershelp,
        ro_sim_col,
    )

    if not _jvm_kernels_available(spark):
        import pytest

        pytest.skip("jvm kernels jar not on session classpath")
    rng = random.Random(7)

    def rnd():
        return "".join(
            rng.choice("abcdef xyz") for _ in range(rng.randint(0, 25))
        )

    rows = [(rnd(), rnd()) for _ in range(500)] + [
        ("", ""), ("a", ""), ("abc", "abc"), (None, "x"), ("x", None),
    ]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select(
        "a", "b",
        ro_sim_col(F.col("a"), F.col("b")).alias("ro"),
        jw_sim_col(F.col("a"), F.col("b")).alias("jw"),
        dl_sim_col(F.col("a"), F.col("b")).alias("dl"),
    ).collect()
    for r in got:
        if r["a"] is None or r["b"] is None:
            assert r["ro"] == 0.0 and r["jw"] == 0.0 and r["dl"] == 0.0
        else:
            assert r["ro"] == ratcliff_obershelp(r["a"], r["b"])
            assert abs(r["jw"] - jaro_winkler(r["a"], r["b"])) < 1e-15
            # r5: the DL kernel (rlds.DlSim) joined the jar — exact
            # agreement with the Python/DuckDB algorithm
            assert abs(
                r["dl"] - dl_normalized_similarity(r["a"], r["b"])
            ) < 1e-15


def test_tfidf_token_cosine_hand_computed(spark):
    """Identical token sets score 1.0 regardless of order; a single
    shared low-idf token scores the hand-computed cosine; an empty
    side scores 0.0; one row per input pair."""
    import math

    from record_linkage_ldu_spark.operators.scoring import tfidf_token_cosine

    records = spark.createDataFrame(
        [("d1", "acme corp"), ("d2", "corp acme"), ("d3", "zeta llc"),
         ("d4", "acme llc"), ("d5", "")],
        "doc_id string, name string",
    )
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d4"), ("d1", "d3"), ("d1", "d5")],
        "doc_id_1 string, doc_id_2 string",
    )
    out = {
        (r["doc_id_1"], r["doc_id_2"]): r["tfidf_cosine"]
        for r in tfidf_token_cosine(records, pairs).collect()
    }
    assert len(out) == 4
    assert out[("d1", "d2")] == 1.0          # reorder-invariant
    assert out[("d1", "d3")] == 0.0          # no shared token
    assert out[("d1", "d5")] == 0.0          # empty side
    w_acme, w_corp, w_llc = (
        math.log(5 / 3), math.log(5 / 2), math.log(5 / 2)
    )
    expect = (w_acme * w_acme) / (
        math.hypot(w_acme, w_corp) * math.hypot(w_acme, w_llc)
    )
    assert out[("d1", "d4")] == round(expect, 6)


def test_monge_elkan_hand_computed(spark):
    """Token reorder scores 1.0; a one-token typo scores the mean of
    best-JW alignments; empty side scores 0.0."""
    from record_linkage_ldu_spark.functions.similarity import jaro_winkler
    from record_linkage_ldu_spark.operators.scoring import monge_elkan_scores

    records = spark.createDataFrame(
        [("d1", "acme corp"), ("d2", "corp acme"),
         ("d3", "acmee corp"), ("d4", "")],
        "doc_id string, name string",
    )
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d3"), ("d1", "d4")],
        "doc_id_1 string, doc_id_2 string",
    )
    out = {
        (r["doc_id_1"], r["doc_id_2"]): r["monge_elkan"]
        for r in monge_elkan_scores(records, pairs, pin=False).collect()
    }
    assert out[("d1", "d2")] == 1.0
    assert out[("d1", "d4")] == 0.0
    jw_t = jaro_winkler("acme", "acmee")
    # both directions: best("acme")=jw_t, best("corp")=1 -> avg each side
    assert out[("d1", "d3")] == round((jw_t + 1) / 2, 6)


def test_soft_tfidf_hand_computed(spark):
    """Soft-TF-IDF: typo'd rare token keeps its idf weight (gated at
    jw >= theta), sub-theta alignments contribute nothing, empty side
    scores 0.0, exact reorder scores 1.0."""
    import math

    from record_linkage_ldu_spark.functions.similarity import jaro_winkler
    from record_linkage_ldu_spark.operators.scoring import soft_tfidf_scores

    records = spark.createDataFrame(
        [("d1", "acme corp"), ("d2", "corp acme"),
         ("d3", "acmee corp"), ("d4", "zeta gmbh"), ("d5", "")],
        "doc_id string, name string",
    )
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d3"), ("d1", "d4"), ("d1", "d5")],
        "doc_id_1 string, doc_id_2 string",
    )
    out = {
        (r["doc_id_1"], r["doc_id_2"]): r["soft_tfidf"]
        for r in soft_tfidf_scores(records, pairs, pin=False).collect()
    }
    assert out[("d1", "d2")] == 1.0          # exact reorder
    assert out[("d1", "d4")] == 0.0          # nothing aligns above theta
    assert out[("d1", "d5")] == 0.0          # empty side
    # d1 vs d3: 'corp' aligns exactly (w_corp^2 * 1), 'acme'~'acmee'
    # aligns at jw_t >= 0.9 with full idf weights
    n = 5.0
    # df: acme in {d1,d2}, acmee in {d3}, corp in {d1,d2,d3}
    w_acme, w_acmee, w_corp = (
        math.log(n / 2), math.log(n / 1), math.log(n / 3)
    )
    jw_t = jaro_winkler("acme", "acmee")
    assert jw_t >= 0.9
    raw = w_corp * w_corp + w_acme * w_acmee * jw_t  # same both directions
    nrm1 = math.hypot(w_acme, w_corp)
    nrm3 = math.hypot(w_acmee, w_corp)
    assert out[("d1", "d3")] == round(raw / (nrm1 * nrm3), 6)
    # the typo'd rare token dominates: soft-tfidf credits it, plain
    # tfidf cosine would only credit the shared frequent token
    assert out[("d1", "d3")] > 0.9


def test_group_linkage_hand_computed(spark):
    """Symmetric best-match group similarity (On et al. ICDE'07):
    members align with their best scored counterpart, unmatched
    members dilute via the denominator, canonical group order."""
    from record_linkage_ldu_spark.operators.scoring import (
        group_linkage_scores,
    )

    # groups: A={a1,a2}, B={b1,b2,b3}, C={c1}
    membership = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("b1", "B"), ("b2", "B"), ("b3", "B"),
         ("c1", "C")],
        "doc_id string, group_id string",
    )
    scored = spark.createDataFrame(
        [
            ("a1", "b1", 4.0), ("a1", "b2", 2.0),  # a1's best = 4.0
            ("a2", "b1", 1.0),                      # a2's best = 1.0
            # b1 best = 4.0, b2 best = 2.0, b3 unmatched (0)
            ("b3", "c1", 6.0),                      # B x C via one pair
            ("a1", "a2", 9.0),                      # intra-group: ignored
        ],
        "doc_id_1 string, doc_id_2 string, score double",
    )
    out = {
        (r["group_id_1"], r["group_id_2"]): r
        for r in group_linkage_scores(scored, membership, pin=False).collect()
    }
    ab = out[("A", "B")]
    assert (ab["n_members_1"], ab["n_members_2"], ab["n_scored_pairs"]) == (
        2, 3, 3,
    )
    # (4+1 from A side) + (4+2+0 from B side) over |A|+|B|=5
    assert ab["group_sim"] == round((4.0 + 1.0 + 4.0 + 2.0) / 5, 6)
    bc = out[("B", "C")]
    assert bc["group_sim"] == round((6.0 + 6.0) / 4, 6)
    assert ("A", "A") not in out  # intra-group pair excluded


def test_one_to_one_assignment_hand_computed(spark):
    """Mutual-best semantics on a hand-built bipartite score set:
    survivors are exactly the pairs where both endpoints nominate each
    other; ties break to the smaller partner id; a record whose best
    partner prefers someone else stays UNMATCHED (mutual-best, not
    greedy: a2's best is b1, so a2 never falls back to b3)."""
    from record_linkage_ldu_spark.operators.scoring import (
        one_to_one_assignment,
    )

    rows = [
        ("a1", "b1", 0.9),   # mutual best both ways -> survives
        ("a1", "b2", 0.5),
        ("a2", "b1", 0.8),   # a2 nominates b1, b1 nominates a1 -> out
        ("a2", "b3", 0.7),   # never considered: a2 already nominated b1
        ("a3", "b4", 0.6),   # tie with b5 -> smaller id b4 wins
        ("a3", "b5", 0.6),
    ]
    df = spark.createDataFrame(
        rows, "doc_id_1 string, doc_id_2 string, score double"
    )
    out = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in one_to_one_assignment(df).collect()
    }
    assert out == {("a1", "b1"), ("a3", "b4")}


def test_one_to_one_query_is_an_assignment(spark):
    """Driver-query contract: each doc id appears at most once per
    side, and the surviving pairs are a subset of the unconstrained
    cross matches."""
    import __spark_entry__ as E

    qs = E.queries()
    d = "/root/testdata/sf0.001"
    o2o = qs["one_to_one_matches"](spark, d).cache()
    n = o2o.count()
    assert n > 0
    assert o2o.select("doc_id_1").distinct().count() == n
    assert o2o.select("doc_id_2").distinct().count() == n
    cross = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in qs["cross_match_rules"](spark, d).collect()
    }
    assert {
        (r["doc_id_1"], r["doc_id_2"]) for r in o2o.collect()
    } <= cross
    o2o.unpersist()


def test_value_specific_odds_hand_computed(spark):
    """Frequency-weighted FS agreement on a hand-built corpus: the
    rare-name agreement outweighs the common-name agreement, a
    disagreement takes the global (1-m)/(1-u) ratio, and a missing
    side contributes odds exactly 1.0."""
    from record_linkage_ldu_spark.operators.scoring import (
        value_specific_odds,
    )

    # name frequencies: smith x3, zimmerman x1 -> N=4, u = (9+1)/16
    records = spark.createDataFrame(
        [
            ("d1", "smith"),
            ("d2", "smith"),
            ("d3", "smith"),
            ("d4", "zimmerman"),
            ("d5", None),
        ],
        "doc_id string, name string",
    )
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d4"), ("d1", "d5"), ("d4", "d4b")],
        "doc_id_1 string, doc_id_2 string",
    )
    # give d4b a zimmerman row too so the rare-agreement pair exists
    records = records.union(
        spark.createDataFrame([("d4b", "zimmerman")], records.schema)
    )
    out = {
        (r["doc_id_1"], r["doc_id_2"]): r["odds_name"]
        for r in value_specific_odds(
            records, pairs, ("name",), m=0.9
        ).collect()
    }
    n = 5.0  # non-null names: 3 smith + 2 zimmerman
    u = (9.0 + 4.0) / 25.0
    assert out[("d1", "d2")] == round(0.9 / (3.0 / n), 6)       # common
    assert out[("d4", "d4b")] == round(0.9 / (2.0 / n), 6)      # rare
    assert out[("d4", "d4b")] > out[("d1", "d2")]
    assert out[("d1", "d4")] == round(0.1 / (1.0 - u), 6)       # disagree
    assert out[("d1", "d5")] == 1.0                             # missing


def test_match_explanations_decomposes_combined_score(spark):
    """Contributions sum back to the combined score; non-firing
    fields contribute zero; shares sum to 1 for positive scores."""
    from record_linkage_ldu_spark.config import (
        SCORE_MULTIPLIERS,
        SCORE_THRESHOLDS,
        SELF_SCORE_FIELDS,
    )
    from record_linkage_ldu_spark.operators.scoring import (
        combined_score_col,
        match_explanations,
    )

    # one synthetic scored pair: name fires high, phone below its
    # threshold (must contribute 0), rest at extremes
    sims = {f: 0.0 for f in SELF_SCORE_FIELDS}
    sims["name"] = 0.95
    sims["phone"] = max(SCORE_THRESHOLDS["phone"] - 0.05, 0.01)
    sims["email"] = 1.0
    row = {"doc_id_1": "a", "doc_id_2": "b", **sims}
    df = spark.createDataFrame([row]).withColumn(
        "score", combined_score_col(SELF_SCORE_FIELDS)
    )
    out = match_explanations(df).collect()
    assert len(out) == len(SELF_SCORE_FIELDS)
    by_field = {r["field"]: r for r in out}
    assert by_field["phone"]["fired"] is False
    assert by_field["phone"]["contribution"] == 0.0
    assert by_field["email"]["fired"] is True
    assert abs(
        by_field["email"]["contribution"] - SCORE_MULTIPLIERS["email"]
    ) < 1e-6
    total = sum(r["contribution"] for r in out)
    score = out[0]["score"]
    assert abs(total - score) < 1e-4
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-4


def test_damerau_levenshtein_vectors():
    """Unrestricted DL (Lowrance-Wagner), not OSA: a transposed block
    may be edited again."""
    assert S.damerau_levenshtein("ca", "abc") == 2      # OSA would say 3
    assert S.damerau_levenshtein("jonh", "john") == 1   # the typo case
    assert S.damerau_levenshtein("", "abc") == 3
    assert S.damerau_levenshtein("abc", "") == 3
    assert S.damerau_levenshtein("abc", "abc") == 0
    assert S.damerau_levenshtein("ab", "ba") == 1
    assert S.dl_normalized_similarity("", "") == 1.0
    assert S.dl_normalized_similarity("jonh", "john") == 0.75


@given(a=words, b=words)
@settings(max_examples=150, deadline=None)
def test_damerau_levenshtein_matches_duckdb(a, b):
    """The kernel IS DuckDB's damerau_levenshtein — the property that
    makes dl_pair_scores hash-checkable rather than rows-only."""
    got = S.damerau_levenshtein(a, b)
    ref = duckdb.sql(
        "SELECT damerau_levenshtein(?, ?)", params=[a, b]
    ).fetchone()[0]
    assert got == ref
    assert got == S.damerau_levenshtein(b, a)           # symmetric
    assert got <= S.levenshtein(a, b)                   # never worse
