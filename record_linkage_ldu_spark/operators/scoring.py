"""Pairwise field scoring + combined (Fellegi-Sunter) score.

Reproduces the reference's scoring semantics (SURVEY.md §2.6) on a
candidate-pair DataFrame instead of a Python loop over numpy rows
(compare_ldu_hw.py:79-153):

  * per-field similarity with missing->0 (compare_ldu_hw.py:93-95)
  * cross mode: each HW field scored against its mapped LDU field(s),
    max over targets (compare_ldu_hw.py:27-48,107)
  * field families collapsed by max (property_merge,
    compare_ldu_hw.py:51-59 -> native ``greatest``)
  * ``total`` = row sum of field scores (compare_ldu_hw.py:152)
  * ``score`` = thresholded weighted sum (main_ldu_hw.py:330-382)

Edit-distance fields run fully JVM-side (built-in levenshtein);
sequence fields (Ratcliff-Obershelp) cross the JVM/Python boundary once
per Arrow batch.  Jaro-Winkler is emitted as an auxiliary ``jw_name``
column (north-star requirement) from the same batch pass.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import (
    CROSS_SCORE_FIELDS,
    HW_TO_LDU,
    PROPERTY_MERGE,
    SCORE_MULTIPLIERS,
    SCORE_THRESHOLDS,
    SELF_COMPARE_FIELDS,
    SELF_SCORE_FIELDS,
    method_for_field,
)
from ..functions.similarity import (
    jvm_kernels_active,
    jw_sim_col,
    lev_sim_col,
    ro_sim_col,
)
from ..session import built_once

_SIM = {"lev": lev_sim_col, "ro": ro_sim_col}


def _score_barrier(df: DataFrame, id_cols: list[str], score_cols: list[Column]) -> DataFrame:
    """Evaluate the similarity kernels EXACTLY ONCE per pair.

    ``total``/``score``/rule masks each reference every field column,
    and CollapseProject inlines deterministic expressions into every
    use site — measured 3-4x re-evaluation of the O(len^2) kernels
    (37s -> 12s on 6.8M pairs after the barrier).  An
    ``explode(array(struct(..)))`` Generate node forces the struct to
    become concrete attributes: downstream arithmetic references the
    materialized values, and filter pushdown stops at the generator
    (predicates on generator output are not pushed through), so rule
    masks cannot re-inline the kernels either.
    """
    return df.select(
        *id_cols, F.explode(F.array(F.struct(*score_cols))).alias("_s")
    ).select(*id_cols, "_s.*")


def attach_pair_sides(
    pairs: DataFrame,
    records: DataFrame,
    fields: tuple[str, ...],
    records_right: DataFrame | None = None,
    fields_right: tuple[str, ...] | None = None,
) -> DataFrame:
    """pairs(doc_id_1, doc_id_2) + records -> one wide row per pair
    with ``a_<f>`` / ``b_<f>`` columns.

    Only the compared fields are joined in (narrow pair rows — the
    spill-control lever at scale, SURVEY.md §4#5).  Two shuffles on the
    doc_id join keys; at cluster scale, records are bucketed by doc_id
    so these become shuffle-free.  Cross mode passes different field
    sets per side (hw columns left, ldu columns right).
    """
    def side(tag: str, n: int, side_fields) -> list[Column]:
        return built_once(
            ("pair_side", tag, tuple(side_fields)),
            lambda: [F.col("doc_id").alias(f"doc_id_{n}")]
            + [F.col(f).alias(f"{tag}_{f}") for f in side_fields],
        )

    left = records.select(*side("a", 1, fields))
    rsrc = records_right if records_right is not None else records
    right = rsrc.select(*side("b", 2, fields_right or fields))
    return pairs.join(left, "doc_id_1").join(right, "doc_id_2")


def score_pairs_self(
    pairs_wide: DataFrame,
    fields: tuple[str, ...] = SELF_COMPARE_FIELDS,
    with_jw: bool = True,
) -> DataFrame:
    """Self-dedup scoring: same-field comparison (compare_ldu_ldu.py:43-67).

    Input: wide pair rows from ``attach_pair_sides``.  Output: one row
    per pair with a double score per field + ``total``.
    """
    def build() -> tuple[list[Column], Column]:
        cols: list[Column] = []
        for f in fields:
            method = method_for_field(f) or "lev"
            sim = _SIM[method](F.col(f"a_{f}"), F.col(f"b_{f}"))
            cols.append(sim.alias(f))
        if with_jw:
            cols.append(
                jw_sim_col(F.col("a_name"), F.col("b_name")).alias("jw_name")
            )
        total = reduce(lambda x, y: x + y, [F.col(f) for f in fields])
        return cols, total

    # the kernel path is part of the key: JVM-kernel columns call
    # functions registered per session, the fallback calls Arrow UDFs
    cols, total = built_once(
        ("score_pairs_self", tuple(fields), with_jw, jvm_kernels_active()),
        build,
    )
    scored = _score_barrier(pairs_wide, ["doc_id_1", "doc_id_2"], cols)
    return scored.withColumn("total", total)


def cross_field_pairs() -> dict[str, list[tuple[str, str, str]]]:
    """Expanded (hw_field, ldu_field, method) comparisons per final
    family column, after target-max and family merge."""
    families: dict[str, list[tuple[str, str, str]]] = {}
    merged_members = {m for v in PROPERTY_MERGE.values() for m in v}
    for hw_field, targets in HW_TO_LDU.items():
        method = method_for_field(hw_field) or "lev"
        comparisons = [(hw_field, t, method) for t in targets]
        fam = None
        for k, members in PROPERTY_MERGE.items():
            if hw_field in members:
                fam = k
                break
        if fam is None and hw_field not in merged_members:
            fam = hw_field
        families.setdefault(fam, []).extend(comparisons)
    return families


def score_pairs_cross(pairs_wide_fn, with_jw: bool = True) -> DataFrame:
    """Cross-dataset scoring (LDU x HW).  ``pairs_wide_fn`` is a
    DataFrame with ``a_<hw_field>`` (left=hw) and ``b_<ldu_field>``
    (right=ldu) columns.

    Family score = max over (member hw-field x mapped ldu-target)
    similarities — the reference's target-max (compare_ldu_hw.py:107)
    composed with property_merge max (:109-113) collapses to one
    ``greatest`` over the expanded comparison list.
    """
    df = pairs_wide_fn
    cols: list[Column] = []
    fam_cols = []
    for fam, comparisons in cross_field_pairs().items():
        sims = [
            _SIM[m](F.col(f"a_{hw_f}"), F.col(f"b_{ldu_f}"))
            for hw_f, ldu_f, m in comparisons
        ]
        expr = sims[0] if len(sims) == 1 else F.greatest(*sims)
        cols.append(expr.alias(fam))
        fam_cols.append(fam)
    if with_jw:
        cols.append(jw_sim_col(F.col("a_name"), F.col("b_name")).alias("jw_name"))
    scored = _score_barrier(df, ["doc_id_1", "doc_id_2"], cols)
    total = reduce(lambda x, y: x + y, [F.col(f) for f in fam_cols])
    return scored.withColumn("total", total)


def combined_score_col(fields: tuple[str, ...]) -> Column:
    """score = sum_f s_f * mult[f] * [s_f >= thr[f]]
    (main_ldu_hw.py:365-375) — pure native arithmetic inside
    whole-stage codegen."""
    terms = [
        F.col(f)
        * F.lit(SCORE_MULTIPLIERS[f])
        * (F.col(f) >= F.lit(SCORE_THRESHOLDS[f])).cast("double")
        for f in fields
    ]
    return reduce(lambda x, y: x + y, terms)


def with_combined_score(scored: DataFrame, mode: str) -> DataFrame:
    fields = CROSS_SCORE_FIELDS if mode == "cross" else SELF_SCORE_FIELDS
    score = built_once(
        ("combined_score", fields), lambda: combined_score_col(fields)
    )
    return scored.withColumn("score", score)


def sql_combined_score(fields: tuple[str, ...], prefix: str = "") -> str:
    """DuckDB oracle fragment for the combined score."""
    terms = [
        f"({prefix}{f} * {SCORE_MULTIPLIERS[f]!r} * "
        f"(CASE WHEN {prefix}{f} >= {SCORE_THRESHOLDS[f]!r} THEN 1.0 ELSE 0.0 END))"
        for f in fields
    ]
    return " + ".join(terms)


def tfidf_token_cosine(
    records: DataFrame,
    pairs: DataFrame,
    field: str = "name",
    out_col: str = "tfidf_cosine",
    pin: bool = True,
) -> DataFrame:
    """TF-IDF token cosine similarity per candidate pair — the
    token-set scorer of the Magellan/py_entitymatching family.  The
    reference scores characters only (Levenshtein/RO,
    compare_ldu_hw.py:62-76); token TF-IDF is the standard complement
    that survives word reorder ("acme corp intl" vs "intl acme corp")
    and down-weights corpus-frequent tokens ("inc", "llc") that
    character edit distance over-credits.

    Binary TF over distinct tokens (short ER fields), idf = ln(N/df),
    cosine = Σ_shared idf² / (‖a‖·‖b‖).  Output: one row per input
    pair, ``out_col`` in [0,1] rounded to 6 decimals; pairs where
    either side has no tokens score 0.0.

    Scale shape: one explode, one df groupBy (partitioned by token),
    one broadcast 1-row N, one per-doc norm groupBy, then the pair
    dot-product via two equi-joins partitioned on (doc_id, tok) —
    every shuffle keyed, no UDF, no driver materialization.  The
    weighted-token table is the persistable index at 10^12 docs —
    and it is referenced FOUR times downstream (both pair sides +
    both norms), so ``pin`` materializes it once (the same
    re-execution fix as the dedup index tables; a pipeline that
    persists the index itself passes ``pin=False``).
    """
    from ..functions.text import tokens
    from .dedup import _pin

    toks = records.select(
        "doc_id",
        F.explode(
            F.array_distinct(tokens(F.coalesce(F.col(field), F.lit(""))))
        ).alias("tok"),
    )
    n_docs = records.agg(F.count("*").cast("double").alias("n_docs"))
    weighted = _pin(
        toks.join(
            toks.groupBy("tok").agg(
                F.count("*").cast("double").alias("df")
            ),
            "tok",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.log(F.col("n_docs") / F.col("df")).alias("w"),
        ),
        pin,
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    t1 = weighted.select(
        F.col("doc_id").alias("doc_id_1"), "tok", F.col("w").alias("w1")
    )
    t2 = weighted.select(
        F.col("doc_id").alias("doc_id_2"), "tok", F.col("w").alias("w2")
    )
    dots = (
        pairs.join(t1, "doc_id_1")
        .join(t2, ["doc_id_2", "tok"])
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    n1 = norms.select(
        F.col("doc_id").alias("doc_id_1"), F.col("nrm").alias("nrm1")
    )
    n2 = norms.select(
        F.col("doc_id").alias("doc_id_2"), F.col("nrm").alias("nrm2")
    )
    return (
        pairs.select("doc_id_1", "doc_id_2")
        .join(dots, ["doc_id_1", "doc_id_2"], "left")
        .join(n1, "doc_id_1", "left")
        .join(n2, "doc_id_2", "left")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(
                F.when(
                    (F.col("nrm1") > 0) & (F.col("nrm2") > 0),
                    F.coalesce(F.col("dot"), F.lit(0.0))
                    / (F.col("nrm1") * F.col("nrm2")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias(out_col),
        )
    )


def monge_elkan_scores(
    records: DataFrame,
    pairs: DataFrame,
    field: str = "name",
    out_col: str = "monge_elkan",
    pin: bool = True,
) -> DataFrame:
    """Symmetric Monge-Elkan similarity per candidate pair: tokenize
    both sides, align each token with its best Jaro-Winkler partner on
    the other side, average — sym = (ME(a→b) + ME(b→a)) / 2.  The
    hybrid scorer (Monge & Elkan 1996) that handles token reorder AND
    per-token typos, which neither whole-string JW nor token-set
    overlap does alone.

    Output: one row per input pair, ``out_col`` rounded to 6 decimals;
    a pair where either side has no tokens scores 0.0.

    Scale shape: the token grid per pair is |toks_a|·|toks_b| rows
    (names are 2-4 tokens, so single-digit rows per pair), produced by
    two equi-joins on the pair's doc ids; the JW kernel runs JVM-side
    on the grid ONCE (``pin`` materializes it — the two direction
    aggregations would otherwise re-execute the kernel subplan, the
    same re-execution the dedup index tables pin away); then two
    bounded (pair, token) max groupBys and one final per-pair avg.
    """
    from ..functions.similarity import jw_sim_col
    from ..functions.text import tokens
    from .dedup import _pin

    toks = records.select(
        "doc_id",
        F.explode(
            F.array_distinct(tokens(F.coalesce(F.col(field), F.lit(""))))
        ).alias("tok"),
    )
    t1 = toks.select(
        F.col("doc_id").alias("doc_id_1"), F.col("tok").alias("tok1")
    )
    t2 = toks.select(
        F.col("doc_id").alias("doc_id_2"), F.col("tok").alias("tok2")
    )
    grid = (
        pairs.select("doc_id_1", "doc_id_2")
        .join(t1, "doc_id_1")
        .join(t2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            "tok1",
            "tok2",
            jw_sim_col(F.col("tok1"), F.col("tok2")).alias("jw"),
        )
    )
    grid = _pin(grid, pin)
    me12 = (
        grid.groupBy("doc_id_1", "doc_id_2", "tok1")
        .agg(F.max("jw").alias("best"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.avg("best").alias("me12"))
    )
    me21 = (
        grid.groupBy("doc_id_1", "doc_id_2", "tok2")
        .agg(F.max("jw").alias("best"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.avg("best").alias("me21"))
    )
    return (
        pairs.select("doc_id_1", "doc_id_2")
        .join(me12, ["doc_id_1", "doc_id_2"], "left")
        .join(me21, ["doc_id_1", "doc_id_2"], "left")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(
                F.when(
                    F.col("me12").isNotNull() & F.col("me21").isNotNull(),
                    (F.col("me12") + F.col("me21")) / 2,
                ).otherwise(F.lit(0.0)),
                6,
            ).alias(out_col),
        )
    )


def one_to_one_assignment(
    scored: DataFrame,
    score_col: str = "score",
    id_1: str = "doc_id_1",
    id_2: str = "doc_id_2",
    pin: bool = True,
) -> DataFrame:
    """Mutual-best-match (symmetric argmax) one-to-one assignment over
    a scored cross-linkage pair set: each left record nominates its
    single best-scoring right partner and vice versa; a pair survives
    only when both nominations agree.  This is the one-to-one
    constraint of classical two-source linkage (Christen 2012 §6.11;
    the reference's LDU×HW flow leaves many-to-many links in place —
    `main_ldu_hw.py:384-420` groups whatever the rules fire on — so
    this is the assignment-constrained variant a deduplicated-master
    workflow needs on top of it).

    Mutual-best is the distributed-friendly member of the assignment
    family: greedy sequential assignment is inherently serial, and
    optimal bipartite matching is superlinear, while every mutual-best
    pair is IN the greedy solution's first round (both endpoints
    prefer each other, so neither is taken earlier).  Cost: two
    map-side-combinable groupBys + two equi-joins — never a window
    over the full pair set and no per-key iteration.

    Ties break deterministically: higher score first, then the
    lexicographically smallest partner id — encoded as ONE
    ``min(struct(-score, partner))`` so the aggregate keeps partial
    aggregation (a window row_number would shuffle-sort every pair
    per direction instead).
    """
    from .dedup import _pin

    # scored fans out three ways (both nomination aggregates + the
    # final intersection join); pin it so the upstream rule/score
    # subplan runs once
    scored = _pin(scored, pin)
    pick = F.struct(
        (-F.col(score_col)).alias("_n"), F.col("_partner").alias("_p")
    )
    best_r = (
        scored.select(id_1, F.col(id_2).alias("_partner"), score_col)
        .groupBy(id_1)
        .agg(F.min(pick).alias("_b"))
        .select(id_1, F.col("_b._p").alias(id_2))
    )
    best_l = (
        scored.select(F.col(id_1).alias("_partner"), id_2, score_col)
        .groupBy(id_2)
        .agg(F.min(pick).alias("_b"))
        .select(F.col("_b._p").alias(id_1), id_2)
    )
    return scored.join(best_r, [id_1, id_2]).join(best_l, [id_1, id_2])


def group_linkage_scores(
    scored_pairs: DataFrame,
    membership: DataFrame,
    score_col: str = "score",
    out_col: str = "group_sim",
    pin: bool = True,
) -> DataFrame:
    """Group linkage (On, Koudas, Lee & Srivastava, ICDE'07): score
    pairs of record GROUPS — households, organizations with several
    contact rows, author profiles — by how well their members align.
    Record-level linkage answers "are these two rows the same
    entity?"; this answers the next question ER consumers actually
    ask: "are these two GROUPS of rows the same real-world party?".

    sim(A, B) = (Σ_{a∈A} best_b s(a,b) + Σ_{b∈B} best_a s(a,b))
                / (|A| + |B|)

    — the symmetric best-match measure (the practical approximation of
    the paper's bipartite-matching similarity; members with no scored
    counterpart contribute 0 because the denominator counts ALL
    members, so sparse evidence is penalized, not hidden).  Output:
    one row per group pair reachable through at least one scored
    record pair: ``(group_id_1, group_id_2, n_members_1, n_members_2,
    n_scored_pairs, group_sim)`` with ``group_id_1 < group_id_2``.

    Scale shape: two membership equi-joins attach group ids to the
    scored pairs (the pair table is the big side and stays keyed),
    one (group pair, member) max groupBy per direction, one group-pair
    sum, and a broadcast-size group census join — no UDF, no driver
    materialization, no group×group enumeration (only group pairs
    with candidate evidence exist).  ``pin`` materializes the
    group-tagged pair table referenced by both directions.
    """
    from .dedup import _pin

    m1 = membership.select(
        F.col("doc_id").alias("doc_id_1"), F.col("group_id").alias("g1")
    )
    m2 = membership.select(
        F.col("doc_id").alias("doc_id_2"), F.col("group_id").alias("g2")
    )
    tagged = _pin(
        scored_pairs.select("doc_id_1", "doc_id_2", score_col)
        .join(m1, "doc_id_1")
        .join(m2, "doc_id_2")
        .where(F.col("g1") != F.col("g2"))
        .select(
            F.least("g1", "g2").alias("group_id_1"),
            F.greatest("g1", "g2").alias("group_id_2"),
            # member/counterpart relative to the CANONICAL group order
            F.when(F.col("g1") <= F.col("g2"), F.col("doc_id_1"))
            .otherwise(F.col("doc_id_2"))
            .alias("m_left"),
            F.when(F.col("g1") <= F.col("g2"), F.col("doc_id_2"))
            .otherwise(F.col("doc_id_1"))
            .alias("m_right"),
            F.col(score_col).alias("s"),
        ),
        pin,
    )
    gkeys = ["group_id_1", "group_id_2"]

    def _direction(member_col: str, name: str):
        return (
            tagged.groupBy(*gkeys, member_col)
            .agg(F.max("s").alias("best"))
            .groupBy(*gkeys)
            .agg(F.sum("best").alias(name))
        )

    sums = _direction("m_left", "sum_l").join(
        _direction("m_right", "sum_r"), gkeys
    )
    counts = tagged.groupBy(*gkeys).agg(
        F.count("*").cast("long").alias("n_scored_pairs")
    )
    sizes = membership.groupBy("group_id").agg(
        F.count("*").cast("long").alias("n_members")
    )
    return (
        sums.join(counts, gkeys)
        .join(
            sizes.select(
                F.col("group_id").alias("group_id_1"),
                F.col("n_members").alias("n_members_1"),
            ),
            "group_id_1",
        )
        .join(
            sizes.select(
                F.col("group_id").alias("group_id_2"),
                F.col("n_members").alias("n_members_2"),
            ),
            "group_id_2",
        )
        .select(
            *gkeys,
            "n_members_1",
            "n_members_2",
            "n_scored_pairs",
            F.round(
                (F.col("sum_l") + F.col("sum_r"))
                / (F.col("n_members_1") + F.col("n_members_2")),
                6,
            ).alias(out_col),
        )
    )


def soft_tfidf_scores(
    records: DataFrame,
    pairs: DataFrame,
    field: str = "name",
    theta: float = 0.9,
    out_col: str = "soft_tfidf",
    pin: bool = True,
) -> DataFrame:
    """Symmetric Soft-TF-IDF per candidate pair (Cohen, Ravikumar &
    Fienberg, IJCAI'03 / SecondString) — the third member of the
    hybrid-scorer family next to `tfidf_token_cosine` (exact-token
    overlap only) and `monge_elkan_scores` (unweighted alignment):
    each token aligns with its best Jaro-Winkler partner on the other
    side, but the contribution is TF-IDF-weighted and gated at
    ``jw >= theta``, so a typo'd RARE token ("smyth"~"smith") still
    carries its full idf weight while corpus-frequent tokens ("inc")
    stay down-weighted even on exact agreement.

    soft(A→B) = Σ_{a: best_jw >= θ} V(a,A) · V(argmax_b jw(a,b), B)
                · best_jw,  with V(t,X) = idf(t)/‖X‖; output is the
    symmetric mean of both directions, rounded to 6 decimals; a pair
    where either side has no tokens scores 0.0.  (Like the published
    measure, values can slightly exceed 1 when several tokens align to
    the same partner — it is a ranking score, not a metric.)

    Determinism: the argmax is max(struct(jw, w2)) — jw ties break by
    the larger partner weight, and any remaining tie has an identical
    contribution, so the score is engine-portable (the DuckDB twin
    uses struct_pack max with the same ordering).

    Scale shape: the idf weight table is the SAME persistable index as
    `tfidf_token_cosine` (one explode + one df groupBy + broadcast-N);
    the per-pair token grid is |toks_a|·|toks_b| rows via two
    equi-joins (single-digit for name fields); the JW kernel runs
    JVM-side on the pinned grid ONCE; then one bounded (pair, token)
    struct-max groupBy per direction and a per-pair sum.
    """
    from ..functions.similarity import jw_sim_col
    from ..functions.text import tokens
    from .dedup import _pin

    toks = records.select(
        "doc_id",
        F.explode(
            F.array_distinct(tokens(F.coalesce(F.col(field), F.lit(""))))
        ).alias("tok"),
    )
    n_docs = records.agg(F.count("*").cast("double").alias("n_docs"))
    weighted = _pin(
        toks.join(
            toks.groupBy("tok").agg(
                F.count("*").cast("double").alias("df")
            ),
            "tok",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.log(F.col("n_docs") / F.col("df")).alias("w"),
        ),
        pin,
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    w1 = weighted.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("tok").alias("tok1"),
        F.col("w").alias("w1"),
    )
    w2 = weighted.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("tok").alias("tok2"),
        F.col("w").alias("w2"),
    )
    grid = _pin(
        pairs.select("doc_id_1", "doc_id_2")
        .join(w1, "doc_id_1")
        .join(w2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            "tok1",
            "tok2",
            "w1",
            "w2",
            jw_sim_col(F.col("tok1"), F.col("tok2")).alias("jw"),
        ),
        pin,
    )

    def _direction(tok_col: str, own_w: str, other_w: str, name: str):
        best = (
            grid.groupBy("doc_id_1", "doc_id_2", tok_col)
            .agg(
                F.max(own_w).alias("w_own"),  # constant per group
                F.max(F.struct(F.col("jw"), F.col(other_w))).alias("b"),
            )
            .where(F.col("b.jw") >= F.lit(theta))
        )
        return best.groupBy("doc_id_1", "doc_id_2").agg(
            F.sum(
                F.col("w_own") * F.col(f"b.{other_w}") * F.col("b.jw")
            ).alias(name)
        )

    s12 = _direction("tok1", "w1", "w2", "raw12")
    s21 = _direction("tok2", "w2", "w1", "raw21")
    n1 = norms.select(
        F.col("doc_id").alias("doc_id_1"), F.col("nrm").alias("nrm1")
    )
    n2 = norms.select(
        F.col("doc_id").alias("doc_id_2"), F.col("nrm").alias("nrm2")
    )
    return (
        pairs.select("doc_id_1", "doc_id_2")
        .join(s12, ["doc_id_1", "doc_id_2"], "left")
        .join(s21, ["doc_id_1", "doc_id_2"], "left")
        .join(n1, "doc_id_1", "left")
        .join(n2, "doc_id_2", "left")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(
                F.when(
                    (F.col("nrm1") > 0) & (F.col("nrm2") > 0),
                    (
                        F.coalesce(F.col("raw12"), F.lit(0.0))
                        + F.coalesce(F.col("raw21"), F.lit(0.0))
                    )
                    / (2 * F.col("nrm1") * F.col("nrm2")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias(out_col),
        )
    )


def value_specific_odds(
    records: DataFrame,
    pairs: DataFrame,
    fields: tuple[str, ...],
    m: float = 0.9,
    pin: bool = True,
) -> DataFrame:
    """Value-specific (frequency-based) Fellegi-Sunter agreement odds
    (Fellegi & Sunter 1969 §3.3.1 eq. 3.18-3.20; Winkler 1988):
    agreement on a RARE value is stronger evidence than agreement on a
    common one — two records sharing surname "Zimmerman" are far more
    likely the same entity than two sharing "Smith".  The global
    u-probability is replaced per value v by its chance-agreement
    probability, the relative frequency f_v, so the agreement
    likelihood ratio becomes m / f_v; disagreement keeps the global
    ratio (1-m) / (1-u) with u = sum_v f_v^2 (the probability two
    random draws agree at all).  The reference (and the engine's rule
    layer) weights every agreement on a field equally — this is the
    classical refinement on top.

    No ``log``/``pow`` anywhere (libm results differ across
    engines): odds ratios, not log-weights.  The
    chance-agreement sum is computed in EXACT integer arithmetic
    (sum of squared counts as decimal(38,0)) before ONE division, so
    the result is order-independent — a plain double sum over the
    frequency table would make the output depend on partition order.

    Missing data: a pair where either side is null/empty on a field
    contributes odds 1.0 there (no evidence either way).

    Output: (doc_id_1, doc_id_2, odds_<f> per field, total_odds), all
    rounded to 6dp; total_odds is the product of the UNROUNDED
    per-field odds in declared field order.

    Scale shape: one map-side-combinable groupBy per field builds the
    value-frequency table (THE persisted artifact at production scale
    — pin it / write it next to the blocking index); each pair then
    takes one equi-join per field on the agreeing value plus a 1-row
    broadcast of the (N, sum c^2) scalars.  No window, no cartesian,
    nothing driver-side.
    """
    from .dedup import _pin

    wide = attach_pair_sides(pairs, records, fields)
    out_cols: list[Column] = []
    total = None
    for f in fields:
        vals = records.where(
            F.col(f).isNotNull() & (F.col(f) != F.lit(""))
        ).select(F.col(f).alias("v"))
        freq = _pin(
            vals.groupBy("v").agg(F.count("*").cast("long").alias("c")),
            pin,
        )
        stats = freq.agg(
            F.sum("c").cast("double").alias("n_f"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("double")
            .alias("s2_f"),
        )
        a, b = F.col(f"a_{f}"), F.col(f"b_{f}")
        present = (
            a.isNotNull() & (a != F.lit("")) & b.isNotNull() & (b != F.lit(""))
        )
        wide = wide.join(
            freq.select(
                F.col("v").alias(f"a_{f}"), F.col("c").alias(f"_c_{f}")
            ),
            f"a_{f}",
            "left",
        ).crossJoin(
            F.broadcast(
                stats.select(
                    F.col("n_f").alias(f"_n_{f}"),
                    F.col("s2_f").alias(f"_s2_{f}"),
                )
            )
        )
        c, n, s2 = F.col(f"_c_{f}"), F.col(f"_n_{f}"), F.col(f"_s2_{f}")
        odds = (
            F.when(present & (a == b), F.lit(m) / (c.cast("double") / n))
            .when(present, F.lit(1.0 - m) / (F.lit(1.0) - s2 / (n * n)))
            .otherwise(F.lit(1.0))
        )
        wide = wide.withColumn(f"_odds_{f}", odds)
        out_cols.append(
            F.round(F.col(f"_odds_{f}"), 6).alias(f"odds_{f}")
        )
        term = F.col(f"_odds_{f}")
        total = term if total is None else total * term
    return wide.select(
        "doc_id_1",
        "doc_id_2",
        *out_cols,
        F.round(total, 6).alias("total_odds"),
    )


def sql_value_specific_odds(
    fields: tuple[str, ...],
    m: float = 0.9,
    norm_table: str = "norm",
    pairs_table: str = "pairs",
) -> str:
    """DuckDB twin of :func:`value_specific_odds`: same frequency
    tables, same exact-integer chance-agreement sum, same division and
    multiplication order — composes onto a chain that already defines
    ``norm`` and ``pairs`` CTEs.  Returns the CTE tail + final SELECT
    (caller prepends ``WITH <chain>,``)."""
    parts = []
    odds_exprs = []
    for f in fields:
        nn = f'"{f}" IS NOT NULL AND "{f}" != \'\''
        parts.append(
            f'freq_{f} AS MATERIALIZED (SELECT "{f}" AS v, '
            f"CAST(count(*) AS BIGINT) AS c FROM {norm_table} "
            f"WHERE {nn} GROUP BY \"{f}\")"
        )
        parts.append(
            f"st_{f} AS MATERIALIZED (SELECT "
            f"CAST(sum(c) AS DOUBLE) AS n_f, "
            f"CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2_f "
            f"FROM freq_{f})"
        )
        pres = (
            f'n1."{f}" IS NOT NULL AND n1."{f}" != \'\' AND '
            f'n2."{f}" IS NOT NULL AND n2."{f}" != \'\''
        )
        odds_exprs.append(
            f"CASE WHEN {pres} AND n1.\"{f}\" = n2.\"{f}\" "
            f"THEN {m!r} / (CAST(f_{f}.c AS DOUBLE) / s_{f}.n_f) "
            f"WHEN {pres} "
            f"THEN {1.0 - m!r} / (1.0 - s_{f}.s2_f / (s_{f}.n_f * s_{f}.n_f)) "
            f"ELSE 1.0 END"
        )
    joins = "\n        ".join(
        f'LEFT JOIN freq_{f} f_{f} ON f_{f}.v = n1."{f}" '
        f"CROSS JOIN st_{f} s_{f}"
        for f in fields
    )
    sel = ", ".join(
        f"round(({e}), 6) AS odds_{f}" for f, e in zip(fields, odds_exprs)
    )
    prod = " * ".join(f"({e})" for e in odds_exprs)
    return (
        ",\n    ".join(parts)
        + f"""
        SELECT p.doc_id_1, p.doc_id_2, {sel},
               round(({prod}), 6) AS total_odds
        FROM {pairs_table} p
        JOIN {norm_table} n1 ON p.doc_id_1 = n1.doc_id
        JOIN {norm_table} n2 ON p.doc_id_2 = n2.doc_id
        {joins}
    """
    )


def match_explanations(
    matches: DataFrame,
    fields: tuple[str, ...] | None = None,
    mode: str = "self",
) -> DataFrame:
    """Per-field score decomposition for MATCHED pairs — the "why did
    this pair match" view (the waterfall chart of the Splink family,
    re-expressed as a table): for each (pair, field), the similarity,
    its configured multiplier and firing threshold, whether it fired,
    its additive contribution ``sim * mult * [sim >= thr]``
    (main_ldu_hw.py:365-375 term-by-term), and its share of the
    combined score.  The reference buries this in the combined-score
    arithmetic; a clerical reviewer deciding whether to trust a match
    needs it surfaced.

    Scale shape: one narrow Generate (explode) over the MATCH set —
    |fields| rows per matched pair, never over the candidate set; all
    arithmetic native in whole-stage codegen.
    """
    fields = fields or (
        CROSS_SCORE_FIELDS if mode == "cross" else SELF_SCORE_FIELDS
    )
    fv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(f).alias("field"),
                    F.col(f).cast("double").alias("sim"),
                    F.lit(float(SCORE_MULTIPLIERS[f])).alias("weight"),
                    F.lit(float(SCORE_THRESHOLDS[f])).alias("thr"),
                )
                for f in fields
            ]
        )
    ).alias("fv")
    base = matches.select("doc_id_1", "doc_id_2", "score", fv)
    sim = F.col("fv.sim")
    weight = F.col("fv.weight")
    fired = sim >= F.col("fv.thr")
    contribution = sim * weight * fired.cast("double")
    return base.select(
        "doc_id_1",
        "doc_id_2",
        F.col("fv.field").alias("field"),
        F.round(sim, 6).alias("sim"),
        weight.alias("weight"),
        fired.alias("fired"),
        F.round(contribution, 6).alias("contribution"),
        F.round(F.col("score"), 6).alias("score"),
        F.round(
            F.when(F.col("score") > 0, contribution / F.col("score"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("share"),
    )


def sql_match_explanations(
    fields: tuple[str, ...] | None = None, src: str = "matches"
) -> str:
    """DuckDB twin of :func:`match_explanations`: ``src`` must expose
    the raw per-field sims plus ``score`` (the `matches` chain CTE);
    multipliers/thresholds are repr-injected from the same config."""
    fields = fields or SELF_SCORE_FIELDS
    arms = "\n            UNION ALL ".join(
        f"SELECT doc_id_1, doc_id_2, '{f}' AS field, \"{f}\" AS sim, "
        f"CAST({float(SCORE_MULTIPLIERS[f])!r} AS DOUBLE) AS weight, "
        f"CAST({float(SCORE_THRESHOLDS[f])!r} AS DOUBLE) AS thr, score "
        f"FROM {src}"
        for f in fields
    )
    return f"""
        melt AS (
            {arms}
        )
        SELECT doc_id_1, doc_id_2, field,
               round(sim, 6) AS sim,
               weight,
               (sim >= thr) AS fired,
               round(sim * weight *
                     (CASE WHEN sim >= thr THEN 1.0 ELSE 0.0 END),
                     6) AS contribution,
               round(score, 6) AS score,
               round(CASE WHEN score > 0
                     THEN (sim * weight *
                           (CASE WHEN sim >= thr THEN 1.0 ELSE 0.0 END))
                          / score
                     ELSE 0.0 END, 6) AS share
        FROM melt
    """
