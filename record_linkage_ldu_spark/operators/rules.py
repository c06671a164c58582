"""Match-decision rule masks (SURVEY.md §2.7).

Plain boolean Column expressions; a pair is a match if ANY mask fires
(main_ldu_hw.py:399-435, main_ldu_ldu.py:255-289).  ``mask_stats``
reproduces the per-mask count / unique-count report (D3).

The reference's dead ``phone_matches`` expression
(main_ldu_hw.py:439, `&`/`==` precedence bug) is intentionally NOT
reproduced (SURVEY.md §2.7 D4).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import built_once


def cross_rule_masks(df: DataFrame) -> list[Column]:
    """LDU x HW rules (main_ldu_hw.py:408-420)."""
    c = F.col
    return [
        # contact: (name or company_name strong) and (email or phone strong)
        ((c("name") >= 0.8) | (c("company_name") >= 0.9))
        & ((c("email") >= 0.9) | (c("phone") >= 0.9)),
        # address: all location attributes match
        (c("city") >= 0.9) & (c("state") >= 0.9) & (c("zip") >= 1.0)
        & (c("country") >= 1.0) & (c("address") >= 1.0),
        # phone: some location attributes + exact phone
        (c("city") >= 0.8) & (c("state") >= 0.8) & (c("zip") >= 0.8)
        & (c("country") >= 0.9) & (c("phone") >= 1.0),
        # exact: perfect name / company_name / email
        (c("name") == 1.0) | (c("company_name") == 1.0) | (c("email") == 1.0),
    ]


def self_rule_masks(df: DataFrame) -> list[Column]:
    """LDU self-dedup rules (main_ldu_ldu.py:263-274)."""
    c = F.col
    return [
        c("score") >= 4.9,
        (c("score") >= 3.4)
        & (c("name") >= 0.7)
        & ((c("email") >= 0.8) | (c("phone") >= 0.9) | (c("fax") >= 0.8)),
        (c("score") >= 3.4) & (c("city") >= 0.9) & (c("state") >= 0.9)
        & (c("zip") >= 0.9) & (c("country") >= 0.9) & (c("address") >= 1.0),
        (c("name") == 1.0) | (c("email") == 1.0) | (c("phone") == 1.0),
    ]


def match(df: DataFrame, mode: str) -> DataFrame:
    def build() -> Column:
        masks = cross_rule_masks(df) if mode == "cross" else self_rule_masks(df)
        return reduce(lambda x, y: x | y, masks)

    return df.where(built_once(("match", mode), build))


def mask_stats(df: DataFrame, mode: str) -> DataFrame:
    """Per-mask fire counts and unique-to-mask counts in ONE aggregate
    pass (the reference runs 8 full scans, main_ldu_hw.py:422-429)."""
    masks = cross_rule_masks(df) if mode == "cross" else self_rule_masks(df)
    aggs = []
    for i, m in enumerate(masks):
        others = reduce(
            lambda x, y: x | y, [mm for j, mm in enumerate(masks) if j != i]
        )
        aggs.append(F.sum(m.cast("long")).alias(f"mask{i}_count"))
        aggs.append(F.sum((m & ~others).cast("long")).alias(f"mask{i}_unique"))
    return df.agg(*aggs)


def sql_cross_rule_masks(prefix: str = "") -> list[str]:
    """DuckDB fragments for the four LDU x HW masks, one per mask, in
    the same order as ``cross_rule_masks`` (feeds both the D1 match
    predicate and the D3 cross mask-stats oracle)."""
    p = prefix
    return [
        f"(({p}name >= 0.8 OR {p}company_name >= 0.9) AND "
        f"({p}email >= 0.9 OR {p}phone >= 0.9))",
        f"({p}city >= 0.9 AND {p}state >= 0.9 AND {p}zip >= 1.0 AND "
        f"{p}country >= 1.0 AND {p}address >= 1.0)",
        f"({p}city >= 0.8 AND {p}state >= 0.8 AND {p}zip >= 0.8 AND "
        f"{p}country >= 0.9 AND {p}phone >= 1.0)",
        f"({p}name = 1.0 OR {p}company_name = 1.0 OR {p}email = 1.0)",
    ]


def sql_cross_rule_predicate(prefix: str = "") -> str:
    """DuckDB oracle fragment for the LDU x HW match predicate (D1)."""
    return " OR ".join(sql_cross_rule_masks(prefix))


def review_queue(
    scored: DataFrame,
    threshold: float = 4.9,
    band: float = 1.0,
    k: int = 200,
    fields: tuple[str, ...] | None = None,
) -> DataFrame:
    """Clerical-review queue: the k candidate pairs whose combined
    score sits CLOSEST to the decision threshold — the uncertainty
    band where rules flip and labeling effort buys the most (the
    active-learning/boundary-sampling step a production ER loop runs
    between rounds; the cluster-level triage views flag merge errors
    AFTER clustering, this samples the decision margin BEFORE it).

    Output per pair: rounded score, margin ``|score - threshold|``,
    the decision the threshold rule would take, and ``n_fired`` —
    how many score fields cleared their firing threshold (a cheap
    informativeness signal: a near-threshold pair with one strong
    field is a different review than five weak ones).  Deterministic:
    ordered by (margin, ids) so the same k pairs emerge on every
    engine and run.

    Scale shape: one scan-level filter on the scored set (the band
    prunes to a sliver) + a global top-k (TakeOrderedAndProject — a
    per-partition heap then one k-row merge, never a full sort).
    """
    from ..config import SCORE_THRESHOLDS, SELF_SCORE_FIELDS

    fields = fields or SELF_SCORE_FIELDS
    margin = F.round(F.abs(F.col("score") - F.lit(threshold)), 6)
    n_fired = reduce(
        lambda x, y: x + y,
        [
            (F.col(f) >= F.lit(SCORE_THRESHOLDS[f])).cast("int")
            for f in fields
        ],
    )
    return (
        scored.where(F.abs(F.col("score") - F.lit(threshold)) <= band)
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(F.col("score"), 6).alias("score"),
            margin.alias("margin"),
            (F.col("score") >= threshold).alias("decided"),
            n_fired.alias("n_fired"),
        )
        .orderBy("margin", "doc_id_1", "doc_id_2")
        .limit(k)
    )


def sql_review_queue(
    threshold: float = 4.9,
    band: float = 1.0,
    k: int = 200,
    fields: tuple[str, ...] | None = None,
    src: str = "scored",
) -> str:
    """DuckDB twin of :func:`review_queue` (same rounding, same
    deterministic order)."""
    from ..config import SCORE_THRESHOLDS, SELF_SCORE_FIELDS

    fields = fields or SELF_SCORE_FIELDS
    n_fired = " + ".join(
        f'(CASE WHEN "{f}" >= {float(SCORE_THRESHOLDS[f])!r} '
        "THEN 1 ELSE 0 END)"
        for f in fields
    )
    return f"""
        SELECT doc_id_1, doc_id_2,
               round(score, 6) AS score,
               round(abs(score - {threshold!r}), 6) AS margin,
               (score >= {threshold!r}) AS decided,
               CAST({n_fired} AS INT) AS n_fired
        FROM {src}
        WHERE abs(score - {threshold!r}) <= {band!r}
        ORDER BY margin, doc_id_1, doc_id_2
        LIMIT {k}
    """


def rule_precision(
    scored: DataFrame, labeled: DataFrame, mode: str = "self"
) -> DataFrame:
    """Per-rule precision against labels — WHICH mask produces the
    false positives (``mask_stats`` counts firings; this prices them):
    one row per rule mask plus the ``any`` union row, each with fired
    count, labeled-true count, and precision.  The reference tunes its
    rules by eyeballing match output (README.md:217-230); this is the
    table that tuning actually needs.

    Input: the scored candidate pairs and ``labeled(doc_id_1,
    doc_id_2, is_match)``.  Precision treats label absence as
    non-match (closed world on the labeled fixture).

    Scale shape: one pair-keyed label join + ONE aggregate pass over a
    narrow |masks|+1-way melt (Generate) — never one scan per rule
    (the reference's mask report runs 8 scans).
    """
    masks = (
        cross_rule_masks(scored) if mode == "cross" else self_rule_masks(scored)
    )
    lab = (
        labeled.where(F.col("is_match"))
        .select(
            F.least("doc_id_1", "doc_id_2").alias("doc_id_1"),
            F.greatest("doc_id_1", "doc_id_2").alias("doc_id_2"),
        )
        .dropDuplicates(["doc_id_1", "doc_id_2"])
        .withColumn("_lab", F.lit(True))
    )
    flagged = scored.join(lab, ["doc_id_1", "doc_id_2"], "left").withColumn(
        "_lab", F.coalesce(F.col("_lab"), F.lit(False))
    )
    entries = [
        F.struct(
            F.lit(f"mask{i}").alias("rule"),
            m.cast("int").alias("fired"),
            (m & F.col("_lab")).cast("int").alias("tp"),
        )
        for i, m in enumerate(masks)
    ]
    any_m = reduce(lambda x, y: x | y, masks)
    entries.append(
        F.struct(
            F.lit("any").alias("rule"),
            any_m.cast("int").alias("fired"),
            (any_m & F.col("_lab")).cast("int").alias("tp"),
        )
    )
    melted = flagged.select(F.explode(F.array(*entries)).alias("e"))
    agg = melted.groupBy(F.col("e.rule").alias("rule")).agg(
        F.sum("e.fired").alias("n_fired"),
        F.sum("e.tp").alias("n_true"),
    )
    return agg.select(
        "rule",
        "n_fired",
        "n_true",
        F.round(
            F.when(
                F.col("n_fired") > 0,
                F.col("n_true").cast("double") / F.col("n_fired"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("precision"),
    )
