"""Clerical-review helpers over scored pairs (operators/rules.py):
the boundary review queue and per-mask rule precision, on hand-built
score rows."""


def test_review_queue_margin_order_and_band(spark):
    """Queue holds only in-band pairs, nearest-to-threshold first,
    with the would-be decision and fired-field count attached."""
    from record_linkage_ldu_spark.config import (
        SCORE_THRESHOLDS,
        SELF_SCORE_FIELDS,
    )
    from record_linkage_ldu_spark.operators.rules import review_queue

    base = {f: 0.0 for f in SELF_SCORE_FIELDS}
    rows = [
        {"doc_id_1": "a", "doc_id_2": "b", "score": 4.8, **base,
         "email": 0.95},                     # margin 0.1
        {"doc_id_1": "c", "doc_id_2": "d", "score": 5.3, **base},  # 0.4
        {"doc_id_1": "e", "doc_id_2": "f", "score": 9.0, **base},  # out
        {"doc_id_1": "g", "doc_id_2": "h", "score": 4.9, **base},  # 0.0
    ]
    out = review_queue(spark.createDataFrame(rows), k=10).collect()
    assert [r["doc_id_1"] for r in out] == ["g", "a", "c"]
    assert [r["margin"] for r in out] == [0.0, 0.1, 0.4]
    assert out[0]["decided"] is True and out[1]["decided"] is False
    # email cleared its 0.5 threshold; zero-threshold fields always fire
    always_on = sum(
        1 for f in SELF_SCORE_FIELDS if SCORE_THRESHOLDS[f] <= 0.0
    )
    assert out[1]["n_fired"] == always_on + 1
    assert out[2]["n_fired"] == always_on  # all-zero sims row
    assert review_queue(spark.createDataFrame(rows), k=2).count() == 2


def test_rule_precision_prices_each_mask(spark):
    """Hand-computed per-mask precision; 'any' is the union, not the
    sum; zero-fired masks report precision 0."""
    from record_linkage_ldu_spark.config import SELF_SCORE_FIELDS
    from record_linkage_ldu_spark.operators.rules import rule_precision

    base = {f: 0.0 for f in SELF_SCORE_FIELDS}
    base["fax"] = 0.0
    rows = [
        # mask0 (score>=4.9) fires, labeled true
        {"doc_id_1": "a", "doc_id_2": "b", "score": 5.0, **base},
        # mask0 fires, NOT labeled -> fp
        {"doc_id_1": "c", "doc_id_2": "d", "score": 5.0, **base},
        # mask3 (exact email) fires, labeled true; also below 4.9
        {"doc_id_1": "e", "doc_id_2": "f", "score": 1.0, **{**base, "email": 1.0}},
        # nothing fires
        {"doc_id_1": "g", "doc_id_2": "h", "score": 1.0, **base},
    ]
    labeled = spark.createDataFrame(
        [("a", "b", True), ("e", "f", True), ("c", "d", False)],
        "doc_id_1 string, doc_id_2 string, is_match boolean",
    )
    out = {
        r["rule"]: r
        for r in rule_precision(
            spark.createDataFrame(rows), labeled
        ).collect()
    }
    assert out["mask0"]["n_fired"] == 2 and out["mask0"]["n_true"] == 1
    assert out["mask0"]["precision"] == 0.5
    assert out["mask3"]["n_fired"] == 1 and out["mask3"]["precision"] == 1.0
    assert out["mask2"]["n_fired"] == 0 and out["mask2"]["precision"] == 0.0
    assert out["any"]["n_fired"] == 3 and out["any"]["n_true"] == 2
