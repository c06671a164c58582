"""Per-row invariant (BASELINE.json input_hint): the span sequence
(kind, text, media_ref, order) of every document survives the pipeline
unchanged — derived fields live in new columns only."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from record_linkage_ldu_spark.operators.spans import (
    extract_fields,
    normalize_fields,
    span_fingerprint,
)
from record_linkage_ldu_spark.plans.linkage import records_view


def test_span_sequence_survives_normalization(spark, tiny_gen):
    docs = tiny_gen.select("doc_id", "spans")
    before = docs.select("doc_id", span_fingerprint().alias("fp"))
    after_df = normalize_fields(extract_fields(docs))
    after = after_df.select("doc_id", span_fingerprint().alias("fp"))
    diff = (
        before.alias("b")
        .join(after.alias("a"), "doc_id")
        .where(F.col("b.fp") != F.col("a.fp"))
        .count()
    )
    assert diff == 0
    assert after_df.count() == docs.count()


def test_records_view_keeps_spans_column(spark, tiny_gen):
    rec = records_view(tiny_gen.select("doc_id", "spans"))
    assert "spans" in rec.columns
    # byte-identical spans via exceptAll on exploded struct fields
    orig = tiny_gen.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    kept = rec.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    assert orig.exceptAll(kept).count() == 0
    assert kept.exceptAll(orig).count() == 0


def test_media_spans_inert_but_preserved(spark, tiny_gen):
    docs = tiny_gen.select("doc_id", "spans")
    n_media_before = docs.select(
        F.explode("spans").alias("s")
    ).where("s.kind = 'media'").count()
    rec = records_view(docs)
    n_media_after = rec.select(
        F.explode("spans").alias("s")
    ).where("s.kind = 'media'").count()
    assert n_media_before == n_media_after > 0


def test_profile_fields_hand_computed(spark):
    """Fill rate counts '' and NULL as missing; distinct/length stats
    cover only filled values."""
    from record_linkage_ldu_spark.operators.spans import profile_fields

    records = spark.createDataFrame(
        [("d1", "alice", "a@x.com"), ("d2", "", None),
         ("d3", "bob", "a@x.com")],
        "doc_id string, name string, email string",
    )
    out = {r["field"]: r for r in profile_fields(records, ("name", "email")).collect()}
    nm = out["name"]
    assert (nm["n_rows"], nm["n_filled"], nm["n_distinct"]) == (3, 2, 2)
    assert nm["fill_rate"] == round(2 / 3, 6)
    assert (nm["avg_len"], nm["max_len"]) == (4.0, 5)
    em = out["email"]
    assert (em["n_filled"], em["n_distinct"], em["avg_len"], em["max_len"]) == (2, 1, 7.0, 7)


def test_benford_profile_hand_computed(spark):
    """First-digit screen: counts/shares per digit, absent digits kept
    at n=0 and contributing to TVD, and a fabricated constant-digit
    field scores (much) worse than a Benford-faithful one."""
    from record_linkage_ldu_spark.operators.spans import benford_profile

    # 'good': first digits drawn ~Benford (many 1s, few 9s);
    # 'bad': everything starts with 5 (fabricated placeholder)
    rows = []
    benfordish = [1] * 30 + [2] * 18 + [3] * 12 + [4] * 10 + [5] * 8 + [
        6
    ] * 7 + [7] * 6 + [8] * 5 + [9] * 4
    for i, d in enumerate(benfordish):
        rows.append((f"{d}{i:03d}", f"5550{i:03d}"))
    df = spark.createDataFrame(rows, "good string, bad string")
    out = benford_profile(df, ("good", "bad"))
    got = {(r["field"], r["digit"]): r for r in out.collect()}
    assert len(got) == 18  # 2 fields x digits 1-9, zeros kept
    # 'bad' puts all mass on 5 — every other digit present with n=0
    assert got[("bad", "5")]["share"] == 1.0
    assert got[("bad", "1")]["n"] == 0
    tvd_bad = got[("bad", "5")]["tvd"]
    tvd_good = got[("good", "1")]["tvd"]
    assert tvd_bad > 0.9 > tvd_good > 0.0
    # leading zeros are skipped to the first significant digit
    df2 = spark.createDataFrame([("007",), ("0-0-9",)], "v string")
    got2 = {
        r["digit"]: r["n"]
        for r in benford_profile(df2, ("v",)).collect()
    }
    assert got2["7"] == 1 and got2["9"] == 1
    # a field with NO digit-bearing values reports NULL share/tvd
    # (review-caught: 0.0 shares made an empty field score a
    # mid-range TVD of 0.5, masquerading as moderately fabricated)
    df3 = spark.createDataFrame([("abc",), (None,)], "v string")
    empty_rows = benford_profile(df3, ("v",)).collect()
    assert all(r["n"] == 0 for r in empty_rows)
    assert all(r["share"] is None and r["tvd"] is None for r in empty_rows)


def test_profile_dependencies(spark):
    from record_linkage_ldu_spark.operators.spans import profile_dependencies

    rec = spark.createDataFrame(
        [
            Row(zip="1000", city="a", state="x"),
            Row(zip="1000", city="a", state="x"),
            Row(zip="2000", city="b", state="x"),
            Row(zip="2000", city="c", state="x"),   # zip->city violated
            Row(zip="2000", city="c", state="x"),
            Row(zip="", city="d", state="y"),       # empty lhs excluded
            Row(zip="3000", city=None, state="y"),  # null rhs excluded
        ]
    )
    out = {
        r["dep"]: r
        for r in profile_dependencies(
            rec, (("zip", "city"), ("city", "state"))
        ).collect()
    }
    zc = out["zip->city"]
    assert (zc["n_rows"], zc["n_groups"], zc["n_violating_groups"]) == (5, 2, 1)
    # g3: keep max-consensus per group -> 2 (zip=1000) + 2 (city=c) of 5
    assert zc["g3_strength"] == pytest.approx(4 / 5)
    assert not zc["holds"]
    cs = out["city->state"]
    assert cs["holds"] and cs["g3_strength"] == 1.0
