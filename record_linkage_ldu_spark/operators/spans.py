"""Span codec: interleaved-document table <-> wide field columns.

Input table shape (BASELINE.json input_hint / FIXTURES.md §1):

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Each reference "record column" (pre_processing.py:134-140) is a span
with ``kind`` = field name; media spans are inert to linkage.  The
codec derives wide columns *alongside* ``spans`` — the spans array is
never rewritten, which is what guarantees the per-row span-sequence
invariant (kind, text, media_ref, order).

All extraction is native Catalyst expressions (filter/transform over
the array) — a single narrow projection, no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..config import (
    FIELD_NORMALIZER,
    SOURCE_KIND,
    SPAN_FIELD_KINDS,
)
from ..functions.normalizers import NORMALIZERS
from ..session import built_once, sql_string

SPAN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", SPAN_SCHEMA),
    ]
)


def span_text(kind: str) -> Column:
    """Text of the first span of ``kind`` (fields appear at most once
    per document); NULL when the field is absent — which downstream
    scoring treats as score 0 (compare_ldu_hw.py:93-95).

    The lambda ``F.filter`` form is the measured-fastest extraction:
    the codegen-capable alternative (``array_position`` over
    ``spans.kind`` + ``element_at`` over ``spans.text``) materializes
    two side arrays per field with no subexpression sharing in the
    interpreted regime this projection runs in (the normalizers'
    stopword HOF keeps it out of whole-stage codegen anyway) and
    measured 1.8x slower at 528k docs.  Built from one SQL string: the
    same tree as ``F.try_element_at(F.filter(F.col("spans"), lambda s:
    s["kind"] == F.lit(kind)), F.lit(1))["text"]`` in one py4j
    round-trip instead of ~75."""
    return F.expr(
        f"try_element_at(filter(spans, s -> s.kind = {sql_string(kind)}),"
        " 1).text"
    )


def extract_fields(
    documents: DataFrame, kinds: tuple[str, ...] = SPAN_FIELD_KINDS
) -> DataFrame:
    """documents -> documents + one raw column per field kind +
    ``source``.  Narrow projection; spans carried through untouched."""

    def build():
        cols = [F.col("doc_id"), F.col("spans")]
        cols.append(span_text(SOURCE_KIND).alias("source"))
        for kind in kinds:
            cols.append(span_text(kind).alias(kind))
        return cols

    return documents.select(*built_once(("extract_fields", kinds), build))


def normalize_fields(
    wide: DataFrame,
    kinds: tuple[str, ...] = SPAN_FIELD_KINDS,
    unicode_names: bool = False,
) -> DataFrame:
    """Apply the per-field normalizer chains (pre_processing.py:158-213)
    to the wide columns in place.  Null in -> null out (normalizer
    chains are null-propagating, matching the reference's pd.notnull
    guards).  Still one narrow projection.

    ``unicode_names=True`` routes the name-family normalizer through
    the any-script token strip (``normalize_name(unicode_letters=
    True)``) so CJK/Cyrillic/Greek names survive normalization —
    under the reference-faithful default they are deleted outright
    and lose every name-derived blocking key and similarity signal
    (VERDICT r4 item 6)."""
    from ..functions.normalizers import normalize_name as _nn

    def build():
        exprs = {}
        for kind in kinds:
            norm = FIELD_NORMALIZER.get(kind)
            if norm is None:
                continue
            if unicode_names and norm == "name":
                exprs[kind] = _nn(F.col(kind), unicode_letters=True)
            else:
                exprs[kind] = NORMALIZERS[norm](F.col(kind))
        return exprs

    return wide.withColumns(
        built_once(("normalize_fields", kinds, unicode_names), build)
    )


def span_fingerprint(spans_col: Column = None) -> Column:
    """Deterministic fingerprint of the span sequence (kind, text,
    media_ref, order) — used by tests and stage metrics to assert the
    per-row invariant survives the pipeline."""
    c = spans_col if spans_col is not None else F.col("spans")
    ordered = F.array_sort(
        F.transform(
            c,
            lambda s: F.concat_ws(
                "",
                F.lpad(s["offset"].cast("string"), 10, "0"),
                F.coalesce(s["kind"], F.lit("\x00")),
                F.coalesce(s["text"], F.lit("\x00")),
                F.coalesce(s["media_ref"], F.lit("\x00")),
            ),
        )
    )
    return F.md5(F.array_join(ordered, ""))


def profile_fields(records: DataFrame, fields: tuple[str, ...]) -> DataFrame:
    """Pre-linkage data profiling: per field, fill rate / cardinality
    / length stats — the "data understanding" pass the reference does
    by eyeballing dataframes in a notebook (README.md:85-105 describes
    the two datasets' missingness informally; this is the measured
    table).  A field with a low fill rate is a weak blocking/scoring
    signal; a field whose n_distinct approaches n_filled is an
    identifier; a near-constant field (tiny n_distinct) carries no
    discriminating power — the three facts that drive blocking-key
    and score-weight choices.

    Output: one row per field —
    (field, n_rows, n_filled, fill_rate, n_distinct, avg_len, max_len)
    with empty string counted as missing.  Scale shape: one melt
    explode (narrow) + one groupBy(field) with map-side partial
    aggregation; distinct counts via count_distinct per field group.
    """
    melted = records.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"),
                        F.col(f).cast("string").alias("value"),
                    )
                    for f in fields
                ]
            )
        ).alias("fv")
    ).select(F.col("fv.field").alias("field"), F.col("fv.value").alias("value"))
    filled = F.col("value").isNotNull() & (F.col("value") != "")
    return (
        melted.groupBy("field")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(filled.cast("long")).alias("n_filled"),
            F.count_distinct(
                F.when(filled, F.col("value"))
            ).cast("long").alias("n_distinct"),
            F.round(
                F.avg(F.when(filled, F.length("value"))), 6
            ).alias("avg_len"),
            F.max(F.when(filled, F.length("value"))).cast("int").alias(
                "max_len"
            ),
        )
        .select(
            "field",
            "n_rows",
            "n_filled",
            F.round(F.col("n_filled") / F.col("n_rows"), 6).alias(
                "fill_rate"
            ),
            "n_distinct",
            "avg_len",
            "max_len",
        )
    )


def profile_dependencies(
    records: DataFrame,
    deps: tuple[tuple[str, str], ...],
) -> DataFrame:
    """Functional-dependency profiling: for each candidate dependency
    lhs -> rhs, measure how close the data comes to satisfying it.
    profile_fields characterizes single columns; this is the pairwise
    complement — zip -> city holding at 0.99 says zip is a safe
    blocking surrogate for city; email -> name badly violated says
    shared emails span people (households), so an email-equality rule
    needs a name guard.  ``g3_strength`` is the standard g3 measure:
    the fraction of rows kept by the largest-consensus rhs per lhs
    group (1.0 = FD holds exactly).

    Rows with a missing (null/empty) lhs or rhs are excluded — an FD
    is a statement about present values.  Scale shape: one melt
    explode (narrow) + a three-level aggregation ladder, each level
    strictly smaller: (dep, lhs, rhs) counts -> (dep, lhs) group
    stats -> (dep) rollup.  No joins, no windows; partial aggregation
    does the heavy lifting map-side.

    Output: one row per dependency —
    (dep, n_rows, n_groups, n_violating_groups, g3_strength, holds).
    """
    melted = records.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{l}->{r}").alias("dep"),
                        F.col(l).cast("string").alias("lhs"),
                        F.col(r).cast("string").alias("rhs"),
                    )
                    for l, r in deps
                ]
            )
        ).alias("d")
    ).select("d.dep", "d.lhs", "d.rhs")
    filled = (
        F.col("lhs").isNotNull() & (F.col("lhs") != "")
        & F.col("rhs").isNotNull() & (F.col("rhs") != "")
    )
    triple = (
        melted.where(filled)
        .groupBy("dep", "lhs", "rhs")
        .agg(F.count("*").alias("cnt"))
    )
    groups = triple.groupBy("dep", "lhs").agg(
        F.sum("cnt").alias("grp_rows"),
        F.max("cnt").alias("keep_rows"),
        F.count("*").alias("n_rhs"),
    )
    return (
        groups.groupBy("dep")
        .agg(
            F.sum("grp_rows").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_groups"),
            F.sum((F.col("n_rhs") > 1).cast("long"))
            .cast("long")
            .alias("n_violating_groups"),
            F.round(F.sum("keep_rows") / F.sum("grp_rows"), 6).alias(
                "g3_strength"
            ),
        )
        .select(
            "dep",
            "n_rows",
            "n_groups",
            "n_violating_groups",
            "g3_strength",
            (F.col("n_violating_groups") == 0).alias("holds"),
        )
    )


def sql_profile_dependencies(
    records_sql: str,
    deps: tuple[tuple[str, str], ...],
) -> str:
    """DuckDB twin of :func:`profile_dependencies` — the melt becomes
    a UNION ALL over the dependency list (same filled-values filter,
    same three-level ladder).  ``melted`` is read once per level ->
    MATERIALIZED."""
    arms = "\n            UNION ALL\n".join(
        f"""            SELECT '{l}->{r}' AS dep,
                   CAST({l} AS VARCHAR) AS lhs,
                   CAST({r} AS VARCHAR) AS rhs
            FROM rec"""
        for l, r in deps
    )
    return f"""
        WITH rec AS MATERIALIZED ({records_sql}),
        melted AS MATERIALIZED (
{arms}
        ),
        triple AS (
            SELECT dep, lhs, rhs, count(*) AS cnt
            FROM melted
            WHERE lhs IS NOT NULL AND lhs != ''
              AND rhs IS NOT NULL AND rhs != ''
            GROUP BY 1, 2, 3
        ),
        groups AS (
            SELECT dep, lhs,
                   sum(cnt) AS grp_rows,
                   max(cnt) AS keep_rows,
                   count(*) AS n_rhs
            FROM triple GROUP BY 1, 2
        )
        SELECT dep,
               CAST(sum(grp_rows) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(coalesce(sum(CASE WHEN n_rhs > 1 THEN 1 END), 0)
                    AS BIGINT) AS n_violating_groups,
               round(CAST(sum(keep_rows) AS DOUBLE) / sum(grp_rows), 6)
                   AS g3_strength,
               coalesce(sum(CASE WHEN n_rhs > 1 THEN 1 END), 0) = 0
                   AS holds
        FROM groups
        GROUP BY 1
    """


# Benford first-digit expectation, injected as LITERALS in both
# engines (log10(1 + 1/d) precomputed here — no cross-engine libm in
# the query plan, so the doubles agree by construction)
import math as _math

BENFORD_EXPECTED = {
    str(d): round(_math.log10(1.0 + 1.0 / d), 9) for d in range(1, 10)
}


def benford_profile(
    records: DataFrame, fields: tuple[str, ...]
) -> DataFrame:
    """First-significant-digit distribution per numeric-ish field vs
    Benford's law, with the per-field total-variation distance — the
    fabricated-data screen from the fraud/data-quality literature.
    Read it as a DRIFT metric, not an absolute verdict: assigned
    numbers (NANP phones never start with 1, zip codes are
    geographic) sit at a stable nonzero TVD when healthy — the signal
    is a field whose TVD MOVES between snapshots (its generating
    process changed, e.g. a placeholder flood), which is why the full
    per-digit distribution ships alongside the scalar.

    Output: one row per (field, digit 1-9) — ``n``, ``share``,
    ``expected``, ``tvd`` (the field's TVD repeated on each of its
    rows; absent digits carry n=0 and still contribute to TVD; a
    field with NO digit-bearing values gets NULL share/tvd rather
    than masquerading as a mid-range score).
    Scale shape: one melt projection + one (field, digit) groupBy
    (81 cells max), a literal 9x|fields| grid join, two tiny windows.
    """
    spark = records.sparkSession
    first = lambda c: F.regexp_extract(  # noqa: E731
        F.regexp_replace(c, "[^0-9]", ""), "^0*([1-9])", 1
    )
    melted = records.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"),
                        first(F.col(f)).alias("digit"),
                    )
                    for f in fields
                ]
            )
        ).alias("_m")
    ).select("_m.field", "_m.digit")
    counts = (
        melted.where(F.col("digit") != "")
        .groupBy("field", "digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    grid = spark.createDataFrame(
        [(f, str(d)) for f in fields for d in range(1, 10)],
        "field string, digit string",
    )
    expected = F.lit(None).cast("double")
    for d, e in sorted(BENFORD_EXPECTED.items()):
        expected = F.when(F.col("digit") == d, F.lit(e)).otherwise(expected)
    w = Window.partitionBy("field")
    full = (
        grid.join(counts, ["field", "digit"], "left")
        .select(
            "field",
            "digit",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        )
        .withColumn("_tot", F.sum("n").over(w))
        .withColumn(
            "share",
            F.when(F.col("_tot") > 0, F.col("n") / F.col("_tot")).otherwise(
                F.lit(None).cast("double")
            ),
        )
        .withColumn("expected", expected)
    )
    tvd = F.sum(F.abs(F.col("share") - F.col("expected"))).over(w) / 2
    return full.select(
        "field",
        "digit",
        "n",
        F.round("share", 6).alias("share"),
        F.round("expected", 6).alias("expected"),
        F.round(tvd, 6).alias("tvd"),
    )


def sql_benford_profile(
    records_select: str, fields: tuple[str, ...]
) -> str:
    """DuckDB twin of :func:`benford_profile` (same literal expected
    values, same melt/grid/window shapes)."""
    melts = "\n            UNION ALL\n            ".join(
        f"SELECT '{f}' AS field, "
        f"regexp_extract(regexp_replace(\"{f}\", '[^0-9]', '', 'g'), "
        f"'^0*([1-9])', 1) AS digit FROM recs"
        for f in fields
    )
    grid = ", ".join(
        f"('{f}', '{d}')" for f in fields for d in range(1, 10)
    )
    expected = "CAST(NULL AS DOUBLE)"
    for d, e in sorted(BENFORD_EXPECTED.items()):
        expected = (
            f"CASE WHEN digit = '{d}' THEN {e!r} ELSE {expected} END"
        )
    return f"""
        WITH recs AS MATERIALIZED ({records_select}),
        melted AS (
            {melts}
        ),
        counts AS (
            SELECT field, digit, CAST(count(*) AS BIGINT) AS n
            FROM melted WHERE digit <> '' GROUP BY field, digit
        ),
        grid(field, digit) AS (VALUES {grid}),
        full_grid AS (
            SELECT g.field, g.digit, coalesce(c.n, 0) AS n
            FROM grid g LEFT JOIN counts c
              ON g.field = c.field AND g.digit = c.digit
        ),
        shared AS (
            SELECT field, digit, CAST(n AS BIGINT) AS n,
                   CASE WHEN sum(n) OVER (PARTITION BY field) > 0
                        THEN n / sum(n) OVER (PARTITION BY field)
                        ELSE CAST(NULL AS DOUBLE) END AS share,
                   {expected} AS expected
            FROM full_grid
        )
        SELECT field, digit, n,
               round(share, 6) AS share,
               round(expected, 6) AS expected,
               round(sum(abs(share - expected))
                     OVER (PARTITION BY field) / 2, 6) AS tvd
        FROM shared
    """
